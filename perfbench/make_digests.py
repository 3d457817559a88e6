"""Rewrite ``digests.json``: the size of every fixture table and the
DuckDB oracle digest of every headline query over those tables.

Usage (from the repository root):
    python3 perfbench/make_digests.py [scale ...]     # default: 0.1
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import oracle  # noqa: E402  (puts the repository root on sys.path)
from olap import HEADLINE  # noqa: E402
from fixture import TABLES, fixture_dir  # noqa: E402


def main(argv: list[str]) -> int:
    import __spark_entry__ as entry
    from tools.check_oracle import duck_run
    # DuckDB spills under the benchmark's scratch directory
    os.environ.setdefault("CHECK_DUCK_TMP",
                          os.path.join(HERE, ".data", "duck_spill"))
    scales = [float(a) for a in argv] or [0.1]
    try:
        with open(oracle.DIGESTS) as f:
            out = json.load(f)
    except FileNotFoundError:
        out = {}
    for sf in scales:
        sf_dir = fixture_dir(sf)
        files = {f"{t}.parquet": os.path.getsize(
            os.path.join(sf_dir, f"{t}.parquet")) for t in TABLES}
        queries = {}
        for name in HEADLINE:
            t0 = time.perf_counter()
            ddf = duck_run(sf_dir, entry.ORACLE[name])
            rows = [tuple(r) for r in ddf.itertuples(index=False)]
            h = oracle.digest(rows, list(ddf.columns))
            print(f"sf{sf:g} {name:32s} {len(rows):7d} rows "
                  f"{time.perf_counter() - t0:6.1f}s", flush=True)
            queries[name] = {"rows": len(rows), "digest": h}
        out[f"sf{sf:g}"] = {"files": files, "queries": queries}
    with open(oracle.DIGESTS, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
