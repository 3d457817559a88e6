"""The committed fixture tables the workloads read.

``data/sf<scale>/`` holds one parquet file per table: a copy of the
engine's deterministic TPC-H-ish test fixture (``region nation customer
supplier part orders lineitem events documents embeddings``, data seed
42), the tables the ``bench.py`` headline runs on. ``digests.json``
records each file's size; a run fails loudly when a table is missing
or its size differs, since the oracle digests would no longer apply.
"""

from __future__ import annotations

import os

HERE = os.path.dirname(os.path.abspath(__file__))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def fixture_dir(sf: float) -> str:
    return os.path.join(HERE, "data", f"sf{sf:g}")


def check(sf: float, files: dict) -> str:
    """Return the fixture directory at ``sf`` after checking its tables
    against ``files`` (name -> size in bytes, from ``digests.json``)."""
    path = fixture_dir(sf)
    if not files:
        raise RuntimeError(f"digests.json lists no tables at sf{sf:g}; "
                           "run perfbench/make_digests.py")
    for name, size in sorted(files.items()):
        p = os.path.join(path, name)
        if not os.path.isfile(p):
            raise RuntimeError(f"fixture table {p} is missing")
        if os.path.getsize(p) != size:
            raise RuntimeError(f"fixture table {p} has "
                               f"{os.path.getsize(p)} bytes, digests.json"
                               f" expects {size}")
    return path
