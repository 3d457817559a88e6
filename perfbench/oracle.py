"""Order-insensitive result digests for the OLAP output check.

A result is normalised by the repository's strict oracle harness,
``tools.check_oracle.normalize`` (columns sorted by name, kind-prefixed
values with raw float repr, rows sorted), and the digest is a SHA-256
over the column names and that form. A Spark result and a DuckDB result
therefore agree exactly when the strict harness would call them equal.

``digests.json`` holds, per scale, the size of every fixture table and
the digest of each headline query's DuckDB oracle
(``__spark_entry__.ORACLE[name]``) over those tables;
``python3 perfbench/make_digests.py`` rewrites it.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
DIGESTS = os.path.join(HERE, "digests.json")
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


def digest(rows, cols) -> str:
    from tools import check_oracle
    if not check_oracle.STRICT_REPR:
        raise RuntimeError("unset CHECK_LENIENT: the digests are strict")
    normalize = check_oracle.normalize
    blob = json.dumps([sorted(cols), normalize(rows, list(cols))],
                      ensure_ascii=False)
    return hashlib.sha256(blob.encode()).hexdigest()


def load(scale_key: str) -> dict:
    with open(DIGESTS) as f:
        return json.load(f).get(scale_key, {})
