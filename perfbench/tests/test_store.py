"""Segment-chain depth read from a store's tx log, and the fixture
table check."""

import json
import os

import pytest

import fixture
import oracle  # noqa: F401  (puts the repository root on sys.path)
from txn import chain_depth


def _segment(store, tx, checkpoint=False):
    seg = os.path.join(store, "txlog", str(tx))
    os.makedirs(seg)
    if checkpoint:
        with open(os.path.join(seg, "checkpoint.json"), "w") as f:
            json.dump({"base": f"base-{tx}"}, f)


def test_chain_depth_counts_segments_after_newest_checkpoint(tmp_path):
    store = str(tmp_path)
    os.makedirs(os.path.join(store, "txlog"))
    assert chain_depth(store) == 0
    for tx in (2, 3, 4):
        _segment(store, tx)
    assert chain_depth(store) == 3
    _segment(store, 5, checkpoint=True)
    assert chain_depth(store) == 0
    _segment(store, 6)
    _segment(store, 10)                   # numeric, not lexical, order
    assert chain_depth(store) == 2


def test_fixture_check_rejects_missing_or_resized_tables(tmp_path,
                                                         monkeypatch):
    monkeypatch.setattr(fixture, "HERE", str(tmp_path))
    sf_dir = tmp_path / "data" / "sf0.1"
    sf_dir.mkdir(parents=True)
    (sf_dir / "region.parquet").write_bytes(b"12345")
    assert fixture.check(0.1, {"region.parquet": 5}) == str(sf_dir)
    with pytest.raises(RuntimeError, match="expects 6"):
        fixture.check(0.1, {"region.parquet": 6})
    with pytest.raises(RuntimeError, match="missing"):
        fixture.check(0.1, {"nation.parquet": 1})
    with pytest.raises(RuntimeError, match="no tables"):
        fixture.check(0.1, {})


def test_committed_fixture_matches_digests():
    files = oracle.load("sf0.1")["files"]
    assert sorted(files) == sorted(f"{t}.parquet" for t in fixture.TABLES)
    fixture.check(0.1, files)
