"""Wish commits through a GraphStore (graph/sync.py): a segment is
transact's own delta, so a fresh handle rebuilds the committing
handle's head exactly, and a commit runs only the Spark jobs its
wishes need to read the head."""

import datetime
import os
import uuid

from zef_spark import ET, RT
from zef_spark.graph.delta import (Assign, E, Merge, R, Tag, Terminate,
                                   Untag, empty_graph, transact)
from zef_spark.graph.sync import GraphStore, _seg_dirs
from zef_spark.tokens import EN
from zef_spark.units import QuantityFloat, QuantityInt
from zef_spark.user_value_type import UserValueType

_TABLES = ("nodes", "edges", "attr_values", "txs", "tags")


def _store(spark, tmp_path, **people):
    g, rc = transact(empty_graph(spark), [
        E(ET.Person, name, fields={"age": age})
        for name, age in people.items()])
    GraphStore.init(g, str(tmp_path / "store"))
    return GraphStore(spark, str(tmp_path / "store")), rc


def _rows(g, table):
    # by column name: a loaded base orders its partition column last
    return sorted(repr(sorted(r.asDict(recursive=True).items()))
                  for r in getattr(g, table).collect())


def test_fresh_handle_rebuilds_the_committed_head(spark, tmp_path):
    store, rc = _store(spark, tmp_path, a=1, b=2, c=3)
    a, b, c = rc["a"], rc["b"], rc["c"]
    Mail = UserValueType(f"Mail{uuid.uuid4().hex}", str)
    store.commit([E(ET.Item, "every-vrt", fields={
        "Int": 7, "Float": 2.5, "Bool": True, "String": "s",
        "Time": datetime.datetime(2021, 3, 4, 5, 6, 7, 890123),
        "QInt": QuantityInt(3, "meters"),
        "QFloat": QuantityFloat(1.5, "seconds"),
        "Enum": EN.Color.red, "Serialized": Mail("x@y.z")})])
    _, r2 = store.commit([R(a, RT.Knows, b, name="k")])
    # relation-of-relation: an edge whose source is the edge k
    store.commit([R(r2["k"], RT.Cites, c, name="meta")])
    store.commit([Terminate(a)])          # cascades a -> k -> meta
    store.commit([E(ET.Person, "ghost"), Terminate("ghost")])
    store.commit([Assign(b, "age", 20), Assign(b, "age", 21)])
    store.commit([Merge("c", fields={"age": 30, "nick": "cc"})])
    store.commit([Tag("t", b)])
    store.commit([Tag("t", c)])
    head, _ = store.commit([Untag("t")])

    fresh = GraphStore(spark, store.path).refresh()
    assert fresh.max_tx() == head.max_tx()
    for table in _TABLES:
        assert _rows(fresh, table) == _rows(head, table), table
    # the cascade closed a's relation and the meta-edge on it at a's
    # termination tx, and the ghost never had a visible interval
    closed = {e.uid: e.valid_to_tx for e in fresh.edges.collect()}
    assert closed["k"] == closed["meta"] is not None
    ghost = [n for n in fresh.nodes.collect() if n.uid == "ghost"][0]
    assert ghost.valid_from_tx == ghost.valid_to_tx
    ages = dict(fresh.now().all(ET.Person).field("age").collect())
    assert ages == {b: 21, c: 30}
    # a wish segment holds one parquet file per table and nothing else
    for _, seg in _seg_dirs(store.path):
        for table in os.listdir(seg):
            if table != "idmax.json":
                assert os.listdir(os.path.join(seg, table)) == \
                    ["part-00000.parquet"]


def _commit_jobs(spark, store, wishes) -> int:
    sc = spark.sparkContext
    group = f"commit-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "jobs of one commit")
    try:
        store.commit(wishes)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_jobs_per_commit(spark, tmp_path):
    store, rc = _store(spark, tmp_path, a=1, b=2, c=3)
    a, b, c = rc["a"], rc["b"], rc["c"]
    store.commit([E(ET.Person, "warm")])   # opens the base
    jobs = {
        "E": _commit_jobs(spark, store,
                          [E(ET.Person, "d", fields={"age": 4})]),
        "R": _commit_jobs(spark, store, [R(a, RT.Knows, b)]),
        "Tag": _commit_jobs(spark, store, [Tag("t", c)]),
        # closes the tag's open row
        "re-Tag": _commit_jobs(spark, store, [Tag("t", b)]),
        "Assign": _commit_jobs(spark, store, [Assign(b, "age", 5)]),
        # a has a field and a relation: a two-round cascade
        "Terminate": _commit_jobs(spark, store, [Terminate(a)]),
    }
    assert jobs["E"] == 0 and jobs["R"] == 0, jobs
    assert jobs["Tag"] <= 1 and jobs["re-Tag"] <= 1, jobs
    assert jobs["Assign"] <= 2, jobs
    assert jobs["Terminate"] <= 3, jobs
