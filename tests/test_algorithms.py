"""PageRank (graph/algorithms.py): ranking correctness on a known
topology, determinism across partitioning, and the lineage-truncating
materialised-round path."""

import pyspark.sql.functions as F

from zef_spark.graph.algorithms import pagerank


def _star(spark):
    # hub 1 receives from 2..5; 1 links back to 2 only
    edges = [(i, 1) for i in range(2, 6)] + [(1, 2)]
    return spark.createDataFrame(edges, "src long, dst long")


def test_hub_ranks_highest(spark):
    r = {row.id: row.rank
         for row in pagerank(_star(spark), n_iter=5).collect()}
    assert r[1] == max(r.values())
    # 2 gets the hub's full rank; 3..5 get teleport only
    assert r[2] > r[3] == r[4] == r[5]


def test_ranks_partition_invariant(spark):
    e = _star(spark)
    a = sorted(map(tuple, pagerank(e.repartition(1), n_iter=4).collect()))
    b = sorted(map(tuple, pagerank(e.repartition(13), n_iter=4).collect()))
    assert a == b


def _pagerank_replay(edges, n_iter, damping_milli=850, digits=6):
    """Driver-side replay of pagerank's int64 picorank recurrence —
    one plain Python loop, no lineage and no checkpoint anywhere."""
    mass, den = 10 ** 12, 1000
    edges = sorted(set(edges))
    nodes = sorted({v for e in edges for v in e})
    deg = {v: sum(1 for s, _ in edges if s == v) for v in nodes}
    rank = {v: mass // len(nodes) for v in nodes}
    tele = (den - damping_milli) * (mass // den) // len(nodes)
    for _ in range(n_iter):
        in_sum = dict.fromkeys(nodes, 0)
        for s, d in edges:
            in_sum[d] += rank[s] // deg[s]
        rank = {v: tele + damping_milli * in_sum[v] // den
                for v in nodes}
    shift = 10 ** (12 - digits)
    return sorted((v, float((r + shift // 2) // shift) / 10 ** digits)
                  for v, r in rank.items())


def test_checkpoint_path_same_result(spark):
    # every round is materialised by distkit.fixpoint: the cut lineage
    # must never change a value, so the result equals a replay of the
    # same recurrence that never checkpoints
    edges = [(i, 1) for i in range(2, 6)] + [(1, 2)]
    e = _star(spark)
    for n_iter in (1, 4):
        got = sorted(map(tuple, pagerank(e, n_iter=n_iter).collect()))
        assert got == _pagerank_replay(edges, n_iter)


def test_duplicate_edges_count_once(spark):
    e1 = _star(spark)
    e2 = e1.unionByName(e1)  # duplicated edge list
    a = sorted(map(tuple, pagerank(e1, n_iter=3).collect()))
    b = sorted(map(tuple, pagerank(e2, n_iter=3).collect()))
    assert a == b


def test_connected_components(spark):
    from zef_spark.graph.algorithms import connected_components
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], "src long, dst long")
    got = {r.id: r.component
           for r in connected_components(edges).collect()}
    assert got[1] == got[2] == got[3] == 1
    assert got[10] == got[11] == 10
    assert 20 not in got  # self-loop only: no real edge


def test_degrees(spark):
    from zef_spark.graph.algorithms import degrees
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (3, 1), (1, 2)], "src long, dst long")
    got = {r.id: (r.out_deg, r.in_deg, r.deg)
           for r in degrees(edges).collect()}
    assert got[1] == (2, 1, 3)   # duplicate edge counts once
    assert got[2] == (0, 1, 1)
    assert got[3] == (1, 1, 2)
