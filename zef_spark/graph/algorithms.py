"""Iterative graph analytics over edge lists — the algorithm tier on
top of the traversal ops (graph/ops.py hops, NodeSet.gather closure,
pipeline/corpus.dup_clusters components). Reference zef stops at
closure (`gather`); ranking/centrality is a Spark-native extra that a
graph-engine user expects.

``pagerank`` is the classic bulk-synchronous shape: each iteration is
ONE shuffle of contributions keyed by destination over the static
edge table. Ranks are exact integers (see its docstring), so a
fixed-iteration run is bit-reproducible and replayable in another
engine (the `p_pagerank` oracle unrolls the same iterations in
DuckDB).

100 TB notes: the edge table never moves — only the rank vector
(O(nodes)) shuffles per iteration; out-degrees are computed once.
Every iterative algorithm here runs on `pipeline.distkit.fixpoint`,
which owns per-round lineage cuts and the convergence probe (the one
place to switch to a reliable `checkpoint()` on a real cluster).
Dangling mass: simplified PageRank (rank = (1-d)/N + d·Σ in-contribs)
— dangling-node mass decays rather than redistributes, the common
choice for link-spam-robust relevance and the one that keeps the
per-iteration plan a single aggregation (no extra global sum).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..pipeline.distkit import fixpoint, materialise

#: scale of the intermediate decimal rank representation. 12 decimal
#: digits of a rank in [0, 1] is far below any ranking-relevant
#: difference and well inside double's 15-16 significant digits, so
#: the round(double -> dec12) step cannot flake across engines.
_SCALE = 12
_DEC = f"decimal(26,{_SCALE})"


def _dec12(col):
    """double -> DECIMAL(26,12) via explicit half-up ROUND (identical
    in Spark and DuckDB for positive values)."""
    return F.round(col, _SCALE).cast(_DEC)


def _moved(new, old, col: str, tol: float) -> DataFrame:
    """Convergence delta: the ids whose ``col`` moved by ≥ ``tol``
    between two rounds — empty exactly when the max move is < tol."""
    return (new.join(old.withColumnRenamed(col, "__p"), "id")
            .where(F.abs(F.col(col) - F.col("__p")).cast("double")
                   >= tol))


def pagerank(edges: DataFrame, src_col: str = "src", dst_col: str = "dst",
             n_iter: int = 3, damping: float = 0.85,
             digits: int = 6, seed_pred=None,
             tol: float | None = None) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list.
    Returns (id, rank) for every node appearing as source or target;
    rank rounded to `digits`. Duplicate edges count once.

    ``tol`` switches to CONVERGENCE mode: iterate until the max
    absolute rank delta between rounds drops below ``tol`` (the
    round's delta is the rank-vector-sized set of nodes that moved by
    ≥ tol — empty exactly then; no edge traffic), capped at ``n_iter``
    rounds. The fixed-iteration oracle path (tol=None) stays
    bit-replayable by pagerank_oracle_sql.

    ``seed_pred`` (a boolean Column over ``id``) switches to
    PERSONALIZED PageRank: the teleport mass (1-d) returns to the
    seed set instead of spreading uniformly, and ranks start at
    1/|seeds| on seeds / 0 elsewhere — random-walk-with-restart
    relevance to the seeds (Page et al. 1999 §6 personalized vector).
    Same per-iteration cost (the rank vector shuffles, nothing
    else).

    Arithmetic is engine-exact: ranks are SCALED INTEGERS (int64
    picorank units, 10^12 = total mass 1.0) and every step is integer
    — init/teleport = mass DIV n, per-edge contribution = rank DIV
    out_deg (truncating), damping = (num·Σ) DIV den with damping as an
    exact thousandth. With no rounding step the chain is bit-identical
    on any engine at any scale (Spark's and DuckDB's round(double)
    disagree when a quotient's repr ends in 5 at the cut). Truncation
    loses < 1 picorank per edge per round, far below the release grid."""
    if digits > 12:
        raise ValueError("pagerank: digits must be <= 12 "
                         "(picorank integer scale)")
    den = 1000
    num = int(round(damping * den))
    if abs(num / den - damping) > 1e-12:
        raise ValueError("pagerank: damping must be a multiple of "
                         "0.001 (exact integer damping arithmetic)")
    mass = 10 ** 12
    tele_mass = (den - num) * (mass // den)
    e = materialise(edges.select(F.col(src_col).alias("src"),
                                 F.col(dst_col).alias("dst"))
                    .distinct())
    nodes = materialise(e.select(F.col("src").alias("id"))
                        .unionByName(e.select(F.col("dst").alias("id")))
                        .distinct())
    # each edge carries its source's out-degree and stays partitioned
    # by source, so a round shuffles only the rank vector
    out = materialise(
        e.join(e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg")),
               "src")
        .repartition("src"))
    zero = F.lit(0).cast("long")
    if seed_pred is None:
        n = nodes.count()  # scalar: drives the teleport constant only
        teleport = F.lit(tele_mass // n).cast("long")
        ranks = nodes.select(
            "id", F.lit(mass // n).cast("long").alias("rank"))
    else:
        ns = nodes.where(seed_pred).count()
        if ns == 0:
            raise ValueError("personalized pagerank: empty seed set")
        teleport = F.when(seed_pred,
                          F.lit(tele_mass // ns).cast("long")) \
            .otherwise(zero)
        ranks = nodes.select(
            "id", F.when(seed_pred,
                         F.lit(mass // ns).cast("long"))
            .otherwise(zero).alias("rank"))

    # a zero contribution per node: every node gets an in_sum row
    # without a per-round join against the node table
    zeros = nodes.select("id", zero.alias("contrib"))

    def step(ranks, _r):
        in_sums = (out.join(ranks.withColumnRenamed("id", "src"), "src")
                   .select(F.col("dst").alias("id"),
                           F.expr("rank div out_deg").alias("contrib"))
                   .unionByName(zeros)
                   .groupBy("id")
                   .agg(F.sum("contrib").alias("in_sum")))
        # teleport + (num·Σ) DIV den: exact int64 throughout
        # (num·Σ <= 850 * 10^12 — no overflow)
        return in_sums.select(
            "id", (teleport + F.expr(f"({num} * in_sum) div {den}")
                   .cast("long")).alias("rank"))

    ranks = fixpoint(ranks, step, n_iter, None if tol is None else (
        lambda new, old, _r: _moved(new, old, "rank", tol * mass)))

    # release: half-up to the digits grid IN INTEGER SPACE
    # ((r + shift/2) div shift), then one exact int->double cast and
    # one division by a power of ten — both IEEE-deterministic, so
    # the released double is bit-identical across engines (no
    # round(double) anywhere — the r09 flake class is gone).
    shift = 10 ** (12 - digits)
    rel = F.expr(f"(rank + {shift // 2}) div {shift}")
    return ranks.select(
        "id", (rel.cast("double")
               / F.lit(float(10 ** digits))).alias("rank"))


def connected_components(edges: DataFrame, src_col: str = "src",
                         dst_col: str = "dst",
                         max_rounds: int = 20) -> DataFrame:
    """(id, component) weakly-connected components over a directed or
    undirected edge list — min-label propagation on
    distkit.fixpoint (the same kernel that clusters near-dup pairs in
    pipeline/corpus.dup_clusters; exposed here as the general graph
    algorithm). Isolated semantics: only nodes appearing in an edge
    get a row — union your node table afterwards for singletons.
    Rounds are O(component diameter); each round is one edge-keyed
    join + one min-aggregate."""
    from ..pipeline.corpus import dup_clusters
    return (dup_clusters(edges, src_col, dst_col,
                         max_rounds=max_rounds)
            .withColumnRenamed("cluster", "component"))


def degrees(edges: DataFrame, src_col: str = "src",
            dst_col: str = "dst") -> DataFrame:
    """(id, out_deg, in_deg, deg) over a distinct directed edge list
    — one aggregate per direction plus an outer merge."""
    e = (edges.select(F.col(src_col).alias("src"),
                      F.col(dst_col).alias("dst")).distinct())
    out_d = e.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("out_deg"))
    in_d = e.groupBy(F.col("dst").alias("id")).agg(
        F.count(F.lit(1)).alias("in_deg"))
    return (out_d.join(in_d, "id", "full")
            .select("id",
                    F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
                    F.coalesce("in_deg", F.lit(0)).alias("in_deg"))
            .withColumn("deg", F.col("out_deg") + F.col("in_deg")))


def pagerank_oracle_sql(edges_cte: str, n_iter: int = 3,
                        damping: float = 0.85, digits: int = 6,
                        seed_pred_sql: str | None = None) -> str:
    """DuckDB SQL replaying `pagerank` exactly — integer picorank
    arithmetic (r10): mass 10^12 as BIGINT, init/teleport = mass //
    n, per-edge contribution = rank // out_deg, damping = (num·Σ) //
    den, release = ((rank + shift/2) // shift) / 10^digits. Every
    step is integer division of non-negative integers (truncation ==
    floor), so the replay is bit-identical to the Spark op with no
    rounding convention anywhere. Iterations unrolled (recursive
    CTEs cannot aggregate). `edges_cte` must select (src, dst).
    ``seed_pred_sql`` (a boolean SQL expression over ``id``) replays
    the personalized variant — teleport/init mass on the seed set
    only."""
    den = 1000
    num = int(round(damping * den))
    mass = 10 ** 12
    tele_mass = (den - num) * (mass // den)
    if seed_pred_sql is None:
        n_cte = "n AS (SELECT COUNT(*) AS n FROM nodes)"
        r0 = (f"r0 AS (SELECT id, CAST({mass} // (SELECT n FROM n) "
              f"AS BIGINT) AS rank FROM nodes)")
        tele = f"CAST({tele_mass} // (SELECT n FROM n) AS BIGINT)"
    else:
        n_cte = (f"n AS (SELECT COUNT(*) AS n "
                 f"FROM nodes WHERE {seed_pred_sql})")
        r0 = (f"r0 AS (SELECT id, CASE WHEN {seed_pred_sql} THEN "
              f"CAST({mass} // (SELECT n FROM n) AS BIGINT) "
              f"ELSE CAST(0 AS BIGINT) END AS rank FROM nodes)")
        tele = (f"CASE WHEN nodes.id IN (SELECT id FROM nodes WHERE "
                f"{seed_pred_sql}) THEN CAST({tele_mass} // "
                f"(SELECT n FROM n) AS BIGINT) "
                f"ELSE CAST(0 AS BIGINT) END")
    sql = [f"""
WITH e AS (SELECT DISTINCT src, dst FROM ({edges_cte})),
nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
deg AS (SELECT src AS id, COUNT(*) AS out_deg FROM e GROUP BY src),
{n_cte},
{r0}"""]
    for i in range(n_iter):
        sql.append(f""",
c{i} AS (
  SELECT e.dst AS id,
         SUM(r.rank // deg.out_deg) AS in_sum
  FROM e JOIN r{i} r ON e.src = r.id JOIN deg ON deg.id = r.id
  GROUP BY e.dst
), r{i + 1} AS (
  SELECT nodes.id,
         CAST({tele}
              + ({num} * COALESCE(c{i}.in_sum, 0)) // {den}
              AS BIGINT) AS rank
  FROM nodes LEFT JOIN c{i} ON nodes.id = c{i}.id
)""")
    shift = 10 ** (12 - digits)
    sql.append(f"""
SELECT id, CAST((rank + {shift // 2}) // {shift} AS DOUBLE)
           / {float(10 ** digits)!r} AS rank
FROM r{n_iter} ORDER BY id""")
    return "".join(sql)


def triangle_count(edges: DataFrame, src_col: str = "src",
                   dst_col: str = "dst",
                   per_node: bool = False) -> DataFrame:
    """Exact triangle counting over an undirected edge list — the
    degree-ordered orientation algorithm (node-iterator++): orient
    each canonical edge from the (degree, id)-smaller endpoint to the
    larger, build wedges only from each node's oriented neighbours,
    and close them against the oriented edge set. Work is
    sum(oriented_degree^2) = O(m^1.5) on any graph — the skew-proof
    formulation (a hub of degree d contributes ~sqrt peers, not d^2
    wedges, because high-degree endpoints absorb edges, they don't
    emit them).

    Plan: two self-joins on narrow (long, long) rows, both equi-joins
    — no nested loop. Returns one row {n_triangles} (per_node=True:
    (id, n_triangles) per participating node, e.g. for clustering
    coefficients)."""
    canon = (edges.select(
        F.least(F.col(src_col), F.col(dst_col)).alias("a"),
        F.greatest(F.col(src_col), F.col(dst_col)).alias("b"))
        .where(F.col("a") != F.col("b")).distinct())
    deg = (canon.select(F.col("a").alias("id"))
           .unionAll(canon.select(F.col("b").alias("id")))
           .groupBy("id").agg(F.count(F.lit(1)).alias("d")))
    # orient a->b iff (d[a], a) < (d[b], b): struct comparison gives
    # the lexicographic total order
    da, db = deg.alias("da"), deg.alias("db")
    # orientation carries the head's (degree, id) rank so the wedge
    # pairing below can order the two heads in the SAME total order
    # (raw-id ordering would ask for closure edges that the
    # orientation never emitted)
    oriented = (canon
                .join(da, F.col("a") == F.col("da.id"))
                .join(db, F.col("b") == F.col("db.id"))
                .select(F.when(
                    F.struct(F.col("da.d"), F.col("a"))
                    < F.struct(F.col("db.d"), F.col("b")),
                    F.struct(F.col("a").alias("u"),
                             F.col("b").alias("v"),
                             F.col("db.d").alias("vd")))
                    .otherwise(F.struct(F.col("b").alias("u"),
                                        F.col("a").alias("v"),
                                        F.col("da.d").alias("vd")))
                    .alias("e"))
                .select("e.u", "e.v", "e.vd"))
    e1, e2, e3 = oriented.alias("e1"), oriented.alias("e2"), \
        oriented.alias("e3")
    tri = (e1.join(e2, (F.col("e1.u") == F.col("e2.u"))
                   & (F.struct(F.col("e1.vd"), F.col("e1.v"))
                      < F.struct(F.col("e2.vd"), F.col("e2.v"))))
           .join(e3, (F.col("e1.v") == F.col("e3.u"))
                 & (F.col("e2.v") == F.col("e3.v")))
           .select(F.col("e1.u").alias("x"),
                   F.col("e1.v").alias("y"),
                   F.col("e2.v").alias("z")))
    if not per_node:
        return tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    corners = (tri.select(F.col("x").alias("id"))
               .unionAll(tri.select(F.col("y").alias("id")))
               .unionAll(tri.select(F.col("z").alias("id"))))
    return corners.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_triangles"))


def bfs_levels(edges: DataFrame, sources: DataFrame,
               src_col: str = "src", dst_col: str = "dst",
               id_col: str = "id", max_depth: int = 20,
               directed: bool = True) -> DataFrame:
    """(id, level) breadth-first levels from a SET of source nodes
    (multi-source BFS — level = hop distance to the nearest source).
    Bulk-synchronous frontier expansion: each round is one join of the
    frontier (O(frontier) rows) against the static edge table plus an
    anti-join on visited; rounds = eccentricity. A round's delta (its
    new frontier) is the visited rows at its level. Nodes unreachable
    within ``max_depth`` are absent from the result."""
    e = edges.select(F.col(src_col).alias("s"),
                     F.col(dst_col).alias("t"))
    if not directed:
        e = e.unionAll(e.select(F.col("t").alias("s"),
                                F.col("s").alias("t")))
    e = e.distinct().localCheckpoint()
    visited = (sources.select(F.col(id_col).alias("id")).distinct()
               .withColumn("level", F.lit(0)).localCheckpoint())

    def step(visited, depth):
        frontier = visited.where(F.col("level") == depth - 1)
        nxt = (frontier.join(e, frontier.id == e.s)
               .select(F.col("t").alias("id")).distinct()
               .join(visited, "id", "left_anti"))
        return visited.unionAll(nxt.withColumn("level", F.lit(depth)))

    return fixpoint(visited, step, max_depth,
                    lambda new, _old, depth:
                    new.where(F.col("level") == depth))


def clustering_coefficient(edges: DataFrame, src_col: str = "src",
                           dst_col: str = "dst",
                           digits: int = 6) -> DataFrame:
    """(id, degree, n_triangles, coefficient): local clustering
    coefficient 2T / d(d-1) per node (0 for degree < 2). Reuses the
    skew-proof oriented triangle listing; degrees come from the same
    canonical edge set, so multi-edges/self-loops can't skew either
    term. One extra broadcast-size join over triangle_count."""
    canon = (edges.select(
        F.least(F.col(src_col), F.col(dst_col)).alias("a"),
        F.greatest(F.col(src_col), F.col(dst_col)).alias("b"))
        .where(F.col("a") != F.col("b")).distinct())
    deg = (canon.select(F.col("a").alias("id"))
           .unionAll(canon.select(F.col("b").alias("id")))
           .groupBy("id").agg(F.count(F.lit(1)).alias("degree")))
    tri = triangle_count(canon, "a", "b", per_node=True)
    return (deg.join(tri, "id", "left")
            .select("id", "degree",
                    F.coalesce("n_triangles", F.lit(0))
                    .alias("n_triangles"))
            .withColumn("coefficient", F.when(
                F.col("degree") >= 2,
                F.round(2.0 * F.col("n_triangles")
                        / (F.col("degree") * (F.col("degree") - 1)),
                        digits)).otherwise(F.lit(0.0))))


def shortest_paths(edges: DataFrame, sources: DataFrame,
                   src_col: str = "src", dst_col: str = "dst",
                   weight_col: str | None = None,
                   id_col: str = "id", max_hops: int = 10,
                   directed: bool = True) -> DataFrame:
    """(id, dist) — cheapest path cost from a SET of source nodes
    within ``max_hops`` edges (bounded-round Bellman-Ford / min-plus
    BFS; ``weight_col=None`` means unit weights, i.e. hop distance as
    a double). Bulk-synchronous: each round relaxes the CURRENT
    distance table through the static edge table (one keyed join) and
    folds with a min-agg — O(max_hops) rounds, each a frontier-sized
    join, lineage cut every 4 rounds. With a fixed ``max_hops`` the result
    is "min cost using ≤K edges", deterministic and replayable by K
    unrolled SQL joins (the oracle shape); raise max_hops past the
    graph diameter for the converged SSSP. Each path's cost
    accumulates left-to-right, so the IEEE sum per path is
    reproducible across engines; min over paths is order-free."""
    w = (F.col(weight_col).cast("double") if weight_col
         else F.lit(1.0))
    e = edges.select(F.col(src_col).alias("s"),
                     F.col(dst_col).alias("t"), w.alias("w"))
    if not directed:
        e = e.unionAll(e.select(F.col("t").alias("s"),
                                F.col("s").alias("t"), "w"))
    e = e.localCheckpoint()
    dist = (sources.select(F.col(id_col).alias("id")).distinct()
            .withColumn("dist", F.lit(0.0)).localCheckpoint())

    # a round relaxes up to 4 hops before its lineage cut: a cut per
    # hop re-plans each hop as its own query (0.7 s slower over 3 hops
    # at sf0.1 on 4 cores) while 4 uncut hops keep the plan small
    def step(dist, r):
        for _ in range(min(4, max_hops - 4 * (r - 1))):
            relaxed = (dist.join(e, dist.id == e.s)
                       .select(F.col("t").alias("id"),
                               (F.col("dist") + F.col("w"))
                               .alias("dist")))
            dist = (dist.unionAll(relaxed)
                    .groupBy("id").agg(F.min("dist").alias("dist")))
        return dist

    return fixpoint(dist, step, (max_hops + 3) // 4)



def k_core(edges: DataFrame, k: int, src_col: str = "src",
           dst_col: str = "dst", max_rounds: int = 50) -> DataFrame:
    """(id,) — the k-core: the maximal subgraph where every node has
    degree ≥ k (undirected view of the edge list). Iterative peeling:
    each round drops nodes below k and the edges touching them —
    O(peel depth) rounds, each one degree aggregate + two semi-joins.
    A round's delta is the nodes still below k after it — empty
    exactly when the next peel would change nothing. Standard
    community-density primitive (Seidman 1983)."""
    e = (edges.select(F.col(src_col).alias("a"),
                      F.col(dst_col).alias("b"))
         .where(F.col("a") != F.col("b")).distinct())
    sym = (e.unionByName(e.select(F.col("b").alias("a"),
                                  F.col("a").alias("b")))
           .distinct().localCheckpoint())

    def degree(sym):
        return sym.groupBy("a").agg(F.count(F.lit(1)).alias("d"))

    def step(sym, _r):
        keep = (degree(sym).where(F.col("d") >= k)
                .select(F.col("a").alias("id")))
        return (sym.join(keep.withColumnRenamed("id", "a"), "a",
                         "left_semi")
                .join(keep.select(F.col("id").alias("b")), "b",
                      "left_semi"))

    sym = fixpoint(sym, step, max_rounds,
                   lambda new, _old, _r:
                   degree(new).where(F.col("d") < k))
    return (sym.select(F.col("a").alias("id")).distinct())


def hits(edges: DataFrame, src_col: str = "src",
         dst_col: str = "dst", n_iter: int = 3,
         digits: int = 6, tol: float | None = None) -> DataFrame:
    """(id, hub, authority) — fixed-iteration HITS (Kleinberg 1999):
    authority = Σ hub over in-edges, hub = Σ authority over
    out-edges, each L1-normalized per half-step. Same determinism
    discipline as pagerank: scores carry as DECIMAL (exact,
    partition-order-independent sums); the only float steps are the
    normalizing divisions, immediately re-rounded half-up into
    DECIMAL — bit-reproducible and replayable by the unrolled SQL
    oracle. Per iteration: two rank-vector shuffles; the edge table
    never moves.

    ``tol`` switches to CONVERGENCE mode: stop when the max absolute
    hub delta between rounds drops below tol (the round's delta is
    the hubs that moved by ≥ tol), capped at ``n_iter`` rounds; the
    fixed-iteration oracle path is unchanged."""
    if n_iter < 1:
        raise ValueError(f"hits: n_iter must be >= 1 (got {n_iter}); "
                         "the hub/authority vectors are defined by at "
                         "least one propagation round")
    e = (edges.select(F.col(src_col).alias("src"),
                      F.col(dst_col).alias("dst"))
         .distinct().localCheckpoint())
    nodes = (e.select(F.col("src").alias("id"))
             .unionByName(e.select(F.col("dst").alias("id")))
             .distinct().localCheckpoint())
    one = _dec12(F.lit(1.0))
    h = nodes.select("id", one.alias("score"))

    def _norm(scored):
        """L1-normalize a (id, score) decimal vector: exact decimal
        total → one double division per row → back to dec12."""
        total = scored.agg(F.sum("score").cast("double")
                           .alias("__t"))
        return (scored.crossJoin(F.broadcast(total))
                .select("id", _dec12(F.col("score").cast("double")
                                     / F.col("__t")).alias("score")))

    def step(state, _r):
        h, _a = state
        a = (e.join(h.withColumnRenamed("id", "src")
                    .withColumnRenamed("score", "__h"), "src")
             .groupBy(F.col("dst").alias("id"))
             .agg(F.sum("__h").alias("score")))
        a = _norm(nodes.join(a, "id", "left")
                  .select("id", F.coalesce(F.col("score"),
                                           F.lit(0).cast(_DEC))
                          .alias("score")))
        h = (e.join(a.withColumnRenamed("id", "dst")
                    .withColumnRenamed("score", "__a"), "dst")
             .groupBy(F.col("src").alias("id"))
             .agg(F.sum("__a").alias("score")))
        h = _norm(nodes.join(h, "id", "left")
                  .select("id", F.coalesce(F.col("score"),
                                           F.lit(0).cast(_DEC))
                          .alias("score")))
        # _norm references its input twice (total + rows): without the
        # per-round cut the fixed-iteration plan grows ~4x per round
        return h, a

    h, a = fixpoint((h, None), step, n_iter, None if tol is None else (
        lambda new, old, _r: _moved(new[0], old[0], "score", tol)))
    return (h.withColumnRenamed("score", "__hub")
            .join(a.withColumnRenamed("score", "__auth"), "id")
            .select("id",
                    F.round(F.col("__hub").cast("double"), digits)
                    .alias("hub"),
                    F.round(F.col("__auth").cast("double"), digits)
                    .alias("authority")))


def hits_oracle_sql(edges_cte: str, n_iter: int = 3,
                    digits: int = 6) -> str:
    """DuckDB SQL replaying `hits` exactly (unrolled iterations,
    MATERIALIZED CTEs, same decimal scale and ROUND points)."""
    dec = f"DECIMAL(26,{_SCALE})"
    sql = [f"""
WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edges_cte})),
nodes AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e),
h0 AS MATERIALIZED (SELECT id, CAST(ROUND(1.0, {_SCALE}) AS {dec})
                    AS score FROM nodes)"""]
    for i in range(n_iter):
        sql.append(f""",
ar{i} AS MATERIALIZED (
  SELECT nodes.id, COALESCE(s.score, CAST(0 AS {dec})) AS score
  FROM nodes LEFT JOIN (
    SELECT e.dst AS id, SUM(h.score) AS score
    FROM e JOIN h{i} h ON e.src = h.id GROUP BY e.dst) s
  ON nodes.id = s.id
), a{i + 1} AS MATERIALIZED (
  SELECT id, CAST(ROUND(CAST(score AS DOUBLE) /
    (SELECT CAST(SUM(score) AS DOUBLE) FROM ar{i}), {_SCALE})
    AS {dec}) AS score
  FROM ar{i}
), hr{i} AS MATERIALIZED (
  SELECT nodes.id, COALESCE(s.score, CAST(0 AS {dec})) AS score
  FROM nodes LEFT JOIN (
    SELECT e.src AS id, SUM(a.score) AS score
    FROM e JOIN a{i + 1} a ON e.dst = a.id GROUP BY e.src) s
  ON nodes.id = s.id
), h{i + 1} AS MATERIALIZED (
  SELECT id, CAST(ROUND(CAST(score AS DOUBLE) /
    (SELECT CAST(SUM(score) AS DOUBLE) FROM hr{i}), {_SCALE})
    AS {dec}) AS score
  FROM hr{i}
)""")
    sql.append(f"""
SELECT h.id, ROUND(CAST(h.score AS DOUBLE), {digits}) AS hub,
       ROUND(CAST(a.score AS DOUBLE), {digits}) AS authority
FROM h{n_iter} h JOIN a{n_iter} a ON h.id = a.id ORDER BY h.id""")
    return "".join(sql)


def neighborhood_jaccard(edges: DataFrame, src_col: str = "src",
                         dst_col: str = "dst",
                         min_sim: float = 0.0,
                         digits: int = 6) -> DataFrame:
    """(id_a, id_b, n_common, jaccard) — neighborhood overlap of every
    node pair sharing ≥1 neighbor (undirected view): THE link-
    prediction / node-similarity primitive. Inverted-index shape, not
    all-pairs: posting (neighbor → node) self-joined on the neighbor
    gives common-neighbor counts, degrees come from one aggregate —
    cost is Σ deg(v)² over neighbors (skew-capped the same way
    ngram_jaccard_pairs caps hot tokens; pass a pre-filtered edge
    list to bound hub fan-out)."""
    e = (edges.select(F.col(src_col).alias("a"),
                      F.col(dst_col).alias("b"))
         .where(F.col("a") != F.col("b")))
    sym = (e.unionByName(e.select(F.col("b").alias("a"),
                                  F.col("a").alias("b"))).distinct())
    # posting: neighbor n -> node v  (v adjacent to n)
    post = sym.select(F.col("b").alias("n"), F.col("a").alias("v"))
    deg = post.groupBy("v").agg(F.count(F.lit(1)).alias("d"))
    x, y = post.alias("x"), post.alias("y")
    common = (x.join(y, (F.col("x.n") == F.col("y.n"))
                     & (F.col("x.v") < F.col("y.v")))
              .groupBy(F.col("x.v").alias("id_a"),
                       F.col("y.v").alias("id_b"))
              .agg(F.count(F.lit(1)).alias("n_common")))
    da = deg.select(F.col("v").alias("id_a"), F.col("d").alias("__da"))
    db = deg.select(F.col("v").alias("id_b"), F.col("d").alias("__db"))
    out = (common.join(da, "id_a").join(db, "id_b")
           .withColumn("jaccard", F.round(
               F.col("n_common")
               / (F.col("__da") + F.col("__db") - F.col("n_common")),
               digits))
           .drop("__da", "__db"))
    return out.where(F.col("jaccard") >= min_sim)


def label_propagation(edges: DataFrame, src_col: str = "src",
                      dst_col: str = "dst",
                      n_rounds: int = 3) -> DataFrame:
    """(id, label) — community detection by synchronous label
    propagation (Raghavan et al. 2007), made DETERMINISTIC: labels
    start as own id; each round every node adopts the most frequent
    label among its neighbors (ties → smallest label; isolated rounds
    keep the current label). Fixed n_rounds, so the run is exactly
    replayable by n_rounds unrolled SQL joins — the oracle shape.
    Each round: one edge-keyed join + one (node, label) count agg +
    one per-node argmax window partitioned by node (same key — the
    exchanges line up). Synchronous updates oscillate on bipartite
    structures — fixed rounds bound that by construction; pick odd/
    even rounds or a final components pass when stability matters."""
    e = (edges.select(F.col(src_col).alias("a"),
                      F.col(dst_col).alias("b"))
         .where(F.col("a") != F.col("b")).distinct())
    sym = (e.unionByName(e.select(F.col("b").alias("a"),
                                  F.col("a").alias("b")))
           .distinct().localCheckpoint())
    labels = (sym.select(F.col("a").alias("id")).distinct()
              .withColumn("label", F.col("id")))
    from pyspark.sql import Window
    w = Window.partitionBy("id").orderBy(F.col("cnt").desc(),
                                         F.col("nl").asc())

    def step(labels, _r):
        nbr = (sym.join(labels.withColumnRenamed("id", "b")
                        .withColumnRenamed("label", "nl"), "b")
               .groupBy(F.col("a").alias("id"), F.col("nl"))
               .agg(F.count(F.lit(1)).alias("cnt")))
        best = (nbr.withColumn("__rk", F.row_number().over(w))
                .where(F.col("__rk") == 1)
                .select("id", F.col("nl").alias("label")))
        return (labels.select("id")
                .join(best, "id", "left")
                .select("id", F.coalesce("label", F.col("id"))
                        .alias("label")))

    return fixpoint(labels, step, n_rounds)


def random_walk_cooccurrence(edges: DataFrame, src_col: str = "src",
                             dst_col: str = "dst", n_walks: int = 2,
                             walk_len: int = 3, window: int = 2,
                             directed: bool = False) -> DataFrame:
    """(a, b, n) — skip-gram co-occurrence counts from DETERMINISTIC
    random walks (the DeepWalk/node2vec preprocessing step, Perozzi
    et al. 2014): every node starts ``n_walks`` walks of
    ``walk_len`` steps; at each step the walker moves to neighbor
    number ``H(start, walk, step, cur) mod degree(cur)`` where H is
    the md5-rank hash this codebase uses for engine-portable
    pseudo-randomness (corpus.py _md5_rank) — so the exact same
    walks replay on ANY engine with md5, and an unrolled SQL oracle
    proves them value-equal. Unordered node pairs within ``window``
    hops of each other in a walk are counted corpus-wide; feed the
    counts to any embedding trainer (GloVe-style factorization, or
    pipeline/embeddings.py projections).

    Plan: the neighbor INDEX (cur, idx, nbr) + degree table build
    once (one shuffle); each step is one equi-join of the frontier
    against the index on (cur, idx) — walk_len joins total, frontier
    stays |nodes|·n_walks rows; the final pair count is one hash
    agg. Nothing quadratic, no RNG state."""
    e = (edges.select(F.col(src_col).alias("a"),
                      F.col(dst_col).alias("b"))
         .where(F.col("a") != F.col("b")).distinct())
    if not directed:
        e = (e.unionByName(e.select(F.col("b").alias("a"),
                                    F.col("a").alias("b")))
             .distinct())
    from pyspark.sql import Window
    idx_w = Window.partitionBy("cur").orderBy("nbr")
    index = (e.select(F.col("a").alias("cur"),
                      F.col("b").alias("nbr"))
             .withColumn("idx", F.row_number().over(idx_w))
             .localCheckpoint())
    deg = index.groupBy("cur").agg(F.max("idx").alias("deg"))

    def md5_long(*cols):
        return F.conv(F.substring(
            F.md5(F.concat_ws(":", *cols)), 1, 15), 16, 10) \
            .cast("long")

    starts = index.select(F.col("cur").alias("start")).distinct()
    walks = starts.select(
        "start", F.explode(F.array(*[F.lit(w) for w in
                                     range(n_walks)])).alias("w"))
    # pos0 = start; each step joins the frontier to the index row
    # selected by the hash choice
    frontier = walks.select("start", "w",
                            F.col("start").alias("p0"))
    for t in range(1, walk_len + 1):
        cur = F.col(f"p{t - 1}")
        choice = frontier.join(deg, deg.cur == cur) \
            .withColumn("__pick",
                        F.pmod(md5_long(F.col("start"), F.col("w"),
                                        F.lit(t), cur),
                               F.col("deg")) + 1) \
            .drop("cur", "deg")
        frontier = (choice.join(
            index,
            (index.cur == F.col(f"p{t - 1}"))
            & (index.idx == F.col("__pick")))
            .drop("cur", "idx", "__pick")
            .withColumnRenamed("nbr", f"p{t}"))
    pairs = []
    for i in range(walk_len + 1):
        for j in range(i + 1, min(i + window, walk_len) + 1):
            x, y = F.col(f"p{i}"), F.col(f"p{j}")
            pairs.append(frontier.select(
                F.least(x, y).alias("a"), F.greatest(x, y).alias("b")))
    from functools import reduce
    allp = reduce(lambda u, v: u.unionByName(v), pairs)
    return (allp.where(F.col("a") != F.col("b"))
            .groupBy("a", "b").agg(F.count(F.lit(1)).alias("n")))


def walk_cooccurrence_oracle_sql(edges_cte: str, n_walks: int = 2,
                                 walk_len: int = 3, window: int = 2
                                 ) -> str:
    """DuckDB SQL replaying random_walk_cooccurrence exactly:
    identical md5-choice arithmetic (first 15 hex digits as a
    BIGINT), identical neighbor indexing (row_number by neighbor
    id), steps unrolled. ``edges_cte`` must select (src, dst);
    the undirected view is built here."""
    h = ("(('0x' || SUBSTR(MD5(CAST({s} AS VARCHAR) || ':' || "
         "CAST({w} AS VARCHAR) || ':' || CAST({t} AS VARCHAR) || "
         "':' || CAST({c} AS VARCHAR)), 1, 15))::BIGINT)")
    parts = [f"""e0 AS ({edges_cte}),
sym AS (
  SELECT src AS a, dst AS b FROM e0 WHERE src <> dst
  UNION SELECT dst, src FROM e0 WHERE src <> dst
), idx AS (
  SELECT a AS cur, b AS nbr,
         ROW_NUMBER() OVER (PARTITION BY a ORDER BY b) AS idx
  FROM sym
), deg AS (SELECT cur, MAX(idx) AS deg FROM idx GROUP BY cur),
f0 AS (
  SELECT s.start, t.w, s.start AS p0
  FROM (SELECT DISTINCT cur AS start FROM idx) s,
       UNNEST(GENERATE_SERIES(0, {n_walks - 1})) AS t(w)
)"""]
    for t in range(1, walk_len + 1):
        hh = h.format(s="f.start", w="f.w", t=t, c=f"f.p{t - 1}")
        cols = ", ".join(f"f.p{i}" for i in range(t))
        parts.append(f"""f{t} AS (
  SELECT f.start, f.w, {cols}, idx.nbr AS p{t}
  FROM f{t - 1} f
  JOIN deg ON deg.cur = f.p{t - 1}
  JOIN idx ON idx.cur = f.p{t - 1}
         AND idx.idx = {hh} % deg.deg + 1
)""")
    pair_sel = []
    for i in range(walk_len + 1):
        for j in range(i + 1, min(i + window, walk_len) + 1):
            pair_sel.append(
                f"SELECT LEAST(p{i}, p{j}) AS a, "
                f"GREATEST(p{i}, p{j}) AS b FROM f{walk_len}")
    union = "\nUNION ALL\n".join(pair_sel)
    return ("WITH " + ",\n".join(parts)
            + f""",
pairs AS ({union})
SELECT a, b, COUNT(*) AS n FROM pairs WHERE a <> b
GROUP BY a, b ORDER BY a, b""")
