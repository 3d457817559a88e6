"""Distributed replacements for keyless (single-partition) windows —
the shared two-phase range-partitioned prefix engine, generalized.

A `Window.orderBy(...)` with no partition spec collapses its entire
input onto ONE task; fine on a bounded vocabulary, fatal on row-sized
input (the r09 ROC trap; r11 sweep found the same shape in
epoch_shuffle / pack_sequences' global mode). The fix is always the
same two-phase plan (abtest.ranksum_agg / evaluation._cum_desc):

  1. `repartitionByRange` on the order columns — Spark range-samples
     the keys, so every partition holds a contiguous slice of the
     total order with ~equal rows;
  2. a LOCAL window partitioned by the range id (normal parallel
     window, no single-partition exchange);
  3. per-range totals (≤ n_ranges rows) exclusive-prefix-summed and
     broadcast-joined back as offsets.

Values are IDENTICAL to the keyless window (the order is total and
ties must be broken by the caller's order columns); only the physical
plan changes. The offsets are computed in-plan: the prefix sum is a
window ordered by `__rid`, keyless but bounded (`__rid` is the
`spark_partition_id()` of an n_ranges-way repartition, the one shape
tools/keyless_window_scan.py exempts), broadcast-joined back.

The shared `ranged` frame is consumed by two subtrees (local window
+ offset totals); `persist(MEMORY_AND_DISK)` pins BOTH the range
boundaries and the partition ids across them (an unpersisted range
exchange re-plans per consumer — AQE coalescing + fresh boundary
sampling — so `__rid` would not agree; a cached partition that is
ever recomputed replays the SAME RDD lineage with the partitioner's
frozen boundaries, so ids stay stable, unlike two independent
exchanges). The cache is populated by the first consumer inside the
one action — no eager materialization job. Callers that loop
(graph rounds) should `unpersist()` when done; one-shot query plans
leave it to session cache eviction (the bench clears cache between
queries).

`fixpoint` is the one loop every iterative operator runs on: it owns
per-round materialisation and the convergence probe (the one place
for a reliable-directory `checkpoint()` or per-round telemetry).
"""

from __future__ import annotations

import itertools

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, functions as F


def _ranged(df: DataFrame, order_cols: list[Column],
            n_ranges: int | None):
    spark = df.sparkSession
    if n_ranges is None:
        n_ranges = spark.sparkContext.defaultParallelism
    return (df.repartitionByRange(n_ranges, *order_cols)
            .withColumn("__rid", F.spark_partition_id())
            .persist(StorageLevel.MEMORY_AND_DISK))


def range_offsets(ranged: DataFrame, val_cols: dict[str, str],
                  with_totals: bool = False,
                  extra_aggs: list | None = None,
                  extra_cols: list | None = None) -> DataFrame:
    """In-plan exclusive per-range offsets for a `_ranged` frame:
    one ≤ n_ranges-row aggregate + a BOUNDED keyless window ordered
    by `__rid` (see module docstring). Returns one row per non-empty
    range with `__off_<c>` (sum of `c` over all earlier ranges,
    exactly — long/decimal arithmetic, never float) and, when
    `with_totals`, `__tot_<c>` (the grand total, identical on every
    row). `extra_aggs` adds per-range aggregates to carry through;
    `extra_cols` adds window expressions evaluated over the same
    bounded `__rid` order (e.g. a next-range lead)."""
    from pyspark.sql import Window
    aggs = [F.sum(F.col(c)).alias(c) for c in val_cols]
    tots = ranged.groupBy("__rid").agg(*aggs, *(extra_aggs or []))
    w_off = (Window.orderBy("__rid")
             .rowsBetween(Window.unboundedPreceding, -1))
    w_tot = (Window.orderBy("__rid")
             .rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing))
    sel = [F.col("__rid")]
    for c, dt in val_cols.items():
        sel.append(F.coalesce(F.sum(F.col(c)).over(w_off),
                              F.lit(0).cast(dt)).cast(dt)
                   .alias(f"__off_{c}"))
        if with_totals:
            sel.append(F.sum(F.col(c)).over(w_tot).cast(dt)
                       .alias(f"__tot_{c}"))
    return tots.select(*sel, *(extra_cols or []))


def spread_scan(df: DataFrame, min_parts: int | None = None
                ) -> DataFrame:
    """Ensure at least `min_parts` (default: defaultParallelism)
    partitions before a heavy ROW-LOCAL computation (guide §2.5:
    "one huge unsplittable file … repartition immediately after the
    read"). A single-row-group parquet file, a gzip member, or a
    tiny fixture otherwise serializes the whole downstream
    projection onto ONE task. No-op whenever the input already
    scans with enough parallelism — at warehouse scale (many files /
    row groups) this never fires, so nothing is shuffled there.

    ONLY safe when downstream results are partitioning-invariant:
    per-row outputs, exact integer/decimal aggregates, min/max.
    A round-robin repartition changes float accumulation order —
    do NOT wrap double-sum aggregations in this."""
    sc = df.sparkSession.sparkContext
    target = int(min_parts or sc.defaultParallelism)
    try:
        n = df.rdd.getNumPartitions()
    except Exception:
        return df
    return df.repartition(target) if n < target else df


def spread_keyed(df: DataFrame, keys: list,
                 min_parts: int | None = None) -> DataFrame:
    """Keyed twin of `spread_scan` for window/group pipelines whose
    FIRST exchange AQE would coalesce onto too few cores: when the
    input scans with fewer than `min_parts` (default:
    defaultParallelism) partitions — the tiny-input case — repartition
    it by `keys` to that count. This replaces the downstream
    ENSURE_REQUIREMENTS exchange (same keys, so windows/aggs reuse
    it: no extra shuffle) with an explicit REPARTITION_BY_NUM that
    AQE does not coalesce, keeping per-key compute parallel even
    when the shuffle is only a few MB (guide §2.5: fixture/one-row-
    group inputs serialize heavy per-partition work).

    No-op whenever the input already scans wide — at warehouse scale
    AQE keeps governing the partition count, so this can never pin a
    100-TB shuffle to the local core count. Results must be
    key-partitioning-invariant (per-key windows, per-key aggregates
    with deterministic within-key order), which every caller here is."""
    sc = df.sparkSession.sparkContext
    target = int(min_parts or sc.defaultParallelism)
    try:
        n = df.rdd.getNumPartitions()
    except Exception:
        return df
    if n >= target:
        return df
    keys = [F.col(k) if isinstance(k, str) else k for k in keys]
    return df.repartition(target, *keys)


def global_cumsums(df: DataFrame, order_cols: list,
                   sums: dict[str, tuple],
                   n_ranges: int | None = None) -> DataFrame:
    """ASC (per the given sort expressions — pass `.desc()` columns
    to point downhill) inclusive running sums over the total order
    `order_cols` (must be total — add a unique tiebreaker unless the
    summed values are tie-invariant), without a single-partition
    window. `sums` maps out_col -> (expr, dtype) with dtype in
    {'long', 'decimal(38,12)'}: per-range totals aggregate to
    ≤ n_ranges rows and exclusive-prefix-sum IN-PLAN (exact long /
    decimal arithmetic — never float, whose addition order would
    change the offsets; see `range_offsets`)."""
    from pyspark.sql import Window
    order_cols = [F.col(c) if isinstance(c, str) else c
                  for c in order_cols]
    tmp = df
    for name, (expr, dtype) in sums.items():
        expr = F.col(expr) if isinstance(expr, str) else expr
        tmp = tmp.withColumn(f"__v_{name}", expr.cast(dtype))
    ranged = _ranged(tmp, order_cols, n_ranges)
    w = (Window.partitionBy("__rid").orderBy(*order_cols)
         .rowsBetween(Window.unboundedPreceding, 0))
    local = ranged
    for name in sums:
        local = local.withColumn(name, F.sum(f"__v_{name}").over(w))
    off_df = range_offsets(
        ranged, {f"__v_{name}": d for name, (_, d) in sums.items()})
    off_df = off_df.select(
        "__rid", *[F.col(f"__off___v_{name}").alias(f"__off_{name}")
                   for name in sums])
    out = local.join(F.broadcast(off_df), "__rid")
    for name, (_, d) in sums.items():
        out = out.withColumn(
            name, (F.col(name) + F.col(f"__off_{name}")).cast(d))
    return out.drop("__rid", *[f"__off_{n}" for n in sums],
                    *[f"__v_{n}" for n in sums])


def global_cumsum(df: DataFrame, order_cols: list,
                  sum_col, out_col: str,
                  n_ranges: int | None = None) -> DataFrame:
    """Single-column integer convenience form of `global_cumsums`."""
    return global_cumsums(df, order_cols,
                          {out_col: (sum_col, "long")}, n_ranges)


def global_row_number(df: DataFrame, order_cols: list, out_col: str,
                      n_ranges: int | None = None) -> DataFrame:
    """0-based dense global position over the total order
    `order_cols` — the distributed spelling of
    `row_number().over(Window.orderBy(...)) - 1`."""
    out = global_cumsum(df, order_cols, F.lit(1).cast("long"),
                        out_col, n_ranges)
    return out.withColumn(out_col, F.col(out_col) - 1)


def materialise(state, eager: bool = False):
    """`localCheckpoint` a DataFrame (or each one in a tuple). Lazy by
    default: later plans build on the bounded LogicalRDD at once, and
    the next job that reads it writes its blocks (no extra job; AQE
    still runs the shuffle stages below the cut here). ``eager`` only
    where an A/B measured lazy slower."""
    if isinstance(state, tuple):
        return tuple(materialise(s, eager) for s in state)
    return state.localCheckpoint(eager=eager)


def fixpoint(state, step, max_rounds: int | None, delta=None):
    """Iterate ``state = step(state, r)`` for r = 1, 2, ..., up to
    ``max_rounds`` (None: until converged), materialising each round's
    state (a DataFrame or a tuple of them).

    ``delta(new, old, r)`` is the frame of what round r changed, built
    on the materialised ``new``; empty means converged. The probe is
    `isEmpty()`: ONE job that reads every partition, so it also writes
    the new state's blocks (`take(1)` stops early and leaves a backfill
    job; `count()` is two jobs). No ``delta``: fixed rounds, no probe."""
    rounds = (itertools.count(1) if max_rounds is None
              else range(1, max_rounds + 1))
    for r in rounds:
        old, state = state, materialise(step(state, r))
        if delta is not None and delta(state, old, r).isEmpty():
            break
    return state
