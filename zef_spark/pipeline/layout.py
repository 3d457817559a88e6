"""Physical-layout optimization for parquet tables: Z-order
clustering (multi-column data skipping) and small-file compaction —
the maintenance half of a 100 TB lakehouse (Delta OPTIMIZE ZORDER BY /
compaction, re-expressed on plain parquet).

Why it matters at scale: parquet row-group pruning works off per-file
min/max stats. A table sorted by one column skips beautifully on that
column and not at all on others; Z-ordering interleaves the bits of
several columns' ranks so files stay narrow on EVERY clustered column
at once — reads filtered on any of them touch a fraction of the
files. Compaction bounds the file count a streaming sink accretes
(one-file-per-micro-batch kills scan planning long before data size
does).

Implementation is pure DataFrame: rank each column (quantile-bucket
via ntile so skew cannot starve bit-planes), interleave bits in a
single column expression, then repartitionByRange + sortWithinPartitions
on the z-value — range partitioning makes FILES disjoint in z-space,
the in-file sort makes ROW GROUPS disjoint."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def z_value(cols: list, bits: int = 10):
    """Interleave the low `bits` of the given integer rank columns
    into one Morton (Z-curve) value. cols are Columns holding values
    in [0, 2^bits)."""
    n = len(cols)
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(cols):
            z = z + (F.shiftleft(
                F.shiftright(c.cast("long"), b) % 2, b * n + i))
    return z


def z_order(df: DataFrame, cols: list[str], bits: int = 8,
            out_col: str = "__z") -> DataFrame:
    """Add the Z-curve clustering value over numeric `cols`. Each
    column is QUANTILE-bucketed (robust to skew and to wildly
    different value ranges) against boundaries from approxQuantile —
    a driver-side array of 2^bits-1 cut points per column, embedded
    as literals — then bit-interleaved.

    Deliberately NOT a global ntile window: ranking 100 TB through a
    single-task sort is the scale-killer this module exists to avoid.
    Bucket assignment is a row-local fold over the boundary array
    (2^bits comparisons per row per column, write-time only)."""
    buckets = 1 << bits
    probs = [i / buckets for i in range(1, buckets)]
    zcols = []
    for c in cols:
        bnds = df.approxQuantile(c, probs, 1.0 / (4 * buckets))
        barr = F.array(*[F.lit(float(b)) for b in bnds])
        zcols.append(
            F.aggregate(barr, F.lit(0),
                        lambda acc, b:
                        acc + (F.col(c).cast("double") >= b)
                        .cast("int")).alias(f"__zb_{c}"))
    staged = df.select("*", *zcols)
    return (staged
            .withColumn(out_col, z_value(
                [F.col(f"__zb_{c}") for c in cols], bits))
            .drop(*[f"__zb_{c}" for c in cols]))


def write_z_ordered(df: DataFrame, path: str, cols: list[str],
                    n_files: int = 0, bits: int = 10,
                    mode: str = "overwrite") -> None:
    """Write `df` Z-ordered by `cols`: one file per cell of the
    z-curve's top bits (files disjoint in z-space) and sorted within
    files (row groups disjoint). Cells are cut at the curve's own
    edges, not at sampled range boundaries, so the same input always
    yields the same files. n_files=0 keeps the session parallelism;
    the file count rounds up to a power of two."""
    spark = df.sparkSession
    m = ((n_files or spark.sparkContext.defaultParallelism) - 1) \
        .bit_length()
    # per cell, a long key whose hash partition is that cell
    keys = dict(spark.range(64 << m)
                .groupBy(F.pmod(F.hash("id"), F.lit(1 << m)))
                .agg(F.min("id")).collect())
    route = F.array(*[F.lit(keys[c]).cast("long") for c in range(1 << m)])
    cell = F.shiftright(F.col("__z"), bits * len(cols) - m)
    (z_order(df, cols, bits)
        .repartition(1 << m, route[cell.cast("int")])
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode).parquet(path))


def write_search_clustered(df: DataFrame, path: str, cols: list[str],
                           n_files: int = 0, bits: int = 10,
                           mode: str = "overwrite") -> str:
    """Physical layout for searched fields (GraphQL ``@search``,
    r06 verdict order #6): Spark has no secondary index — the
    analogue is a layout whose per-file min/max stats PRUNE probes on
    the searched columns (the reference exposes per-type query fields
    with filter pushdown, generate_api2.py:785-837; here the
    "index" is the parquet footer). Strategy by column type:

    - all searched columns numeric → Z-order (``write_z_ordered``):
      files stay narrow on every searched column at once;
    - any string/other column → lexicographic range-cluster on the
      searched columns (repartitionByRange + sortWithinPartitions):
      min/max string stats prune equality and prefix probes.

    Returns the strategy used ("zorder" | "range")."""
    numeric = {"bigint", "int", "smallint", "tinyint", "double",
               "float"}
    types = dict(df.dtypes)
    if all(types.get(c, "").split("(")[0] in numeric for c in cols):
        write_z_ordered(df, path, cols, n_files=n_files, bits=bits,
                        mode=mode)
        return "zorder"
    n = n_files or df.sparkSession.sparkContext.defaultParallelism
    (df.repartitionByRange(n, *[F.col(c) for c in cols])
       .sortWithinPartitions(*cols)
       .write.mode(mode).parquet(path))
    return "range"


def file_stats(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-file min/max of `cols` — the exact information the reader's
    row-group pruner sees. Used to measure clustering quality."""
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    return (df.withColumn("__file", F.input_file_name())
            .groupBy("__file").agg(*aggs))


def skipping_ratio(spark, path: str, col: str, lo, hi) -> float:
    """Fraction of files a range predicate lo <= col <= hi can SKIP
    based on footer stats alone (1.0 = reads one file's worth,
    0.0 = must open everything)."""
    st = file_stats(spark.read.parquet(path), [col]).collect()
    if not st:
        return 0.0
    skipped = sum(1 for r in st
                  if r[f"max_{col}"] < lo or r[f"min_{col}"] > hi)
    return skipped / len(st)


def compact_parquet(spark, path: str, target_mb: int = 128,
                    min_files: int = 2) -> int:
    """Rewrite `path` into ceil(bytes / target_mb) files (coalesce —
    no shuffle). Returns the new file count, or 0 if the directory is
    already compact (fewer than `min_files` files or a single file at
    target size). Streaming sinks call this periodically; the rewrite
    is atomic via a temp-dir swap."""
    import math
    import shutil
    import glob
    import os
    files = [f for f in glob.glob(f"{path}/*.parquet")
             if os.path.isfile(f)]
    if len(files) < min_files:
        return 0
    total = sum(os.path.getsize(f) for f in files)
    n = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
    if n >= len(files):
        return 0
    tmp = f"{path}__compact_tmp"
    (spark.read.parquet(path).coalesce(n)
     .write.mode("overwrite").parquet(tmp))
    shutil.rmtree(path)
    os.rename(tmp, path)
    return n


from .._registry import register_op


@register_op("z_order", "df")
def _z_order_op(df: DataFrame, *args, **kw):
    return z_order(df, *args, **kw)


def merge_rows(existing: "DataFrame", updates: "DataFrame",
               key: str | list[str],
               delete_col: str | None = None) -> "DataFrame":
    """Delta-style MERGE semantics as a pure transformation: rows from
    `updates` replace same-key rows in `existing`, new keys append,
    and (optionally) updates with ``delete_col = true`` tombstone the
    key instead. ONE anti-join on the key + a union — the minimal
    upsert plan."""
    key = [key] if isinstance(key, str) else list(key)
    from pyspark.sql import functions as F
    if delete_col is not None:
        keep = updates.where(~F.coalesce(F.col(delete_col),
                                         F.lit(False)))
        keep = keep.drop(delete_col)
        touched = updates.select(*key).distinct()
    else:
        keep, touched = updates, updates.select(*key).distinct()
    survivors = existing.join(touched, key, "left_anti")
    return survivors.unionByName(keep)


def recover_dir_swap(path: str) -> bool:
    """Heal a directory that crashed mid-swap: if `path` is missing
    but the `path__old` recovery copy exists, restore it. Returns
    True when a recovery happened. Every swap-based writer calls this
    before deciding `path` doesn't exist — otherwise a crashed swap
    would silently re-initialize the table from fresh data alone and
    a LATER swap would delete the only copy of the old rows."""
    import os
    old = f"{path}__old"
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)
        return True
    return False


def atomic_dir_swap(tmp: str, path: str) -> None:
    """Install `tmp` at `path` via two renames (old → aside, tmp →
    path): the no-directory window is one rename, not a recursive
    delete, and a crash between the renames leaves the old data
    recoverable at ``path__old`` (recover_dir_swap heals it). The ONE
    shared swap implementation — upsert_parquet and StreamingRollup
    both use it, so the recovery contract lives in one place."""
    import os
    import shutil
    old = f"{path}__old"
    if os.path.exists(old):        # leftover from a prior crash
        shutil.rmtree(old)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def upsert_parquet(spark, path: str, updates: "DataFrame",
                   key: str | list[str],
                   delete_col: str | None = None) -> None:
    """MERGE INTO for a plain parquet directory: read, merge_rows,
    rewrite into a temp dir, then atomic_dir_swap. Crash-SAFE
    (recover_dir_swap heals a half-finished swap before any decision
    is made on `path`) but not atomic for concurrent readers — plain
    parquet has no transaction log, so this is last-writer-wins. At
    multi-writer scale use a table format with a commit protocol (the
    graph's transact ledger is this engine's own answer for its four
    tables)."""
    import os
    recover_dir_swap(path)
    if not os.path.exists(path):
        (updates.drop(delete_col) if delete_col else updates) \
            .write.mode("overwrite").parquet(path)
        return
    merged = merge_rows(spark.read.parquet(path), updates, key,
                        delete_col)
    tmp = f"{path}__upsert_tmp"
    merged.write.mode("overwrite").parquet(tmp)
    atomic_dir_swap(tmp, path)


@register_op("merge_rows", "df")
def _merge_rows(df, updates, key, delete_col=None):
    return merge_rows(df, updates, key, delete_col)
