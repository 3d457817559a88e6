"""Deduplication operators for large-scale corpus pipelines.

All set-oriented, shuffle-aware, no driver materialization:
- exact:   hash-groupBy on content digest (1 shuffle)
- minhash: shingle → per-permutation min-hash → banded LSH bucket join
           (the classic MinHashLSH; candidate pairs verified with true
           shingle Jaccard)
- simhash: 64-bit sign fingerprint computed row-locally with
           higher-order functions (NO shuffle for signatures)
- ngram_jaccard: inverted-index token join (scales as sum of posting
           list squares — cap hot tokens via `max_df` to bound skew)

At 100 TB: every stage keys its shuffle by digest/bucket (uniform by
construction); the LSH band join broadcasts nothing and AQE handles
residual skew. Extends the reference's `deduplicate`
(python/zef/core/op_implementations/data_wrangling.py) to corpus scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .._registry import register_op


def exact_dedup(df: DataFrame, cols: list[str] | None = None,
                id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative of each duplicate group."""
    cols = cols or [c for c in df.columns if c != id_col]
    digest = F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string")
                                         for c in cols]))
    w = df.withColumn("__digest", digest)
    keep = w.groupBy("__digest").agg(F.min(id_col).alias(id_col))
    return df.join(keep, id_col, "left_semi")


def shingles(col, k: int = 5):
    """Distinct character k-shingles, row-local (no UDF)."""
    n = F.greatest(F.length(col) - k + 1, F.lit(1))
    return F.array_distinct(
        F.transform(F.sequence(F.lit(1), n),
                    lambda i: F.substring(col, i, k)))


_MERSENNE = (1 << 31) - 1  # 31-bit prime: a*h+b stays < 2^62 (no ANSI overflow)


def _perm_coeffs(num_perm: int, seed: int = 7):
    import random
    rng = random.Random(seed)
    return [(rng.randrange(1, _MERSENNE), rng.randrange(0, _MERSENNE))
            for _ in range(num_perm)]


def minhash_signatures(df: DataFrame, text_col: str, id_col: str,
                       num_perm: int = 64, k: int = 5,
                       impl: str = "auto") -> DataFrame:
    """(id, sig array<long>): per-permutation min over universal-hash
    rescramblings a_i*h(shingle)+b_i (mod 2^31-1), computed entirely
    ROW-LOCALLY — no explode, no shuffle, no groupBy, embarrassingly
    parallel at any corpus size.

    impl="pandas" (default when Arrow is available): an Arrow-batched
    numpy kernel — byte-level rolling polynomial shingle hash +
    ``np.minimum.reduceat`` across the whole batch; ~5-10x the
    throughput of the SQL form because higher-order Column functions
    are interpreted per element (they break whole-stage codegen).
    impl="sql": pure Column expressions (xxhash64 shingles), no
    Python on the hot path. The two produce equally-valid (but
    different) signatures; shingling is by bytes resp. characters."""
    npart = df.sparkSession.sparkContext.defaultParallelism
    df = df.repartition(npart, F.col(id_col))
    if impl == "auto":
        try:
            import numpy  # noqa: F401
            import pyarrow  # noqa: F401
            impl = "pandas"
        except ImportError:  # pragma: no cover
            impl = "sql"
    if impl == "pandas":
        return df.select(
            F.col(id_col),
            _minhash_pandas_udf(num_perm, k)(F.col(text_col)).alias("sig"))
    h_arr = F.transform(shingles(F.col(text_col), k),
                        lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE)))
    sig_cols = [
        F.array_min(F.transform(
            F.col("__h"),
            lambda x: F.pmod(x * F.lit(a) + F.lit(b), F.lit(_MERSENNE))))
        for a, b in _perm_coeffs(num_perm)]
    return (df.select(F.col(id_col), h_arr.alias("__h"))
            .select(id_col, F.array(*sig_cols).alias("sig")))


def _minhash_pandas_udf(num_perm: int, k: int):
    """Vectorized signature kernel: one rolling-hash pass per doc,
    then every permutation minimum over the whole Arrow batch at once
    via minimum.reduceat (no per-doc Python loop on the perm axis)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    coeffs = np.asarray(_perm_coeffs(num_perm), dtype=np.int64)
    P = _MERSENNE

    def sig_udf(texts):
        hs, offsets, pos = [], [], 0
        for t in texts:
            b = np.frombuffer((t or "").encode("utf-8", "ignore"),
                              dtype=np.uint8).astype(np.int64)
            n = len(b)
            if n < k:
                h = np.zeros(1, dtype=np.int64)
            else:
                h = np.zeros(n - k + 1, dtype=np.int64)
                for j in range(k):          # k tiny: 5 vector passes
                    h = (h * 257 + b[j:n - k + 1 + j]) % P
            offsets.append(pos)
            hs.append(h)
            pos += len(h)
        H = np.concatenate(hs) if hs else np.zeros(0, dtype=np.int64)
        ndocs = len(texts)
        out = np.empty((num_perm, ndocs), dtype=np.int64)
        for i in range(num_perm):           # each line vectorized over batch
            out[i] = np.minimum.reduceat(
                (coeffs[i, 0] * H + coeffs[i, 1]) % P, offsets)
        return pd.Series([out[:, d].tolist() for d in range(ndocs)])

    # real class objects (module has future-annotations, which would
    # stringify inline hints and break pandas_udf type inference)
    sig_udf.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return pandas_udf(sig_udf, "array<long>")


def _minhash_features_pandas_udf(num_perm: int, k: int):
    """Combined kernel: ONE pass over the text produces both the
    minhash signature and the distinct shingle-hash array (for exact
    verification) — halves the text scans + Arrow transfers of running
    the two kernels separately."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    coeffs = np.asarray(_perm_coeffs(num_perm), dtype=np.int64)
    P = _MERSENNE

    def feat_udf(texts):
        hs, offsets, pos = [], [], 0
        for t in texts:
            h = _rolling_hashes(t, k)
            offsets.append(pos)
            hs.append(h)
            pos += len(h)
        H = np.concatenate(hs) if hs else np.zeros(0, dtype=np.int64)
        ndocs = len(texts)
        out = np.empty((num_perm, ndocs), dtype=np.int64)
        for i in range(num_perm):
            out[i] = np.minimum.reduceat(
                (coeffs[i, 0] * H + coeffs[i, 1]) % P, offsets)
        return pd.DataFrame({
            "sig": [out[:, d].tolist() for d in range(ndocs)],
            "sh": [np.unique(h).tolist() for h in hs]})

    feat_udf.__annotations__ = {"texts": pd.Series, "return": pd.DataFrame}
    return pandas_udf(feat_udf, "struct<sig: array<long>, sh: array<long>>")


def _rolling_hashes(text: str, k: int):
    import numpy as np
    b = np.frombuffer((text or "").encode("utf-8", "ignore"),
                      dtype=np.uint8).astype(np.int64)
    n = len(b)
    if n < k:
        return np.zeros(1, dtype=np.int64)
    h = np.zeros(n - k + 1, dtype=np.int64)
    for j in range(k):
        h = (h * 257 + b[j:n - k + 1 + j]) % _MERSENNE
    return h


def minhash_lsh_pairs(df: DataFrame, text_col: str, id_col: str,
                      num_perm: int = 64, bands: int = 16, k: int = 5,
                      jaccard_threshold: float | None = None) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) via banded LSH; if
    `jaccard_threshold` is set, verify candidates with true shingle
    Jaccard (second pass over the shingle sets)."""
    # docs too short to shingle carry no similarity evidence — without
    # this guard every such doc pairs with every other at jaccard 1.0
    df = df.where(F.length(F.coalesce(F.col(text_col), F.lit(""))) >= k)
    feats = None
    if jaccard_threshold is None:
        sig = minhash_signatures(df, text_col, id_col, num_perm, k)
    else:
        # verification needs the shingle sets too: compute sig + sh in
        # ONE text pass and persist (memory-and-disk: spills, never
        # OOMs) — the table is consumed by both sides of two joins,
        # and without the persist Spark would re-run the kernel per
        # consumer branch.
        from pyspark import StorageLevel
        npart = df.sparkSession.sparkContext.defaultParallelism
        feats = (df.repartition(npart, F.col(id_col))
                 .select(F.col(id_col),
                         _minhash_features_pandas_udf(num_perm, k)(
                             F.col(text_col)).alias("__m"))
                 .select(id_col, "__m.sig", "__m.sh",
                         F.size("__m.sh").alias("n_sh"))
                 .persist(StorageLevel.MEMORY_AND_DISK))
        # NO eager count here: the candidate-pair materialization below
        # is the first (single) consumer and populates the cache as it
        # runs; the later verify joins then read it warm. An extra
        # barrier job costs a full AQE round-trip for nothing.
        sig = feats.select(id_col, "sig")
    # band hash over the RAW sig longs (xxhash64 is variadic) — no
    # per-element string casts / concat: the expression tree is ~6x
    # smaller, which matters because driver-side codegen of this
    # projection was a measurable serial cost per cold call. r12:
    # built via _band_buckets' single F.expr parse (0.10 s of py4j
    # Column round trips per call → 0.002 s).
    band_cols = _band_buckets("sig", num_perm, bands)
    banded = sig.select(id_col, F.posexplode(band_cols)
                        .alias("band", "bucket"))
    # ONE shuffle: group each (band, bucket), emit in-bucket pairs
    # from the sorted id array (vs a self-join's two shuffled sides).
    # A pathological all-identical corpus makes one m^2 bucket — at
    # that point dedup-by-exact-hash first is the right tool.
    ids_arr = F.array_sort(F.collect_list(F.col(id_col)))
    buckets = (banded.groupBy("band", "bucket")
               .agg(ids_arr.alias("ids"))
               .where(F.size("ids") > 1))
    # in-bucket pairs via two native explodes (GenerateExec, codegen)
    # with an id_a < id_b filter — generates m^2 rows per bucket but
    # each is 16 bytes and the generate is JVM-tight; the earlier
    # nested transform+slice HOF built the m(m-1)/2 set directly yet
    # ran INTERPRETED per element, ~2x slower end-to-end.
    raw_pairs = (buckets
                 .select("ids", F.explode("ids").alias("id_a"))
                 .select("id_a", F.explode("ids").alias("id_b"))
                 .where(F.col("id_a") < F.col("id_b")))
    if jaccard_threshold is None:
        return raw_pairs.distinct()
    # Exact verify: shingle-hash arrays come from the SAME persisted
    # single-pass kernel as the signatures (no second text scan).
    # |A∪B| = |A|+|B|-|A∩B| — one array_intersect per pair, never a
    # materialized union array. Join sides are left to AQE: at bench
    # scale it broadcasts the persisted feature table; at corpus scale
    # (feats >> candidates) it broadcasts the candidate side instead.
    # Dedup BEFORE the verify joins: a truly-similar pair collides in
    # MOST of the `bands` bands (not one), so the raw candidate stream
    # carries multi-band duplicates and each would pay a redundant
    # O(|sh|) array_intersect. The deduped pair set is NARROW (two
    # longs — MBs even when the corpus is TBs) and is persisted so
    # (a) Catalyst can't fuse the jaccard filter into the join
    # condition (which evaluates array_intersect a second time per
    # row), and (b) the bucket/pair-gen stage runs exactly once.
    # r12: no eager cand.count() — the persist's InMemoryRelation is
    # already the optimization barrier (Catalyst cannot fuse the
    # jaccard filter through it), and the cache populates during the
    # verify job's own first pass over the candidates; the count only
    # added a full extra driver-synchronized job running the whole
    # bucket/pair-gen pipeline before the real one started. AQE picks
    # the join build sides from runtime stats either way.
    from pyspark import StorageLevel
    cand = raw_pairs.distinct().persist(StorageLevel.MEMORY_AND_DISK)
    # join the SAME feats plan twice via dataframe aliases: the two
    # broadcast-exchange subtrees canonicalize identically, so Spark
    # builds ONE broadcast of the feature table and the second join is
    # a ReusedExchange (halves broadcast build time).
    fa, fb = feats.alias("__fa"), feats.alias("__fb")
    verified = (cand
                .join(fa, F.col("id_a") == F.col(f"__fa.{id_col}"))
                .join(fb, F.col("id_b") == F.col(f"__fb.{id_col}"))
                .select("id_a", "id_b",
                        F.col("__fa.sh").alias("sh_a"),
                        F.col("__fb.sh").alias("sh_b"),
                        F.col("__fa.n_sh").alias("na"),
                        F.col("__fb.n_sh").alias("nb"))
                # r12 exact length prefilter (guide §1.2: don't
                # compute things you throw away): jaccard ≤
                # min(na,nb)/max(na,nb) — inter ≤ min and union ≥ max
                # — so a pair whose best-case ratio is already under
                # the threshold skips the O(|sh|) array_intersect
                # entirely. Safe at the float boundary: IEEE division
                # is monotone, so fl(inter/union) ≤ fl(min/max);
                # any pair the exact filter keeps, this keeps too.
                .where((F.least("na", "nb").cast("double")
                        / F.greatest("na", "nb"))
                       >= F.lit(float(jaccard_threshold)))
                # intersect staged in its own projection: referenced
                # twice below, and must not be computed twice per row
                .withColumn("__inter",
                            F.size(F.array_intersect("sh_a", "sh_b")))
                .withColumn("jaccard",
                            F.col("__inter") / (F.col("na") + F.col("nb")
                                                - F.col("__inter")))
                .where(F.col("jaccard") >= jaccard_threshold))
    # pairs are already unique (deduped pre-verify) — no final shuffle
    return verified.select("id_a", "id_b", "jaccard")


# ---------------------------------------------------------------------
# Incremental dedup: persisted MinHash index + new-batch probe.
# The production shape at 100 TB: the corpus's banded postings and
# shingle features are computed ONCE at ingest; each new batch pays
# only its own signature pass plus two joins where the (small) batch
# side broadcasts — the index is scanned (narrow columns), never
# shuffled, and never re-shingled.
# ---------------------------------------------------------------------

def _band_buckets(sig_name: str, num_perm: int, bands: int):
    """array of per-band bucket hashes over the raw sig longs (same
    expression family as minhash_lsh_pairs). r12: built as ONE
    F.expr parse instead of ~bands·(rows+2) py4j Column round trips
    (0.10 s → 0.002 s of per-call driver time; bit-identity proven
    against the Column form on real signatures — SQL int literals
    and getItem hash identically)."""
    rows = num_perm // bands
    return F.expr("array(" + ",".join(
        "xxhash64(" + ",".join(
            f"{sig_name}[{b * rows + r}]" for r in range(rows))
        + f",{b})" for b in range(bands)) + ")")


def build_minhash_index(df: DataFrame, text_col: str, id_col: str,
                        path: str, num_perm: int = 64, bands: int = 16,
                        k: int = 5, mode: str = "overwrite") -> None:
    """Materialize the corpus near-dup index at `path`:
    - `features/`  (id, sh, n_sh)        — exact-verify shingle sets
    - `postings/`  (id, band, bucket)    — banded LSH postings
    - `meta/`      one row of the build parameters (probe asserts
      compatibility — a num_perm/bands/k mismatch silently produces
      disjoint buckets, so it must fail loudly instead).
    mode="append" adds a new batch to an existing index (same params,
    caller dedups ids)."""
    spark = df.sparkSession
    df = df.where(F.length(F.coalesce(F.col(text_col), F.lit(""))) >= k)
    feats = (df.select(F.col(id_col).alias("id"),
                       _minhash_features_pandas_udf(num_perm, k)(
                           F.col(text_col)).alias("__m"))
             .select("id", F.col("__m.sig").alias("sig"),
                     F.col("__m.sh").alias("sh"))
             .withColumn("n_sh", F.size("sh")))
    feats.select("id", "sh", "n_sh").write.mode(mode).parquet(
        f"{path}/features")
    # recompute the (cheap, row-local) signature for postings rather
    # than persisting sig: the write barrier would otherwise force a
    # second full read of features
    posts = (df.select(F.col(id_col).alias("id"),
                       _minhash_pandas_udf(num_perm, k)(
                           F.col(text_col)).alias("sig"))
             .select("id", F.posexplode(
                 _band_buckets("sig", num_perm, bands))
                 .alias("band", "bucket")))
    posts.write.mode(mode).parquet(f"{path}/postings")
    if mode == "overwrite":
        spark.createDataFrame(
            [(num_perm, bands, k)], "num_perm int, bands int, k int"
        ).write.mode("overwrite").parquet(f"{path}/meta")


def incremental_minhash_pairs(new_df: DataFrame, index_path: str,
                              text_col: str, id_col: str,
                              jaccard_threshold: float = 0.4
                              ) -> DataFrame:
    """Near-dup pairs between a NEW batch and the indexed corpus:
    (new_id, old_id, jaccard). The batch is signed row-locally; its
    postings broadcast-join the index postings (the index side never
    shuffles), candidates dedup, and exact verification joins the
    stored shingle sets — no corpus text is ever re-read."""
    from pyspark import StorageLevel
    spark = new_df.sparkSession
    meta = spark.read.parquet(f"{index_path}/meta").collect()[0]
    num_perm, bands, k = meta.num_perm, meta.bands, meta.k

    new_df = new_df.where(
        F.length(F.coalesce(F.col(text_col), F.lit(""))) >= k)
    npart = spark.sparkContext.defaultParallelism
    new_feats = (new_df.repartition(npart, F.col(id_col))
                 .select(F.col(id_col).alias("new_id"),
                         _minhash_features_pandas_udf(num_perm, k)(
                             F.col(text_col)).alias("__m"))
                 .select("new_id", F.col("__m.sig").alias("sig"),
                         F.col("__m.sh").alias("sh_new"),
                         F.size("__m.sh").alias("n_new"))
                 .persist(StorageLevel.MEMORY_AND_DISK))
    new_posts = new_feats.select(
        "new_id", F.posexplode(
            _band_buckets("sig", num_perm, bands))
        .alias("band", "bucket"))
    idx_posts = spark.read.parquet(f"{index_path}/postings")
    # batch side is the small one by construction — broadcast it so
    # the corpus postings scan stays shuffle-free. The persist is read
    # once, but its InMemoryRelation is a load-bearing optimizer
    # boundary: without it p_incremental_dedup ran 6.96 s vs 3.46 s
    # warm (median of 4, sf0.1, 4 cores, 17 jobs either way). It
    # populates inside the verify join's own pass (no eager count).
    cand = (idx_posts.join(F.broadcast(new_posts), ["band", "bucket"])
            .select("new_id", F.col("id").alias("old_id"))
            .distinct()
            .persist(StorageLevel.MEMORY_AND_DISK))
    idx_feats = spark.read.parquet(f"{index_path}/features")
    verified = (cand
                .join(idx_feats, cand.old_id == idx_feats.id)
                .join(new_feats.select("new_id", "sh_new", "n_new"),
                      "new_id")
                .withColumn("__inter",
                            F.size(F.array_intersect("sh_new", "sh")))
                .withColumn("jaccard",
                            F.col("__inter") /
                            (F.col("n_new") + F.col("n_sh")
                             - F.col("__inter")))
                .where(F.col("jaccard") >= jaccard_threshold))
    return verified.select("new_id", "old_id", "jaccard")


def incremental_ingest(new_df: DataFrame, index_path: str,
                       text_col: str, id_col: str,
                       jaccard_threshold: float = 0.4) -> DataFrame:
    """The full ingest step: probe the index, keep only batch docs
    with NO near-dup in the corpus, append the survivors to the index,
    and return them. Batch-internal dups are also collapsed (keep
    smallest id) via minhash_lsh_pairs on the batch alone."""
    meta = (new_df.sparkSession.read.parquet(f"{index_path}/meta")
            .collect()[0])
    dup_new = (incremental_minhash_pairs(
        new_df, index_path, text_col, id_col, jaccard_threshold)
        .select(F.col("new_id").alias(id_col)).distinct())
    survivors = new_df.join(dup_new, id_col, "left_anti")
    intra = (minhash_lsh_pairs(survivors, text_col, id_col,
                               num_perm=meta.num_perm,
                               bands=meta.bands, k=meta.k,
                               jaccard_threshold=jaccard_threshold)
             .select(F.col("id_b").alias(id_col)).distinct())
    survivors = survivors.join(intra, id_col, "left_anti")
    # SEVER the plan from the index files before appending to them:
    # a parquet write triggers recacheByPath on every cached plan that
    # reads the written path, so a merely-persisted survivors frame
    # would silently RECOMPUTE against the post-append index (where
    # each survivor collides with itself) and come back empty.
    # localCheckpoint materializes to executor storage with no file
    # lineage — immune to the recache. (Real cluster: checkpoint().)
    survivors = survivors.localCheckpoint()
    build_minhash_index(survivors, text_col, id_col, index_path,
                        num_perm=meta.num_perm, bands=meta.bands,
                        k=meta.k, mode="append")
    return survivors


SIMHASH_BITS = 60  # 15 hex digits of md5: portable to any engine
                   # with md5 (DuckDB oracle recomputes it bit-for-bit)


def simhash(df: DataFrame, text_col: str, id_col: str,
            out_col: str = "simhash") -> DataFrame:
    """60-bit SimHash fingerprint, fully row-local (zero shuffle).
    Token hash is the low 60 bits of md5 rather than xxhash64 so an
    independent engine can reproduce the fingerprint exactly."""
    # r12 (guide §4.1 "prefer built-ins/codegen"): the former
    # 60-fold spelling ran SIXTY interpreted F.aggregate passes over
    # the token-hash array per row (measured ~6 s at sf0.01 AND at
    # sf0.001 — pure interpreter/codegen overhead). Now: ONE
    # explode (Generate, codegen) → md5 hash per token → 60
    # conditional SUMs in one map-side-combinable hash agg → fp
    # assembly on the 1-row-per-doc result. Bit-identical including
    # the edge cases: explode_outer keeps NULL-text docs (their one
    # NULL-hash row contributes -1 to every bit sum → every bit 0 →
    # fp 0, exactly what aggregate(NULL array) → NULL → bit 0 gave),
    # and ''-tokens hash like before (split never yields an empty
    # array). One doc-keyed exchange of pre-aggregated 60-sum rows
    # replaces zero shuffle — partial agg collapses map-side, so the
    # shuffle is |docs|-bounded, not token-bounded.
    tokens = F.split(F.lower(F.col(text_col)), r"\W+")
    toks = df.select(F.col(id_col),
                     F.explode_outer(tokens).alias("__t"))
    h = (F.conv(F.substring(F.md5(F.col("__t")), 1, 15), 16, 10)
         .cast("long"))
    exploded = toks.select(id_col, h.alias("__h"))
    sums = [F.expr(f"sum(case when (__h >> {b}) & 1 = 1 "
                   "then 1 else -1 end)").alias(f"__b{b}")
            for b in range(SIMHASH_BITS)]
    agg = exploded.groupBy(id_col).agg(*sums)
    fp = F.expr(" | ".join(
        f"(case when __b{b} > 0 then shiftleft(1L, {b}) else 0L end)"
        for b in range(SIMHASH_BITS)))
    return agg.select(F.col(id_col), fp.alias(out_col))


def simhash_dup_pairs(df: DataFrame, text_col: str, id_col: str,
                      max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash, blocked on `max_hamming + 1` bit
    chunks: by pigeonhole a pair within the hamming bound has at
    least one chunk with no differing bit, so blocking is COMPLETE
    (100% recall) — the exact-distance verify then prunes false
    candidates. One shuffle on (chunk_idx, chunk)."""
    n_chunks = max_hamming + 1
    width = -(-SIMHASH_BITS // n_chunks)  # ceil
    fp = simhash(df, text_col, id_col)
    chunks = F.array(*[
        F.shiftright(F.col("simhash"), i * width)
        .bitwiseAND(F.lit((1 << width) - 1))
        for i in range(n_chunks)])
    blocked = fp.select(id_col, "simhash",
                        F.posexplode(chunks).alias("chunk_idx", "chunk"))
    a = blocked.select(F.col(id_col).alias("id_a"),
                       F.col("simhash").alias("fp_a"), "chunk_idx", "chunk")
    b = blocked.select(F.col(id_col).alias("id_b"),
                       F.col("simhash").alias("fp_b"), "chunk_idx", "chunk")
    pairs = (a.join(b, ["chunk_idx", "chunk"])
             .where(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b", "fp_a", "fp_b").distinct())
    dist = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (pairs.withColumn("hamming", dist)
            .where(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


def ngram_jaccard_pairs(df: DataFrame, text_col: str, id_col: str,
                        n: int = 3, threshold: float = 0.5,
                        max_df: int | None = 1000) -> DataFrame:
    """Word n-gram Jaccard similarity join via inverted index.
    `max_df` drops n-grams appearing in more than that many docs
    (stopword-like; bounds the quadratic blowup / skew)."""
    # split once into a projection column: referencing the split
    # EXPRESSION inside the transform lambda would re-tokenize the
    # whole text per gram (no CSE inside interpreted HOF lambdas)
    wcol = F.col("__w")
    grams = F.array_distinct(F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(wcol) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(wcol, i + 1, n))))
    g = (df.select(F.col(id_col),
                   F.split(F.lower(F.col(text_col)), r"\W+").alias("__w"))
         .select(F.col(id_col), grams.alias("__g")))
    sizes = g.select(id_col, F.size("__g").alias("__n"))
    posting = g.select(id_col, F.explode("__g").alias("gram"))
    if max_df is not None:
        hot = (posting.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
               .where(F.col("df") > max_df).select("gram"))
        posting = posting.join(hot, "gram", "left_anti")
    a = posting.select(F.col(id_col).alias("id_a"), "gram")
    b = posting.select(F.col(id_col).alias("id_b"), "gram")
    inter = (a.join(b, "gram").where(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b")
             .agg(F.count(F.lit(1)).alias("__inter")))
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("__n").alias("__na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("__n").alias("__nb"))
    return (inter.join(sa, "id_a").join(sb, "id_b")
            .withColumn("jaccard",
                        F.col("__inter") /
                        (F.col("__na") + F.col("__nb") - F.col("__inter")))
            .where(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


@register_op("deduplicate", "df")
def _dedup_op(df: DataFrame, *cols):
    return exact_dedup(df, list(cols) or None)


def ngram_contamination(df: DataFrame, benchmark: DataFrame,
                        text_col: str = "text",
                        id_col: str = "doc_id",
                        n: int = 3) -> DataFrame:
    """Benchmark-contamination check: per document, the fraction of
    its distinct word n-grams that also occur anywhere in the
    `benchmark` corpus — the standard decontamination signal before
    training on scraped data.

    Plan shape: both sides explode to distinct (doc, gram) postings
    (row-local gram construction, one distinct-agg shuffle each);
    the benchmark gram set is usually ≪ corpus (benchmarks are
    thousands of docs, corpora billions), so the hit-join is
    broadcast under AQE; per-doc counts are one more keyed agg.
    Nothing is quadratic: cost is O(grams) + one join keyed by gram.

    Documents with fewer than `n` tokens have no n-grams and are
    excluded (matching the SQL oracle's semantics)."""
    def gram_posting(d: DataFrame) -> DataFrame:
        words = F.filter(F.split(F.lower(F.col(text_col)), r"\W+"),
                         lambda t: t != "")
        return (d.select(F.col(id_col), words.alias("__w"))
                .where(F.size("__w") >= n)
                .select(id_col,
                        F.explode(F.array_distinct(F.transform(
                            F.sequence(F.lit(1),
                                       F.size("__w") - n + 1),
                            lambda i: F.concat_ws(
                                " ", F.slice("__w", i, n)))))
                        .alias("gram")))

    doc_grams = gram_posting(df)
    bench_grams = (gram_posting(benchmark)
                   .select("gram").distinct()
                   .withColumn("__hit", F.lit(1)))
    marked = doc_grams.join(bench_grams, "gram", "left")
    return (marked.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_grams"),
                 F.sum(F.coalesce("__hit", F.lit(0))).alias("n_hit"))
            .select(id_col, "n_grams", "n_hit",
                    F.round(F.col("n_hit") / F.col("n_grams"), 6)
                    .alias("contamination")))


def decontaminate(df: DataFrame, benchmark: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  n: int = 3,
                  max_contamination: float = 0.0) -> DataFrame:
    """Drop documents whose benchmark n-gram overlap exceeds
    ``max_contamination`` — the enforcement half of
    ngram_contamination (which only scores). Documents too short to
    have an n-gram are kept (nothing to leak). One anti-join against
    the contaminated-id set; the scoring plan is the same
    gram-posting join, so cost is O(grams) + two keyed aggs."""
    scores = ngram_contamination(df, benchmark, text_col, id_col, n)
    bad = (scores.where(F.col("contamination") > max_contamination)
           .select(id_col))
    return df.join(bad, id_col, "left_anti")
