"""Dedup / similarity / text pipeline operators."""

import pytest
from pyspark.sql import functions as F

from zef_spark.pipeline.dedup import (exact_dedup, minhash_lsh_pairs,
                                      minhash_signatures, ngram_jaccard_pairs,
                                      simhash, simhash_dup_pairs)
from zef_spark.pipeline.similarity import (ann_topk_lsh, brute_force_topk,
                                           cosine_pairs, cosine_to_query)
from zef_spark.pipeline.text import (bpe_ish_token_count, fingerprint,
                                     lang_id, quality_score, token_count)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),        # exact dup
        (3, "the quick brown fox jumped over the lazy dog"),       # near dup
        (4, "der hund ist nicht mit der katze und der maus"),
        (5, "completely different content about spark engines"),
        (6, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    kept = exact_dedup(docs, ["text"], "doc_id")
    ids = sorted(r[0] for r in kept.select("doc_id").collect())
    assert ids == [1, 3, 4, 5, 6]  # doc 2 deduped into doc 1


def test_minhash_signatures_shape(docs):
    sig = minhash_signatures(docs.where("doc_id < 6"), "text", "doc_id",
                             num_perm=16)
    rows = sig.collect()
    assert all(len(r["sig"]) == 16 for r in rows)
    by_id = {r["doc_id"]: r["sig"] for r in rows}
    assert by_id[1] == by_id[2]  # identical text → identical signature


def test_minhash_lsh_finds_near_dups(docs):
    pairs = minhash_lsh_pairs(docs.where("doc_id < 6"), "text", "doc_id",
                              num_perm=32, bands=16,
                              jaccard_threshold=0.5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got
    assert (1, 3) in got or (2, 3) in got  # near dup caught
    assert not any(5 in p for p in got)


def test_simhash_properties(docs):
    fp = {r["doc_id"]: r["simhash"]
          for r in simhash(docs, "text", "doc_id").collect()}
    assert fp[1] == fp[2]
    ham13 = bin(fp[1] ^ fp[3]).count("1")
    ham15 = bin(fp[1] ^ fp[5]).count("1")
    assert ham13 < ham15  # near dup closer than unrelated


def test_simhash_pairs(docs):
    pairs = simhash_dup_pairs(docs.where("doc_id < 6"), "text", "doc_id",
                              max_hamming=10)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got


def test_ngram_jaccard(docs):
    pairs = ngram_jaccard_pairs(docs.where("doc_id < 6"), "text", "doc_id",
                                n=2, threshold=0.5)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got[(1, 2)] == 1.0
    assert (1, 3) in got


def test_text_ops(docs):
    tc = {r["doc_id"]: r["n_tokens"]
          for r in token_count(docs, "text").collect()}
    assert tc[1] == 9 and tc[6] == 0
    bp = bpe_ish_token_count(docs, "text").collect()
    assert all(r["n_bpe_tokens"] >= 0 for r in bp)
    lp = {r["doc_id"]: r["lang_pred"]
          for r in lang_id(docs, "text").collect()}
    assert lp[1] == "en" and lp[4] == "de" and lp[6] == "und"
    q = {r["doc_id"]: r["quality"]
         for r in quality_score(docs, "text").collect()}
    assert 0 <= q[1] <= 1 and q[6] < q[1]
    fps = {r["doc_id"]: r["fingerprint"]
           for r in fingerprint(docs, "text").collect()}
    assert fps[1] == fps[2] and fps[1] != fps[5]


def test_fingerprint_keeps_caller_column_named_like_its_temp(spark):
    # fingerprint projects its normalised text into a temp column; a
    # caller column of the same name must come back unchanged
    df = spark.createDataFrame(
        [(1, "Hello  World example", "keep-me")],
        "doc_id long, text string, __fp_norm string")
    out = fingerprint(df, "text", hash_fn="md5")
    assert out.columns == ["doc_id", "text", "__fp_norm", "fingerprint"]
    row = out.collect()[0]
    assert row["__fp_norm"] == "keep-me"
    ref = fingerprint(df.drop("__fp_norm"), "text", hash_fn="md5")
    assert row["fingerprint"] == ref.collect()[0]["fingerprint"]


@pytest.fixture(scope="module")
def emb(spark):
    import math
    rows = []
    for i in range(40):
        base = [math.sin(i * 0.7 + j) for j in range(8)]
        rows.append((i, [float(x) for x in base], i % 4))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int")


def test_brute_force_topk(emb):
    q = [r[0] for r in emb.where("vec_id = 0")
         .select(F.explode("embedding")).collect()]
    top = brute_force_topk(emb, "embedding", "vec_id", q, k=5).collect()
    assert top[0]["vec_id"] == 0 and abs(top[0]["cosine"] - 1.0) < 1e-6
    assert len(top) == 5
    sims = [r["cosine"] for r in top]
    assert sims == sorted(sims, reverse=True)


def test_ann_lsh_recall_of_self(emb):
    q = [r[0] for r in emb.where("vec_id = 0")
         .select(F.explode("embedding")).collect()]
    top = ann_topk_lsh(emb, "embedding", "vec_id", q, k=5,
                       n_planes=4).collect()
    assert top and top[0]["vec_id"] == 0  # query's own bucket has itself


def test_cosine_pairs_blocked(emb):
    pairs = cosine_pairs(emb, "embedding", "vec_id", threshold=0.99,
                         block_col="label")
    for r in pairs.collect():
        assert r["cosine"] >= 0.99
        assert r["id_a"] < r["id_b"]


def test_ann_multiprobe_improves_recall(spark, emb):
    """Multi-probe LSH scans the flip-one-bit buckets nearest the
    query; recall(sub-bucket) ⊆ recall(multi-probe) and candidates
    approach the exact top-k as probes grow."""
    from pyspark.sql import functions as F
    from zef_spark.pipeline.similarity import ann_topk_lsh, \
        brute_force_topk
    e = emb.withColumn("embedding",
                       F.transform("embedding", lambda x: x.cast("double")))
    q = [float(x) for x in e.where("vec_id = 0").first()["embedding"]]
    exact = {r["vec_id"] for r in
             brute_force_topk(e, "embedding", "vec_id", q, 10).collect()}
    one = {r["vec_id"] for r in
           ann_topk_lsh(e, "embedding", "vec_id", q, 10,
                        n_planes=6).collect()}
    multi = {r["vec_id"] for r in
             ann_topk_lsh(e, "embedding", "vec_id", q, 10, n_planes=6,
                          n_probes=4).collect()}
    assert len(exact & multi) >= len(exact & one)
    assert len(multi) >= len(one)


def test_salted_join_matches_plain_join(spark):
    """salted_join spreads a hot key over `salts` tasks; row-for-row
    equivalent to the plain join (deterministic salt — retries must
    reproduce it)."""
    from pyspark.sql import functions as F
    from zef_spark.pipeline.skew import salted_join
    left = spark.range(2000).select(
        F.when(F.col("id") < 1500, F.lit(7)).otherwise(F.col("id"))
        .alias("k"), F.col("id").alias("v"))        # 75% on key 7
    right = spark.range(100).select(F.col("id").alias("k"),
                                    (F.col("id") * 10).alias("w"))
    plain = left.join(right, "k").orderBy("v", "w")
    salted = salted_join(left, right, "k", salts=8).orderBy("v", "w")
    assert plain.collect() == salted.collect()
    lout = salted_join(left, right, "k", salts=8, how="left")
    assert lout.count() == left.join(right, "k", "left").count()


def test_ivf_topk_probe_and_rerank(emb):
    """IVF: the query's own cell is always probed (its centroid has
    the max dot with itself among probed ranks), so vec_id 0 comes
    back first with cosine 1; more probes never shrink the candidate
    pool."""
    from zef_spark.pipeline.similarity import ivf_cell, ivf_topk
    q = [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]
    top = ivf_topk(emb, "embedding", "vec_id", q, k=5, n_cells=8,
                   n_probes=2).collect()
    assert top and top[0]["vec_id"] == 0
    assert abs(top[0]["cosine"] - 1.0) < 1e-4
    few = ivf_topk(emb, "embedding", "vec_id", q, k=40, n_cells=8,
                   n_probes=1).count()
    many = ivf_topk(emb, "embedding", "vec_id", q, k=40, n_cells=8,
                    n_probes=4).count()
    assert many >= few
    # cell assignment is a pure function of the vector (ingest-time
    # partition column at scale): stable across evaluations
    cells = emb.select("vec_id", ivf_cell(F.col("embedding"), 8,
                                          n_cells=8).alias("c"))
    a = {r["vec_id"]: r["c"] for r in cells.collect()}
    b = {r["vec_id"]: r["c"] for r in cells.collect()}
    assert a == b and set(a.values()) <= set(range(1, 9))


def test_asof_join_directions_and_tolerance(spark):
    import datetime as dt
    from zef_spark.pipeline.joins import asof_join
    t = lambda m: dt.datetime(2024, 1, 1, 12, m)
    quotes = spark.createDataFrame(
        [(1, t(0), 10.0), (1, t(30), 11.0), (2, t(5), 20.0)],
        "k long, ts timestamp, px double")
    trades = spark.createDataFrame(
        [(1, t(15), "a"), (1, t(31), "b"), (1, t(59), "c"),
         (2, t(0), "d")],
        "k long, ts timestamp, tag string")
    back = {r["tag"]: r["px_right"] for r in
            asof_join(trades, quotes, on="ts", by="k").collect()}
    assert back == {"a": 10.0, "b": 11.0, "c": 11.0, "d": None}
    fwd = {r["tag"]: r["px_right"] for r in
           asof_join(trades, quotes, on="ts", by="k",
                     direction="forward").collect()}
    assert fwd == {"a": 11.0, "b": None, "c": None, "d": 20.0}
    tol = {r["tag"]: r["px_right"] for r in
           asof_join(trades, quotes, on="ts", by="k",
                     tolerance="20 minutes").collect()}
    assert tol == {"a": 10.0, "b": 11.0, "c": None, "d": None}
    # scale guard: one shuffle, no nested-loop join
    plan = asof_join(trades, quotes, on="ts", by="k") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan


def test_range_join_containment(spark):
    import datetime as dt
    from zef_spark.pipeline.joins import range_join
    t = lambda m: dt.datetime(2024, 1, 1, 12, m)
    pts = spark.createDataFrame(
        [(1, t(10), "p1"), (1, t(45), "p2"), (2, t(10), "p3")],
        "k long, ts timestamp, tag string")
    ivs = spark.createDataFrame(
        [(1, t(0), t(30), "iv1"),     # contains p1 only
         (1, t(5), t(50), "iv2"),     # contains p1 and p2
         (2, t(20), t(30), "iv3")],   # contains nothing of k=2
        "k long, s timestamp, e timestamp, name string")
    got = {(r["tag"], r["name"]) for r in
           range_join(pts, ivs, "ts", "s", "e", by="k",
                      bucket="15 minutes").collect()}
    assert got == {("p1", "iv1"), ("p1", "iv2"), ("p2", "iv2")}
    plan = range_join(pts, ivs, "ts", "s", "e", by="k") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan


def test_hypertable_rollup_refresh_equals_recompute(spark):
    """Incremental refresh (old rollup + new events) must equal a
    full rollup over all events — algebraic merge correctness."""
    import datetime as dt
    from zef_spark.pipeline.rollup import (hypertable_rollup,
                                           refresh_rollup, rollup_pick)
    t = lambda h, m: dt.datetime(2024, 1, 1 + h // 24, h % 24, m)
    schema = "ts timestamp, et string, v double"
    old = spark.createDataFrame(
        [(t(0, 5), "a", 1.0), (t(0, 50), "a", 2.0), (t(1, 10), "b", 3.0)],
        schema)
    new = spark.createDataFrame(
        [(t(0, 59), "a", 4.0), (t(30, 0), "b", 5.0)], schema)
    stored = hypertable_rollup(old, "ts", ["et"], "v")
    refreshed = refresh_rollup(stored, new, "ts", ["et"], "v")
    full = hypertable_rollup(old.unionByName(new), "ts", ["et"], "v")
    key = lambda r: (r["gran"], r["bucket"], r["et"])
    a = {key(r): (r["n"], r["sum_value"], r["min_value"], r["max_value"])
         for r in refreshed.collect()}
    b = {key(r): (r["n"], r["sum_value"], r["min_value"], r["max_value"])
         for r in full.collect()}
    assert a == b
    assert rollup_pick(("1 hour", "1 day"), "7 days") == "1 day"
    assert rollup_pick(("1 hour", "1 day"), "6 hours") == "1 hour"


def test_ann_index_partition_pruning(spark, emb, tmp_path):
    """The materialized IVF index turns a probe into partition
    pruning: identical results to the in-memory ivf_topk, and the
    cell predicate appears as a PartitionFilter (not a data
    filter)."""
    from zef_spark.pipeline.similarity import (ann_topk_indexed,
                                               ivf_topk,
                                               materialize_ann_index)
    path = str(tmp_path / "ann_idx")
    materialize_ann_index(emb, path, "embedding", dim=8, method="ivf",
                          n_cells=8)
    q = [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]
    direct = ivf_topk(emb, "embedding", "vec_id", q, k=5, n_cells=8,
                      n_probes=2).collect()
    indexed = ann_topk_indexed(spark, path, "embedding", "vec_id", q,
                               k=5, n_cells=8, n_probes=2)
    assert [tuple(r) for r in indexed.collect()] == \
        [tuple(r) for r in direct]
    plan = indexed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "__cell" in \
        plan.split("PartitionFilters")[1][:200]


@pytest.mark.slow  # r13 gate split: multi-minute test
def test_semantic_dup_pairs(spark, emb):
    """IVF-cell-blocked embedding near-dup: finds every pair a full
    all-pairs scan finds at a high threshold (cells only PRUNE, and
    near-identical vectors always share their nearest cell), emits
    each pair once with id_a < id_b."""
    from zef_spark.pipeline.similarity import (cosine_pairs,
                                               semantic_dup_pairs)
    # clone three vectors with a tiny perturbation → guaranteed dups
    dup = emb.where("vec_id < 3").select(
        (F.col("vec_id") + 100).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.0001).alias("embedding"))
    corpus = emb.select("vec_id", "embedding").unionByName(dup)
    got = semantic_dup_pairs(corpus, "embedding", "vec_id", dim=8,
                             threshold=0.999, n_cells=8, n_assign=2)
    pairs = {(r["id_a"], r["id_b"]) for r in got.collect()}
    assert {(0, 100), (1, 101), (2, 102)} <= pairs
    assert all(a < b for a, b in pairs)
    # no multi-cell double emission
    assert got.count() == got.distinct().count()
    # blocked result ⊆ exact all-pairs at the same threshold
    exact = {(r["id_a"], r["id_b"])
             for r in cosine_pairs(corpus, "embedding", "vec_id",
                                   threshold=0.999).collect()}
    assert pairs <= exact


def test_chunk_documents(spark):
    from zef_spark.pipeline.text import chunk_documents
    df = spark.createDataFrame(
        [(1, "a" * 950), (2, "xy"), (3, "")],
        "doc_id long, text string")
    out = chunk_documents(df, "text", "doc_id",
                          chunk_chars=500, overlap=100)
    got = {(r["doc_id"], r["chunk_idx"]): (r["chunk_start"],
                                           len(r["chunk"]))
           for r in out.collect()}
    # 950 chars, stride 400 → 3 windows; the last is short
    assert got[(1, 0)] == (1, 500)
    assert got[(1, 1)] == (401, 500)
    assert got[(1, 2)] == (801, 150)
    # short and empty docs yield exactly one chunk
    assert got[(2, 0)] == (1, 2) and got[(3, 0)] == (1, 0)
    assert len(got) == 5
    # row-local: no shuffle in the plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_repeated_spans(spark):
    from zef_spark.pipeline.text import repeated_spans
    common = "one two three four five six seven eight"
    df = spark.createDataFrame(
        [(1, common + " alpha"), (2, common + " beta"),
         (3, "unrelated words entirely different content stuff"),
         (4, "short"),
         (5, common + " " + common)],   # in-doc repeat counts ONCE
        "doc_id long, text string")
    spans = {r["span"]: r["n_docs"]
             for r in repeated_spans(df, "text", "doc_id",
                                     k=8, min_docs=2).collect()}
    assert spans[common] == 3           # docs 1, 2, 5 — not 4
    # no span from the sub-k-token docs, nothing below min_docs
    assert all(n >= 2 for n in spans.values())
    assert not any("short" in s for s in spans)


def test_pii_scan_and_redact(spark):
    from zef_spark.pipeline.text import pii_redact, pii_scan
    rows = [
        (1, "contact me at alice@example.com or 555-123-4567 now"),
        (2, "server at 10.0.0.1 and 192.168.1.255 responded"),
        (3, "no pii here, just 12345 and a.b"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           pii_redact(pii_scan(df, "text"), "text").collect()}
    assert (out[1]["n_email"], out[1]["n_phone"], out[1]["n_ipv4"]) == (1, 1, 0)
    assert out[1]["redacted"] == "contact me at [EMAIL] or [PHONE] now"
    assert out[2]["n_ipv4"] == 2
    assert out[2]["redacted"] == "server at [IP] and [IP] responded"
    assert (out[3]["n_email"], out[3]["n_phone"], out[3]["n_ipv4"]) == (0, 0, 0)
    assert out[3]["redacted"] == out[3]["text"]


def test_ngram_contamination(spark):
    from zef_spark.pipeline.dedup import ngram_contamination
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps")],
        "doc_id long, text string")
    docs = spark.createDataFrame(
        [(1, "the quick brown fox sleeps"),   # shares 2 of 3 trigrams
         (2, "entirely novel text with no overlap at all"),
         (3, "to")],                          # < n tokens → excluded
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           ngram_contamination(docs, bench).collect()}
    assert out[1]["n_grams"] == 3 and out[1]["n_hit"] == 2
    assert out[1]["contamination"] == pytest.approx(2 / 3, abs=1e-6)
    assert out[2]["n_hit"] == 0
    assert 3 not in out


def test_unigram_logprob(spark):
    import math
    from zef_spark.pipeline.text import unigram_logprob
    # corpus: 4 tokens total — "a" x3 (p=3/4), "b" x1 (p=1/4)
    df = spark.createDataFrame([(1, "a a a"), (2, "b")],
                               "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           unigram_logprob(df, "doc_id", "text").collect()}
    assert out[1]["n_tokens"] == 3
    assert out[1]["avg_logprob"] == pytest.approx(math.log(0.75), abs=1e-4)
    assert out[2]["avg_logprob"] == pytest.approx(math.log(0.25), abs=1e-4)


def test_domain_stats(spark):
    from zef_spark.pipeline.corpus import domain_stats
    df = spark.createDataFrame(
        [("s1", "en", 10), ("s1", "de", 30), ("s2", "en", 5)],
        "source string, lang string, n_chars long")
    out = {r["source"]: r for r in domain_stats(df).collect()}
    assert out["s1"]["n_docs"] == 2 and out["s1"]["total_chars"] == 40
    assert out["s1"]["avg_chars"] == 20.0 and out["s1"]["n_langs"] == 2
    assert out["s2"]["n_docs"] == 1


def test_sketch_checks_within_tolerance(spark):
    from zef_spark.pipeline.sketches import (approx_distinct,
                                             approx_quantiles,
                                             distinct_check,
                                             quantile_check)
    df = spark.range(0, 5000).select(
        (F.col("id") % 2).alias("grp"),
        (F.col("id") % 700).alias("u"),
        F.col("id").cast("double").alias("v"))
    d = {r["grp"]: r for r in
         distinct_check(df, ["grp"], "u", rsd=0.02).collect()}
    assert all(r["distinct_ok"] == 1 for r in d.values())
    # even ids mod 700 (even modulus) hit only the 350 even residues
    assert d[0]["n_exact"] == 350
    q = {r["grp"]: r for r in
         quantile_check(df, ["grp"], "v", prob=0.5).collect()}
    assert all(r["quantile_ok"] == 1 for r in q.values())
    # chainable forms
    from zef_spark import ops as z
    ad = df | z.approx_distinct[["grp"], "u", 0.02]
    assert ad.count() == 2
    aq = approx_quantiles(df, ["grp"], "v", [0.25, 0.5, 0.75])
    assert all(len(r["quantiles"]) == 3 for r in aq.collect())
    assert approx_distinct(df, ["grp"], "u").count() == 2


def test_hll_profile_merge_and_theta(spark):
    from zef_spark.pipeline.sketches import (hll_merge, hll_profile,
                                             hll_profile_estimate,
                                             theta_intersect_distinct)
    df = spark.range(0, 9000).select(
        (F.col("id") % 3).alias("g"),
        (F.col("id") % 911).alias("u"),
        (F.col("id") % 4).alias("shard"))
    # shard -> merge estimate within 5% of exact (911 per group)
    prof = hll_profile(df, ["g", "shard"], "u")
    assert prof.count() == 12            # 3 groups x 4 shards
    merged = hll_profile_estimate(hll_merge(prof, ["g"]))
    for r in merged.collect():
        assert abs(r["distinct_est"] - 911) <= 0.05 * 911
    # theta intersection of overlapping ranges is exact under the
    # nominal-entries threshold: [0,500) ∩ [250,911) = 250
    t = theta_intersect_distinct(df, ["g"], "u",
                                 F.col("u") < 500, F.col("u") >= 250)
    for r in t.collect():
        assert round(r["intersect_est"]) == 250
