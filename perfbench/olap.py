"""OLAP workload: the headline analytic queries on the fixture tables.

One client runs every query in a closed loop, a pass at a time, in an
order the seed shuffles per pass. Each execution ends in Spark's noop
sink (full execution, no driver transfer), like ``bench.py``. Unlike
``bench.py`` a query's time is the median over the passes of one run
(at the benchmark's ``run_seconds``, one warm pass), not the minimum of
two executions.

Set-up warms every query once, collecting each result and checking it
against the DuckDB oracle digest, then times a fresh graph ingestion
(``zef_spark.graph.mapper.graph_for``) into a scratch cache. The
ingestion comes second because the warm JVM keeps it short: its files
are deleted before the kernel writes them back, which on a filesystem
mounted with ``discard`` is what keeps the deletion cheap.
"""

from __future__ import annotations

import os
import shutil
import time

import oracle

#: The 20 headline queries of ``bench.py``, fixed here so the benchmark
#: does not drift when that list changes.
HEADLINE = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
    "q9_product_profit", "q18_large_orders", "gql_nested_filter_order",
    "scan_cumulative_revenue", "e_sessionize_30min",
    "g_hop_customer_nation", "g_hop2_revenue_by_customer",
    "p_minhash_lsh_pairs", "p_ann_cosine_topk", "p_text_quality",
    "p_bm25_search", "e_rate_limit_events", "e_session_paths",
    "p_feature_hash_profile", "e_forecast_naive7",
    "w_kruskal_price_priority", "p_hamming_topk",
]

#: seconds one warm pass of the 20 queries takes on 4 cores
PASS_S = 12.0
#: graph ingestions per set-up (each takes 16-30 s at sf0.1 on 4 cores,
#: so one is all a run's time budget allows); set-up reports the median
INGEST_REPS = 1


def _ingest(ctx) -> None:
    """Time fresh graph ingestions into scratch caches. Each is deleted
    at once: on a filesystem mounted with ``discard``, deleting files
    after they reach the disk costs seconds per hundred megabytes."""
    from zef_spark.graph import mapper
    served = os.environ["ZEF_SPARK_GRAPH_CACHE"]
    for rep in range(INGEST_REPS):
        root = os.path.join(ctx.work, f"graph-{rep}")
        os.environ["ZEF_SPARK_GRAPH_CACHE"] = root
        # graph_for memoises per process; drop the memo so every
        # repetition ingests from the tables again
        mapper._GRAPH_CACHE.clear()
        t0 = time.perf_counter()
        with ctx.tracer.span("setup.ingest"):
            mapper.graph_for(ctx.spark, ctx.data_dir)
        ctx.ingest_s.append(time.perf_counter() - t0)
        shutil.rmtree(root)
    os.environ["ZEF_SPARK_GRAPH_CACHE"] = served
    mapper._GRAPH_CACHE.clear()
    mapper.graph_for(ctx.spark, ctx.data_dir)


def setup(ctx) -> None:
    import __spark_entry__ as entry
    from zef_spark.graph import mapper
    # the queries read a graph cached per checkout (the first run in
    # a checkout builds it, with the same code)
    os.environ["ZEF_SPARK_GRAPH_CACHE"] = ctx.cache
    mapper.graph_for(ctx.spark, ctx.data_dir)
    expected = oracle.load(ctx.scale_key)
    if expected.get("queries", {}).keys() != set(HEADLINE):
        raise RuntimeError(f"digests.json has no digests for "
                           f"{ctx.scale_key}; run make_digests.py")
    qs = entry.queries()
    warm = 0.0
    with ctx.tracer.span("setup.warmup"):
        for name in ctx.rng.sample(HEADLINE, len(HEADLINE)):
            ctx.attempted += 1
            t0 = time.perf_counter()
            try:
                with ctx.tracer.span("check", query=name):
                    df = qs[name](ctx.spark, ctx.data_dir)
                    rows = [tuple(r) for r in df.collect()]
            except Exception as e:  # a failing query is a counted op
                ctx.fail(name, e)
                continue
            warm += time.perf_counter() - t0
            want = expected["queries"][name]
            got = oracle.digest(rows, df.columns)
            if (len(rows), got) != (want["rows"], want["digest"]):
                ctx.wrong(name, f"{len(rows)} rows, digest {got[:12]} "
                          f"!= oracle {want['rows']} rows, "
                          f"{want['digest'][:12]}")
    ctx.warmup_s = warm
    _ingest(ctx)


def run(ctx, seconds: float) -> None:
    """Run ``round(seconds / PASS_S)`` whole passes: a fixed amount of
    work per ``--seconds``, so a slow host does not run fewer passes."""
    import __spark_entry__ as entry
    qs = entry.queries()
    passes = max(1, round(seconds / PASS_S))
    clock = 0.0
    for _ in range(passes):
        for name in ctx.rng.sample(HEADLINE, len(HEADLINE)):
            ctx.spark.catalog.clearCache()
            ctx.attempted += 1
            t0 = time.perf_counter()
            try:
                with ctx.tracer.span("op", op=len(ctx.ops), kind=name):
                    with ctx.tracer.span("plan"):
                        df = qs[name](ctx.spark, ctx.data_dir)
                    with ctx.tracer.span("sink"):
                        df.write.mode("overwrite").format("noop").save()
            except Exception as e:
                ctx.fail(name, e)
                continue
            dt = time.perf_counter() - t0
            clock += dt
            ctx.ops.append((name, dt))
    ctx.wall_s = clock
    ctx.detail["passes"] = passes


def named(ctx, e2e: dict) -> dict:
    """The OLAP totals under their own names."""
    return {"query_total_s": e2e["total_s"],
            "query_geomean_s": e2e["geomean_s"]}
