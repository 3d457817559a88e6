"""Run one benchmark workload and print its metrics.

Usage, from the repository root:

    python3 perfbench/run.py --workload olap_sf0.1 --seed 1 \\
        --seconds 20 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of ``BENCHMARK.json`` when ``--trace 0``, its per-layer metrics
when ``--trace 1``. The line before it is a JSON detail record:
provenance, per-operation-kind medians, the workload's own named
metrics and, for a traced run, every derived layer metric. Both are
also written under ``perfbench/.data/results``.

A traced run enables Spark's event log and records spans around every
call into the engine; it is a separate run from the untraced one whose
numbers are the end-to-end metrics. Everything the benchmark writes
stays under ``perfbench/.data``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import resource
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, ".data")
sys.path.insert(0, HERE)

import fixture  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402

#: workload name -> (module, scale factor of its tables)
WORKLOADS = {"olap_sf0.1": ("olap", 0.1), "graph_txn": ("txn", 0.1)}

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _BENCH = json.load(_f)
#: metric name -> unit, as BENCHMARK.json declares them
E2E_UNITS = {m["name"]: m["unit"] for m in _BENCH["end_to_end"]}
PER_LAYER_UNITS = {m["name"]: m["unit"] for m in _BENCH["per_layer"]}


class Ctx:
    """State of one run, shared with the workload module."""

    def __init__(self, args, tracer):
        self.workload = args.workload
        self.seed = args.seed
        self.rng = random.Random(args.seed)
        self.tracer = tracer
        self.work = os.path.join(DATA, f"run-{os.getpid()}")
        self.spark = None
        self.cache = os.path.join(DATA, "cache")   # graph cache
        self.data_dir = ""
        self.scale_key = ""
        self.attempted = 0
        self.failed = 0
        self.ops: list[tuple[str, float]] = []   # (kind, latency s)
        self.ingest_s: list[float] = []
        self.warmup_s = 0.0
        self.wall_s = 0.0
        self.check_s = 0.0
        self.detail: dict = {}
        self.errors: list[str] = []

    def fail(self, kind: str, exc: BaseException) -> None:
        self.failed += 1
        self.errors.append(f"{kind}: {type(exc).__name__}: {exc}"[:500])
        log(f"FAILED {self.errors[-1]}")

    def wrong(self, kind: str, why: str) -> None:
        self.failed += 1
        self.errors.append(f"{kind}: wrong output: {why}"[:500])
        log(f"WRONG {self.errors[-1]}")

    @contextlib.contextmanager
    def unclocked(self):
        """Time spent here (output checks) is excluded from the
        operation being timed."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.check_s += time.perf_counter() - t0


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _git_commit() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                       capture_output=True, text=True, timeout=30)
    return r.stdout.strip() or "unknown"


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _session(args, tmp: str, eventlog: str | None):
    from zef_spark.session import get_spark
    conf = {"spark.local.dir": os.path.join(tmp, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"}
    if eventlog:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": eventlog,
                     "spark.eventLog.compress": "false"})
    return get_spark(f"perfbench-{args.workload}",
                     master=f"local[{_cores()}]", extra_conf=conf)


def _stop(spark) -> None:
    """Stop Spark and wait until its JVM has exited."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()       # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _e2e(ctx, session_s: float, rss_mb: float) -> dict:
    by_kind: dict[str, list[float]] = {}
    for kind, dt in ctx.ops:
        by_kind.setdefault(kind, []).append(dt)
    med = {k: stats.median(v) for k, v in sorted(by_kind.items())}
    lats = [dt for _, dt in ctx.ops]
    tail, pct = stats.tail(lats)
    ctx.detail.update({"samples": len(lats), "tail_percentile": pct,
                       "median_by_kind_s": med, "ops": ctx.ops})
    return {"setup_s": session_s + stats.median(ctx.ingest_s)
            + ctx.warmup_s,
            "total_s": sum(med.values()),
            "geomean_s": stats.geomean(med.values()),
            "p50_s": stats.median(lats),
            "tail_s": tail,
            "ops_per_s": len(lats) / ctx.wall_s,
            "peak_rss_mb": rss_mb}


def _named(ctx, module, e2e: dict) -> dict:
    """Each workload's end-to-end metrics by their own names: the common
    ones, then the workload's (``module.named``)."""
    return {"error_rate": ctx.failed / ctx.attempted,
            **{k: e2e[k] for k in ("setup_s", "geomean_s", "p50_s",
                                    "tail_s", "peak_rss_mb")},
            **module.named(ctx, e2e)}


def _write(name: str, obj) -> str:
    d = os.path.join(DATA, "results")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, name)
    with open(path, "w") as f:
        json.dump(obj, f, indent=1)
    return path


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "zef_spark"))):
        log(f"the engine is not in {ROOT}: run from a full checkout")
        return 2

    load_start = os.getloadavg()[0]
    module_name, sf = WORKLOADS[args.workload]
    module = __import__(module_name)
    tmp = os.path.join(DATA, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp, "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "SPARK_GRAFT_CPUS": str(_cores()),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)})
    sys.path.insert(0, ROOT)

    tracer = tracing.Tracer(bool(args.trace))
    ctx = Ctx(args, tracer)
    ctx.scale_key = f"sf{sf:g}"
    ctx.data_dir = fixture.check(sf, oracle.load(ctx.scale_key)
                                 .get("files", {}))
    shutil.rmtree(ctx.work, ignore_errors=True)
    os.makedirs(ctx.work)
    eventlog = os.path.join(ctx.work, "eventlog") if args.trace else None
    if eventlog:
        os.makedirs(eventlog)

    t0 = time.perf_counter()
    with tracer.span("setup.session"):
        spark = _session(args, tmp, eventlog)
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    tracer.bind(spark.sparkContext)
    ctx.spark = spark
    from pyspark import SparkContext
    jvm_pid = SparkContext._gateway.proc.pid
    import pyspark
    prov = {"git_commit": _git_commit(), "nproc": _cores(),
            "spark_master": spark.sparkContext.master,
            "seed": args.seed, "pyspark": pyspark.__version__,
            "java": spark.sparkContext._jvm.java.lang.System
            .getProperty("java.version"),
            "load1_start": load_start}
    log(f"session up in {session_s:.1f}s")
    try:
        module.setup(ctx)
        log("set-up done")
        module.run(ctx, args.seconds)
        log("measurement done")
    except Exception as e:  # noqa: BLE001 - reported, then judged below
        if not ctx.errors:
            ctx.fail("run", e)
    finally:
        rss_mb = (_vm_hwm_kb(jvm_pid) + resource.getrusage(
            resource.RUSAGE_SELF).ru_maxrss) / 1024.0
        _stop(spark)
    prov["load1_end"] = os.getloadavg()[0]
    log("spark stopped")

    if len(ctx.ops) < 2 * stats.TAIL_BEYOND or not ctx.ingest_s:
        log(f"too few completed operations ({len(ctx.ops)}) to report")
        return 1
    e2e = _e2e(ctx, session_s, rss_mb)
    detail = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "provenance": prov, "errors": ctx.errors[:20],
              "named": _named(ctx, module, e2e),
              "setup_parts_s": {"session": session_s,
                                "ingest": ctx.ingest_s,
                                "warmup": ctx.warmup_s},
              **ctx.detail}
    if args.trace:
        groups = tracing.parse_event_log(
            os.path.join(eventlog, os.listdir(eventlog)[0]))
        layers = tracing.derive(tracer.spans, groups, _cores())
        log("event log parsed")
        layers.update({k: ctx.detail.get(k, 0) for k in
                       ("store.bytes_on_disk", "store.files_on_disk")})
        layers["traced.total_s"] = e2e["total_s"]
        layers["traced.p50_s"] = e2e["p50_s"]
        detail["layers"] = layers
        try:
            with open(os.path.join(DATA, "results",
                                   f"last-{args.workload}.json")) as f:
                base = json.load(f)
            detail["tracing_overhead"] = {
                k: e2e[k] - base[k] for k in
                ("total_s", "geomean_s", "p50_s", "tail_s", "ops_per_s")}
        except (OSError, KeyError, ValueError):
            detail["tracing_overhead"] = None
        os.makedirs(os.path.join(DATA, "results"), exist_ok=True)
        tracer.dump(os.path.join(
            DATA, "results", f"spans-{args.workload}-{args.seed}.json"))
        metrics = {k: {"value": layers[k], "unit": u}
                   for k, u in PER_LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u}
                   for k, u in E2E_UNITS.items()}
    result = {"correct": ctx.failed == 0, "attempted": ctx.attempted,
              "failed": ctx.failed, "metrics": metrics}
    _write(f"{args.workload}-{args.seed}-trace{args.trace}.json",
           {**detail, "result": result})
    if not args.trace:
        _write(f"last-{args.workload}.json", e2e)
    shutil.rmtree(ctx.work, ignore_errors=True)
    print(json.dumps(detail, default=str))
    print(json.dumps(result), flush=True)
    log("done")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
