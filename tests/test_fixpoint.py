"""distkit.fixpoint, the one loop every iterative operator runs on:
job cost of a probed round, no probe in fixed-round mode, the
max_rounds cap, a bounded plan across many rounds, and a source guard
that keeps per-round localCheckpoint calls out of hand-rolled loops."""

import ast
import pathlib

import pyspark.sql.functions as F

from zef_spark.pipeline.distkit import fixpoint

_PKG = pathlib.Path(__file__).resolve().parent.parent / "zef_spark"


def _jobs(spark):
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def _countdown(spark):
    """x in 0..4 over 8 partitions, already materialised."""
    return (spark.range(0, 1000, numPartitions=8)
            .select((F.col("id") % 5).alias("x"))
            .localCheckpoint())


def _dec(state, _r):  # narrow step: no shuffle, so no stage jobs
    return state.select(F.greatest(F.col("x") - 1, F.lit(0)).alias("x"))


def test_probed_round_costs_one_job(spark):
    state = _countdown(spark)
    seen = []

    def step(s, r):
        seen.append((r, _jobs(spark)))
        return _dec(s, r)

    out = fixpoint(state, step, 50,
                   lambda new, _old, _r: new.where(F.col("x") > 0))
    seen.append((None, _jobs(spark)))
    # x reaches 0 everywhere in round 4, whose probe comes back empty
    assert [r for r, _ in seen[:-1]] == [1, 2, 3, 4]
    for (_, before), (_, after) in zip(seen[:-2], seen[1:-1]):
        assert len(after - before) == 1   # one probe, no backfill
    assert out.where(F.col("x") != 0).count() == 0


def test_fixed_rounds_run_no_probe(spark):
    state = _countdown(spark)
    before = _jobs(spark)
    out = fixpoint(state, _dec, 3)
    assert _jobs(spark) == before
    assert sorted(r.x for r in out.distinct().collect()) == [0, 1]


def test_max_rounds_caps_an_unconverged_loop(spark):
    state = _countdown(spark)
    calls = []

    def step(s, r):
        calls.append(r)
        return s.select((F.col("x") + 1).alias("x"))

    out = fixpoint(state, step, 3,
                   lambda new, _old, _r: new.where(F.col("x") > 0))
    assert calls == [1, 2, 3]
    assert out.agg(F.min("x")).first()[0] == 3


def test_plan_stays_bounded_across_rounds(spark):
    def step(s, _r):
        # reads its input twice: without a cut the plan doubles per round
        return (s.unionByName(s).groupBy("k")
                .agg(F.max("v").alias("v")))

    def plan_lines(df):
        return len(df._jdf.queryExecution().logical()
                   .treeString().splitlines())

    state = spark.range(0, 64).select((F.col("id") % 8).alias("k"),
                                      F.col("id").alias("v"))
    two = fixpoint(state, step, 2)
    twenty = fixpoint(state, step, 20)
    assert plan_lines(twenty) == plan_lines(two)
    assert sorted(map(tuple, twenty.collect())) == \
        sorted(map(tuple, two.collect()))


def _looped_local_checkpoints():
    """file:line of every localCheckpoint call inside a for/while body
    (a function defined in a loop starts a fresh scope)."""
    hits = []
    for path in sorted(_PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))

        def walk(node, in_loop):
            for child in ast.iter_child_nodes(node):
                if isinstance(child, (ast.FunctionDef,
                                      ast.AsyncFunctionDef, ast.Lambda)):
                    walk(child, False)
                    continue
                if (in_loop and isinstance(child, ast.Call)
                        and isinstance(child.func, ast.Attribute)
                        and child.func.attr == "localCheckpoint"):
                    hits.append(f"{path.relative_to(_PKG)}:"
                                f"{child.lineno}")
                walk(child, in_loop or isinstance(
                    child, (ast.For, ast.AsyncFor, ast.While)))

        walk(tree, False)
    return hits


def test_no_hand_rolled_checkpoint_loops():
    # iterative operators run on distkit.fixpoint (or call
    # distkit.materialise); a per-round localCheckpoint in a loop of
    # its own is a second copy of that mechanism
    assert _looped_local_checkpoints() == []
