"""Event-log parsing, span self time and layer attribution."""

import os

import pytest

import tracing
from tracing import Span

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures",
                       "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def groups():
    return tracing.parse_event_log(FIXTURE)


def test_jobs_and_stages_per_group(groups):
    assert set(groups) == {"pb-0", "pb-1", None}
    assert groups["pb-0"].jobs == [(1.0, 1.5), (1.4, 2.0)]
    assert groups["pb-0"].stages == 2
    assert groups["pb-1"].jobs == [(3.0, 3.25)]
    assert len(groups[None].jobs) == 1


def test_task_counters_shuffle_and_spill(groups):
    c = groups["pb-0"].counters
    assert c["tasks"] == 4
    assert c["empty_tasks"] == 3          # tasks that read 0 records
    assert c["run_ms"] == 470
    assert c["cpu_ns"] == 210_000_000
    assert c["gc_ms"] == 15
    assert c["shuffle_read"] == 500       # remote + local bytes
    assert c["shuffle_write"] == 500
    assert c["spill"] == 64               # disk bytes, not memory
    assert groups["pb-1"].counters["tasks"] == 1
    assert groups["pb-1"].counters["empty_tasks"] == 0


def test_udf_traffic_only_from_python_nodes(groups):
    c = groups["pb-0"].counters
    assert c["udf.bytes_to_python"] == 1024
    assert c["udf.bytes_from_python"] == 2506
    # the Project node's "number of output rows" is not Python output
    assert c["udf.rows_from_python"] == 8
    assert groups["pb-1"].counters["udf.rows_from_python"] == 0


def test_rolling_event_log_directory(tmp_path, groups):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    lines = open(FIXTURE).read().splitlines(keepends=True)
    (d / "events_2_app").write_text("".join(lines[10:]))
    (d / "events_1_app").write_text("".join(lines[:10]))
    assert tracing.parse_event_log(str(d)) == groups


def test_union_length_merges_overlaps():
    assert tracing.union_length([]) == 0
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert tracing.union_length([(1, 2), (0, 10)]) == 10


def test_self_time_subtracts_children_clipped_to_parent():
    spans = [Span(0, "op", None, 0, 0.0, 10.0),
             Span(1, "a", 0, 0, 1.0, 4.0),
             Span(2, "b", 0, 0, 3.0, 6.0),      # overlaps a
             Span(3, "c", 0, 0, 8.0, 12.0),     # ends after the parent
             Span(4, "d", 1, 0, 1.5, 2.0)]      # grandchild
    st = tracing.self_times(spans)
    assert st[0] == pytest.approx(10 - 5 - 2)
    assert st[1] == pytest.approx(3 - 0.5)
    assert st[2] == pytest.approx(3)
    assert st[4] == pytest.approx(0.5)


def test_tracer_nests_spans_and_sets_job_groups():
    class FakeSC:
        def __init__(self):
            self.calls = []

        def setJobGroup(self, gid, desc):
            self.calls.append(gid)

        def setLocalProperty(self, key, value):
            self.calls.append(value)

    t = tracing.Tracer(True)
    sc = FakeSC()
    t.bind(sc)
    with t.span("op", op=7, kind="q") as outer:
        with t.span("plan") as inner:
            pass
    assert inner.parent == outer.id and inner.op == 7
    assert sc.calls == [f"pb-{outer.id}", f"pb-{inner.id}",
                        f"pb-{outer.id}", None]
    off = tracing.Tracer(False)
    off.bind(sc)
    with off.span("op") as s:
        assert s is None
    assert off.spans == [] and len(sc.calls) == 4


def test_derive_attributes_descendant_jobs_to_the_op(groups):
    spans = [Span(0, "op", None, 0, 0.9, 2.1, {"kind": "q"}),
             Span(1, "plan", 0, 0, 2.05, 2.1),
             Span(2, "setup.session", None, None, 0.0, 0.5)]
    m = tracing.derive(spans, groups, cores=2)
    assert m["spark.jobs"] == 3            # pb-0 (2) + pb-1 (1)
    assert m["plan.eager_jobs"] == 1
    # pb-1's job runs after the op ended: it adds no busy time
    assert m["exec.s"] == pytest.approx(1.0)
    assert m["driver.gap_s"] == pytest.approx(0.2)
    assert m["spark.shuffle_read_bytes"] == 500
    assert m["spark.busy_frac"] == pytest.approx(0.5 / (1.2 * 2))
    assert m["session.start_s"] == pytest.approx(0.5)
    assert m["spark.unattributed_jobs"] == 1


def test_derive_yields_every_per_layer_metric(groups):
    import run
    spans = [Span(0, "op", None, 0, 0.9, 2.1, {"kind": "commit"}),
             Span(1, "store.commit", 0, 0, 1.0, 2.0,
                  {"depth": 2, "attempts": 1})]
    m = tracing.derive(spans, groups, cores=2)
    m.update({"store.bytes_on_disk": 0, "store.files_on_disk": 0,
              "traced.total_s": 1.0, "traced.p50_s": 1.0})
    assert set(run.PER_LAYER_UNITS) <= set(m)
    assert m["store.commit_jobs"] == 1 and m["store.chain_depth"] == 2
