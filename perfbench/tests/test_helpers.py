"""Unit tests of the benchmark's measurement helpers (no Spark needed)."""

import statistics

import pytest

from perfbench import eventlog, layers
from perfbench.host import cpu_delta, median, percentile
from perfbench.ops import Ops, logical_bytes
from perfbench.spans import GROUP_PREFIX, NullTracer, Tracer, self_times, subtree_ids


def test_percentile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert percentile(xs, 50) == 2.5
    assert percentile(xs, 75) == pytest.approx(3.25)
    assert percentile([7.0], 90) == 7.0
    assert median([3.0, 1.0, 2.0]) == statistics.median([3.0, 1.0, 2.0])


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


def _span(sid, name, parent, start, end, **attrs):
    return {"id": sid, "name": name, "parent": parent, "start": start, "end": end,
            "attrs": attrs}


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, "root", None, 0.0, 10.0),
        _span(1, "a", 0, 1.0, 4.0),
        _span(2, "b", 0, 3.0, 5.0),  # overlaps a: union covers 1..5
        _span(3, "c", 1, 2.0, 3.0),
        _span(4, "d", 0, 9.0, 12.0),  # clipped to the parent's end
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(1.0)
    assert subtree_ids(spans)[0] == [0, 4, 2, 1, 3]
    assert sorted(subtree_ids(spans)[1]) == [1, 3]


def test_tracer_records_parents_and_null_tracer_records_nothing():
    t = Tracer()
    with t.span("outer"):
        with t.span("inner", n=1) as rec:
            rec["attrs"]["n"] += 1
            assert t.current["name"] == "inner"
    assert [(s["name"], s["parent"]) for s in t.spans] == [("outer", None), ("inner", 0)]
    assert t.spans[1]["attrs"] == {"n": 2}
    assert t.spans[0]["end"] >= t.spans[1]["end"] >= t.spans[1]["start"]
    n = NullTracer()
    with n.span("x"):
        pass
    assert not n.spans


def _events():
    g0, g1 = f"{GROUP_PREFIX}0", f"{GROUP_PREFIX}1"

    def task(stage, run_ms, cpu_ns=0, gc=0, shuffle=0, spill=0):
        return {
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                "JVM GC Time": gc, "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            },
        }

    return [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": g0}},
        task(0, 100, cpu_ns=5e7, shuffle=10),
        task(0, 300, cpu_ns=5e7, gc=20, shuffle=30),
        task(1, 50),
        # job 1 re-lists the shuffle stage 1 it reuses (skipped), then runs stage 2
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": g1}},
        task(2, 1000, spill=7),
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3], "Properties": {}},
        task(3, 5),
    ]


def test_eventlog_parse_and_group_totals():
    jobs, stages = eventlog.parse(_events())
    assert jobs[0] == {"group": f"{GROUP_PREFIX}0", "stages": [0, 1]}
    assert jobs[1]["stages"] == [2]  # reused stage 1 stays with job 0
    assert jobs[2]["group"] is None
    g0 = eventlog.group_totals(jobs, stages, [f"{GROUP_PREFIX}0"])
    assert g0["jobs"] == 1 and g0["stages"] == 2 and g0["tasks"] == 3
    assert g0["executor_run_s"] == pytest.approx(0.45)
    assert g0["executor_cpu_s"] == pytest.approx(0.1)
    assert g0["gc_s"] == pytest.approx(0.02)
    assert g0["shuffle_write_bytes"] == 40
    assert g0["max_task_share"] == pytest.approx(0.75)  # heaviest stage 0: 300 of 400 ms
    both = eventlog.group_totals(jobs, stages, [f"{GROUP_PREFIX}0", f"{GROUP_PREFIX}1"])
    assert both["jobs"] == 2 and both["tasks"] == 4 and both["spill_bytes"] == 7
    assert both["max_task_share"] == 1.0  # stage 2: one task ran all of it
    assert eventlog.group_totals(jobs, stages, ["nope"])["jobs"] == 0


def test_eventlog_reads_a_directory(tmp_path):
    import json

    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in _events()) + "\n\n")
    jobs, stages = eventlog.parse(eventlog.read_events(str(tmp_path)))
    assert len(jobs) == 3 and stages[0]["tasks"] == 2


def test_per_layer_leaves_setup_out_and_reports_every_metric():
    spans = [
        _span(0, "setup", None, 0.0, 5.0),
        _span(1, "table.format.commit", 0, 1.0, 2.0, attempts=1),
        _span(2, "streaming.ingest_batch", None, 6.0, 8.0),
        _span(3, "table.format.commit", 2, 7.0, 7.5, attempts=2),
        _span(4, "ingest.dlq.commit", 2, 7.5, 7.75, attempts=1),
        _span(5, "table.scan.read", None, 9.0, 9.5, rows=2),
        _span(6, "plans.pruning.prune_files", 5, 9.0, 9.1,
              files_in=10, files_kept=4, rows_kept=40),
    ]
    jobs, stages = eventlog.parse(_events())
    report = layers.span_report(spans, jobs, stages)
    assert report[0]["spark_self"]["jobs"] == 1
    assert report[0]["spark"]["jobs"] == 2  # span 0's own job plus span 1's
    out = layers.per_layer(report, jobs, stages, {"maintenance.gc.deleted": 3})
    assert set(out) == set(layers.PER_LAYER)
    assert out["table.format.commit.s"] == pytest.approx(0.5)
    assert out["table.format.commit.attempts"] == 2
    assert out["ingest.dlq_commit.s"] == pytest.approx(0.25)
    assert out["streaming.ingest_batch.s"] == pytest.approx(2.0)
    assert out["plans.pruning.files_kept_frac"] == pytest.approx(0.4)
    assert out["table.scan.rows_scanned_per_row_returned"] == pytest.approx(20.0)
    assert out["spark.jobs"] == 0  # the only labelled jobs ran under setup
    assert out["maintenance.gc.deleted"] == 3
    assert out["maintenance.merge.s"] == 0.0


def test_ops_counts_each_failed_call_once():
    ops = Ops()
    out, dt = ops.timed(lambda: 41 + 1)
    assert out == 42 and dt >= 0
    ops.check(False, "first")
    ops.check(False, "second")
    ops.timed(lambda: None)
    ops.check(True, "fine")
    with pytest.raises(ZeroDivisionError):
        ops.timed(lambda: 1 / 0)
    assert (ops.attempted, ops.failed) == (3, 2)
    assert len(ops.errors) == 3


def test_cpu_delta_and_logical_bytes():
    before = [100, 0, 0, 100, 0, 0, 0, 0]
    after = [150, 0, 0, 130, 10, 0, 0, 10]
    d = cpu_delta(before, after)
    assert d["host_cpu_user_pct"] == 50.0 and d["host_cpu_steal_pct"] == 10.0
    assert d["host_cpu_iowait_pct"] == 10.0
    assert cpu_delta(None, after) == {}
    assert logical_bytes("doc-1", 3, "web") == 5 + 12 + 4 + 3
