"""The span recorder, self-time arithmetic and event-log reducer, on a
small synthetic log and span set (no Spark needed)."""

import json
import os
import types

from perfbench import layers
from perfbench.common import Unit
from perfbench.trace import (
    SPAN_KEY,
    Span,
    Tracer,
    covered,
    read_eventlog,
    self_times,
    task_skew,
    totals_by_span,
)


def _span(i, name, start, end, parent=None, **attrs):
    return Span(i, name, start, end, parent, "r", attrs)


def test_covered_merges_overlaps_and_clips_to_parent():
    assert covered([(1, 4), (3, 6), (8, 12)], 0, 10) == 7
    assert covered([], 0, 10) == 0
    assert covered([(11, 12)], 0, 10) == 0


def test_self_time_subtracts_direct_children_only():
    spans = [
        _span(1, "a", 0, 10),
        _span(2, "b", 1, 4, 1),
        _span(3, "c", 3, 6, 1),
        _span(4, "d", 8, 12, 1),
        _span(5, "e", 1, 2, 2),  # grandchild: already inside b
    ]
    own = self_times(spans)
    assert own[1] == 3
    assert own[2] == 2
    assert own[5] == 1


def test_wrapper_records_parent_attrs_and_restores_property():
    props = {}
    tracer = Tracer("run", lambda k, v: props.__setitem__(k, v), props.get)
    seen = []

    def inner(x):
        seen.append(props.get(SPAN_KEY))
        return x * 2

    mod = types.SimpleNamespace(inner=inner)

    def outer(x):
        seen.append(props.get(SPAN_KEY))
        return mod.inner(x) + 1

    mod.outer = outer
    tracer.install(mod, "inner", "layer.inner", lambda a, k, r: {"arg": a[0], "result": r})
    tracer.install(mod, "outer", "layer.outer")
    assert mod.outer(3) == 7
    tracer.uninstall()
    assert mod.inner is inner and mod.outer is outer

    by_name = {s.name: s for s in tracer.spans}
    o, i = by_name["layer.outer"], by_name["layer.inner"]
    assert o.parent is None and i.parent == o.id
    assert i.attrs == {"arg": 3, "result": 6}
    assert seen == [str(o.id), str(i.id)]  # innermost span tags the jobs
    assert props[SPAN_KEY] is None  # restored after the outermost span


def test_wrapper_on_a_class_binds_self():
    class T:
        def f(self, y):
            return (self, y)

    tracer = Tracer("run")
    tracer.install(T, "f", "t.f")
    t = T()
    assert t.f(1) == (t, 1)
    tracer.uninstall()
    assert len(tracer.spans) == 1 and T.f.__name__ == "f"


def _task(stage, run, cpu_ns=0, gc=0, sw_bytes=0, sw_rec=0, out_bytes=0, py_ms=0, rss=0):
    acc = [{"Name": "time to run Python workers", "Update": py_ms},
           {"Name": "number of output rows", "Update": 5}] if py_ms else []
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Accumulables": acc},
        "Task Metrics": {
            "Executor Run Time": run, "Executor CPU Time": cpu_ns, "JVM GC Time": gc,
            "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw_bytes,
                                      "Shuffle Records Written": sw_rec},
            "Output Metrics": {"Bytes Written": out_bytes, "Records Written": 1 if out_bytes else 0},
        },
        "Task Executor Metrics": {"ProcessTreeJVMRSSMemory": rss},
    }


def _write_log(path):
    events = [
        {"Event": "SparkListenerApplicationStart"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {SPAN_KEY: "2"}},
        _task(0, 10, sw_bytes=100, sw_rec=4),
        _task(0, 30, sw_bytes=50, sw_rec=2),
        _task(1, 20, out_bytes=700),
        _task(1, 60, out_bytes=300, rss=2 << 20),
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 50_000,
         "Stage IDs": [2], "Properties": {}},
        _task(2, 5, py_ms=7),
        {"Event": "SparkListenerStageExecutorMetrics",
         "Executor Metrics": {"ProcessTreeJVMRSSMemory": 3 << 20}},
    ]
    with open(path, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def test_eventlog_reduces_per_stage_and_span(tmp_path):
    p = os.path.join(tmp_path, "app")
    _write_log(p)
    log = read_eventlog(p)
    assert log.jobs[0]["span"] == "2" and log.jobs[1]["span"] is None
    assert log.stages[0].shuffle_write_records == 6 and log.stages[0].task_ms == [10, 30]
    assert log.stages[1].output_bytes == 1000
    assert log.stages[2].python_worker_ms == 7
    assert log.peak_rss_bytes == 3 << 20
    by = totals_by_span(log)
    assert by["2"].tasks == 4 and by["2"].run_ms == 120
    assert by[None].tasks == 1


def test_task_skew():
    assert task_skew([20, 60]) == 60 / 40
    assert task_skew([]) == 0.0


def test_layer_metrics_from_spans_and_log(tmp_path):
    p = os.path.join(tmp_path, "app")
    _write_log(p)
    spans = [
        _span(1, "bench.work", 0.5, 20.0),
        _span(2, "merge.merge_into", 1.0, 9.0, events=10, winners=8),
        _span(3, "table.commit", 8.0, 9.0, 2, table="/t", version=1),
        _span(4, "maintenance.compact_if_needed", 9.0, 12.0),
        _span(5, "maintenance.compact", 10.0, 12.0, 4),
        _span(6, "table.commit", 11.0, 12.0, 5, table="/t", version=2),
        _span(7, "changelog.generate", 0.0, 0.4),  # set-up: outside the work
    ]
    unit = Unit(1.0, 19.5, [1.0], 1, 0, {}, {"write_bytes": 10, "events": 10,
                                             "triggers": [(8.5, 12.5), (13.0, 14.0)]})
    m = layers.compute(spans, read_eventlog(p), [unit],
                       {("/t", 1): (2, 400), ("/t", 2): (1, 900)}, {"work_s": 19.5})
    assert set(m) == set(layers.UNITS) - {"traced.op_p50_s"}
    assert m["merge.calls"] == 1
    assert m["merge.self_s"] == 7.0
    assert m["merge.exchanges_per_call"] == 1
    assert m["merge.shuffle_records_per_event"] == 0.6
    assert m["merge.files_written_per_call"] == 2
    assert m["merge.winners_per_event"] == 0.8
    assert m["merge.task_skew"] == 60 / 40
    assert m["maintenance.compactions"] == 1
    assert m["maintenance.bytes_rewritten"] == 900
    assert m["maintenance.stalled_triggers"] == 1
    assert m["changelog.generate_s"] == 0.4
    assert m["table.write_bytes_per_event"] == 1.0
    assert m["spark.tasks"] == 4  # job 1 was submitted after the work ended
