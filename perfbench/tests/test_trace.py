"""The event-log reducer on a canned log, and span self times.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

import json
import os
import sys
from types import SimpleNamespace

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.trace import DESC, Span, Tracer, reduce_event_log  # noqa: E402


def _job_start(jid, t, stages, desc=None):
    props = {DESC: desc} if desc else {}
    return {
        "Event": "SparkListenerJobStart",
        "Job ID": jid,
        "Submission Time": t,
        "Stage IDs": stages,
        "Properties": props,
    }


def _job_end(jid, t):
    return {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t}


def _task_end(stage, run_ms, gc_ms=0, udf_ms=0, read=0, written=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {
            "Accumulables": [
                {"Name": "time to run Python workers", "Update": str(udf_ms)},
                {"Name": "data sent to Python workers", "Update": "2000000"},
            ]
        },
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "JVM GC Time": gc_ms,
            "Shuffle Read Metrics": {"Local Bytes Read": read, "Remote Bytes Read": 0},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
        },
    }


def _log():
    events = [
        _job_start(0, 500, [0]),  # before the window: ignored
        _job_end(0, 900),
        # a tagged job, two tasks
        _job_start(1, 1000, [1], desc="bench:exact"),
        _task_end(1, 3000, gc_ms=100, udf_ms=2500),
        _task_end(1, 1000, udf_ms=500),
        _job_end(1, 3000),
        # an untagged job from a worker thread, inside the open fused span
        _job_start(2, 4000, [2, 3]),
        _task_end(3, 2000, read=5_000_000, written=1_000_000),
        _job_end(2, 6000),
        # an untagged job outside every span
        _job_start(3, 7000, [4]),
        _job_end(3, 7500),
    ]
    lines = [json.dumps(e, separators=(",", ":")) for e in events]
    # plan-carrying SQL events are skipped unparsed
    lines.insert(3, '{"Event":"org.apache.spark.sql.execution.ui.X","plan":{')
    return [x + "\n" for x in lines]


def test_reduce_event_log():
    spans = [Span("exact", 900, 3500), Span("fused", 3800, 6500)]
    red = reduce_event_log(_log(), 1000, 8000, spans)
    assert red.jobs == 3
    ex, fu, other = red.layers["exact"], red.layers["fused"], red.layers["other"]
    assert (ex.jobs, ex.tasks, ex.task_s, ex.gc_s) == (1, 2, 4.0, 0.1)
    assert ex.udf_run_s == 3.0 and ex.udf_mb_in == 4.0 and ex.busy_s == 2.0
    assert (fu.jobs, fu.tasks, fu.busy_s) == (1, 1, 2.0)
    assert fu.shuffle_read_mb == 5.0 and fu.shuffle_write_mb == 1.0
    assert (other.jobs, other.busy_s) == (1, 0.5)
    # 7 s window, 4.5 s of it with a job running
    assert red.gap_s == 2.5


def test_self_times_and_hooks():
    props = {}
    sc = SimpleNamespace(
        getLocalProperty=props.get, setLocalProperty=props.__setitem__
    )
    tracer = Tracer(SimpleNamespace(sparkContext=sc))
    with tracer.span("fused"):
        assert props[DESC] == "bench:fused"
        with tracer.span("verify"):
            assert props[DESC] == "bench:verify"
        assert props[DESC] == "bench:fused"
    assert props[DESC] is None
    # fix the clock: fused 1000..5000 ms holds verify 2000..3000 ms
    tracer.spans[0].start, tracer.spans[0].end = 1000, 5000
    tracer.spans[1].start, tracer.spans[1].end = 2000, 3000
    selfs = tracer.self_times(0, 6000)
    assert selfs == {"fused": 3.0, "verify": 1.0, "other": 2.0}
    assert tracer.hook_s > 0.0


def test_patch_and_close():
    props = {}
    sc = SimpleNamespace(
        getLocalProperty=props.get, setLocalProperty=props.__setitem__
    )
    tracer = Tracer(SimpleNamespace(sparkContext=sc))
    owner = SimpleNamespace(f=lambda x: (props.get(DESC), x))
    seen = []
    tracer.patch(owner, "f", lambda x: "components", on_result=seen.append)
    assert owner.f(3) == ("bench:components", 3)
    assert seen == [("bench:components", 3)]
    assert [s.layer for s in tracer.spans] == ["components"]
    tracer.close()
    assert owner.f(4) == (None, 4)
