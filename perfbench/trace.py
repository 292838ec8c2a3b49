"""Layer spans around the program's public calls, and the event-log reducer.

Tracing is measured from outside the program: ``Tracer`` wraps the public
entry points of each layer (``CheckpointManager.materialize`` per stage,
``verify.verify_edges`` and the ``cluster_labels`` the pipeline imports),
records a span per call and tags the call's Spark jobs with a
``bench:<layer>`` job description. ``reduce_event_log`` then turns a
Spark event log into per-layer numbers for one timed window.

A job is attributed to the ``bench:`` layer its description names, else
to the innermost span open at its submit time. Jobs submitted from plain
worker threads (the pipeline's concurrent drop-log writes) carry no
description and land in the span that was open.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

# batch stages as the checkpoint manager names them -> benchmark layer
STAGE_LAYERS = {
    "sigs": "exact",
    "candidates": "fused",
    "edges": "verify",
    "assignments": "assign",
}
ROOT = "other"  # time in the window outside every layer span

_WANTED = (
    "SparkListenerJobStart",
    "SparkListenerJobEnd",
    "SparkListenerTaskEnd",
)
_UDF_RUN = "time to run Python workers"  # ms
_UDF_IN = "data sent to Python workers"  # bytes
_UDF_OUT = "data returned from Python workers"  # bytes

DESC = "spark.job.description"


def now_ms() -> int:
    return int(time.time() * 1000)


@dataclass
class Span:
    layer: str
    start: int
    end: int | None = None
    parent: int | None = None


class Tracer:
    """Records nested layer spans and patches layer entry points.

    ``patch`` swaps a module or class attribute for a wrapper that opens a
    span around each call; ``close`` puts every original back."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.hook_s = 0.0  # time spent in the tracer's own bookkeeping
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, layer: str):
        h0 = time.perf_counter()
        prev = self.sc.getLocalProperty(DESC)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(layer, now_ms(), parent=parent))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        self.sc.setLocalProperty(DESC, f"bench:{layer}")
        self.hook_s += time.perf_counter() - h0
        try:
            yield
        finally:
            h0 = time.perf_counter()
            self.spans[idx].end = now_ms()
            self._stack.pop()
            self.sc.setLocalProperty(DESC, prev)
            self.hook_s += time.perf_counter() - h0

    def patch(self, owner, attr: str, layer_of, on_result=None) -> None:
        """Wrap ``owner.attr``; ``layer_of(*args)`` names the span's layer
        (None: no span). ``on_result`` sees each call's return value."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            layer = layer_of(*args, **kwargs)
            if layer is None:
                out = orig(*args, **kwargs)
            else:
                with tracer.span(layer):
                    out = orig(*args, **kwargs)
            if on_result is not None:
                h0 = time.perf_counter()
                on_result(out)
                tracer.hook_s += time.perf_counter() - h0
            return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def close(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def self_times(self, t0: int, t1: int) -> dict[str, float]:
        """Seconds per layer of span time not covered by a child span.
        Time in [t0, t1] outside every span is the root layer's."""
        out: dict[str, float] = defaultdict(float)
        child = defaultdict(int)
        top = 0
        for s in self.spans:
            d = s.end - s.start
            out[s.layer] += d / 1000.0
            if s.parent is None:
                top += d
            else:
                child[s.parent] += d
        for i, d in child.items():
            out[self.spans[i].layer] -= d / 1000.0
        out[ROOT] += (t1 - t0 - top) / 1000.0
        return dict(out)


@dataclass
class LayerStats:
    jobs: int = 0
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    udf_run_s: float = 0.0
    udf_mb_in: float = 0.0
    udf_mb_out: float = 0.0
    intervals: list[tuple[int, int]] = field(default_factory=list)

    @property
    def busy_s(self) -> float:
        return _union_ms(self.intervals) / 1000.0


@dataclass
class Reduction:
    layers: dict[str, LayerStats]
    gap_s: float  # window time with no Spark job running
    jobs: int


def _union_ms(intervals) -> int:
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _events(lines):
    """Parse only the events the reducer reads. Plan-carrying SQL events
    make up most of a log's bytes; the name test skips them unparsed."""
    for line in lines:
        if not line.startswith('{"Event":"'):
            continue
        name = line[10 : line.find('"', 10)]
        if name in _WANTED:
            yield json.loads(line)


def reduce_event_log(
    lines, t0: int, t1: int, spans: list[Span] = ()
) -> Reduction:
    """Per-layer job/task totals for the jobs submitted in [t0, t1] ms."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks = []
    for ev in _events(lines):
        e = ev["Event"]
        if e == "SparkListenerJobStart":
            jid = ev["Job ID"]
            jobs[jid] = {
                "start": ev["Submission Time"],
                "end": None,
                "desc": (ev.get("Properties") or {}).get(DESC),
            }
            for sid in ev["Stage IDs"]:
                stage_job.setdefault(sid, jid)
        elif e == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        else:
            tasks.append(ev)

    inwin = {
        jid: j
        for jid, j in jobs.items()
        if t0 <= j["start"] <= t1 and j["end"] is not None
    }
    # innermost-first: a later-starting open span is nested deeper
    spans = sorted(
        (s for s in spans if s.end is not None), key=lambda s: s.start, reverse=True
    )

    def layer_of(j) -> str:
        d = j["desc"] or ""
        if d.startswith("bench:"):
            return d[6:]
        for s in spans:
            if s.start <= j["start"] <= s.end:
                return s.layer
        return ROOT

    layers: dict[str, LayerStats] = defaultdict(LayerStats)
    job_layer = {}
    for jid, j in inwin.items():
        st = layers[layer_of(j)]
        job_layer[jid] = st
        st.jobs += 1
        st.intervals.append((j["start"], min(j["end"], t1)))
    for ev in tasks:
        st = job_layer.get(stage_job.get(ev["Stage ID"]))
        if st is None:
            continue
        tm = ev.get("Task Metrics") or {}
        st.tasks += 1
        st.task_s += tm.get("Executor Run Time", 0) / 1000.0
        st.gc_s += tm.get("JVM GC Time", 0) / 1000.0
        rd = tm.get("Shuffle Read Metrics") or {}
        st.shuffle_read_mb += (
            rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
        ) / 1e6
        wr = tm.get("Shuffle Write Metrics") or {}
        st.shuffle_write_mb += wr.get("Shuffle Bytes Written", 0) / 1e6
        for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
            name = acc.get("Name")
            if name == _UDF_RUN:
                st.udf_run_s += int(acc.get("Update", 0)) / 1000.0
            elif name == _UDF_IN:
                st.udf_mb_in += int(acc.get("Update", 0)) / 1e6
            elif name == _UDF_OUT:
                st.udf_mb_out += int(acc.get("Update", 0)) / 1e6
    busy = [
        (max(j["start"], t0), min(j["end"], t1)) for j in inwin.values()
    ]
    gap_s = (t1 - t0 - _union_ms(busy)) / 1000.0
    return Reduction(dict(layers), gap_s, len(inwin))
