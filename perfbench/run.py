"""Dedup benchmark: one workload per invocation, one JSON result line.

    python3 perfbench/run.py --workload batch_r1 --seed 3 --seconds 10 --trace 0

Run from the repository root (any directory whose ``pcompress_spark/``
sits next to ``perfbench/``). Both workloads time one cold-checkpoint
``DedupPipeline.run`` over the same corpus: one datagen block of 1,000
docs with its planted class mix (449 planted pairs at seed 0):

  batch_r1  the reference config (b=20, r=1): fused candidates with the
            signature prefilter folded in.
  batch_r2  b=10/r=2: the r>1 candidate fork (no prefilter, band screen,
            null-rank degree cap); the signature work is the same.

The seed picks the corpus (``planted.offset_for``). Set-up (memory
warm-up, corpus generation, session start) happens once; then reps run
until ``--seconds`` have passed (at least one; a rep takes longer than
ten seconds, so a short ``--seconds`` gives one rep). Every rep is
checked against the planted truth (``planted.Score.ok``).

``--trace 0`` prints the end-to-end metrics (medians over reps).
``--trace 1`` runs the session with the Spark event log on, wraps each
layer's entry point in a span, runs one rep and prints the per-layer
metrics. README.md in this directory maps each layer to the end-to-end
metrics it moves.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, ROOT)

# one datagen block: a block lays its classes out in index ranges
# (uniques first), so a shorter slice would hold no duplicates
CORPUS_DOCS = 1000
FILES = 8  # parquet files per generated corpus

END_TO_END = {
    "wall_s": "s",
    "docs_per_s": "docs/s",
    "setup_s": "s",
    "planted_recall": "ratio",
}


def _per_layer() -> dict[str, str]:
    out = {}
    for layer, names in (
        ("exact", "wall_s self_s task_s gc_s udf_run_s udf_mb_in udf_mb_out rows"),
        (
            "fused",
            "wall_s self_s task_s gc_s shuffle_write_mb shuffle_read_mb jobs "
            "tasks pairs_kept keep_ratio star_buckets prefilter_drops "
            "degree_cap_drops",
        ),
        (
            "verify",
            "wall_s self_s task_s udf_run_s shuffle_read_mb pairs_in edge_yield",
        ),
        ("components", "wall_s self_s edges_in jobs driver_path"),
        ("assign", "wall_s self_s"),
        ("checkpoint", "bytes_mb files lineage_s"),
        ("memory", "peak_rss_mb"),
        ("other", "wall_s self_s"),
        ("driver", "gap_s jobs"),
        ("trace", "wall_s overhead_s residual_s"),
    ):
        for n in names.split():
            out[f"{layer}.{n}"] = _unit(n)
    return out


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if "_mb" in name:
        return "MB"
    if name in ("keep_ratio", "edge_yield"):
        return "ratio"
    if name == "driver_path":
        return "flag"
    return "count"


PER_LAYER = _per_layer()


def _rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def _read_pdf(path: str, *cols):
    import pandas as pd

    return pd.read_parquet(path, columns=list(cols))


class BatchWorkload:
    """Cold-checkpoint ``DedupPipeline.run`` over a pre-written corpus."""

    def __init__(self, cfg) -> None:
        self.cfg = cfg
        self.corpus = os.path.join(WORK, "corpus")
        self.ckpt = os.path.join(WORK, "ckpt")
        self.emitted = []  # bucket-pair frames captured while traced

    def generate(self, seed: int) -> None:
        from perfbench import planted

        off = planted.offset_for(seed)
        indices = range(off, off + CORPUS_DOCS)
        planted.write_pages(indices, self.corpus, FILES)
        self.truth = planted.Truth(indices, self.cfg)
        self.docs = len(indices)

    def prepare_rep(self) -> None:
        _rmtree(self.ckpt)

    def timed(self, spark) -> None:
        from pcompress_spark.pipeline import DedupPipeline

        pages = spark.read.parquet(self.corpus)
        pipe = DedupPipeline(spark, self.cfg, checkpoint_dir=self.ckpt, resume=False)
        pipe.run(pages).count()

    def check(self):
        from perfbench import planted

        a = _read_pdf(os.path.join(self.ckpt, "assignments"), "url", "cluster_id")
        return self.truth.score(
            {planted.index_of(u): c for u, c in zip(a["url"], a["cluster_id"])}
        )

    def instrument(self, tracer) -> None:
        from pcompress_spark import pipeline
        from pcompress_spark.checkpoint import CheckpointManager
        from pcompress_spark.operators import fused, verify

        from perfbench.trace import STAGE_LAYERS

        tracer.patch(
            CheckpointManager,
            "materialize",
            lambda _self, name, *a, **k: STAGE_LAYERS.get(name),
        )
        tracer.patch(verify, "verify_edges", lambda *a, **k: "verify")
        tracer.patch(pipeline, "cluster_labels", lambda *a, **k: "components")
        # no span: the pairs are lazy; they are counted after the window
        tracer.patch(
            fused,
            "bucket_pairs",
            lambda *a, **k: None,
            on_result=lambda out: self.emitted.append(out[0]),
        )

    def layer_counts(self) -> dict[str, float]:
        """Counts read from the run's own checkpoint directory."""
        import pandas as pd

        from pcompress_spark.operators.components import DRIVER_CC_MAX_EDGES

        with open(os.path.join(self.ckpt, "_lineage.json")) as fh:
            recs = [json.loads(x) for x in fh if x.strip()]
        stages = {r["stage"]: r for r in recs if "n_partitions" in r}

        def log_rows(name: str, col: str | None = None) -> int:
            path = os.path.join(self.ckpt, name)
            if not os.path.isdir(path):
                return 0
            df = pd.read_parquet(path)
            return int(df[col].sum()) if col else len(df)

        kept = stages["candidates"]["rows"]
        edges = _read_pdf(os.path.join(self.ckpt, "edges"), "kind")
        fuzzy = int((edges["kind"] != "exact").sum())
        emitted = sum(
            p.select("id_a", "id_b").distinct().count() for p in self.emitted
        )
        return {
            "exact.rows": stages["sigs"]["rows"],
            "fused.pairs_kept": kept,
            "fused.keep_ratio": kept / emitted if emitted else 0.0,
            "fused.star_buckets": sum(
                log_rows(f"_hot_buckets_{c}") for c in ("lsh", "simhash", "winnow")
            ),
            "fused.prefilter_drops": log_rows("_prefilter", "n_dropped") // 2,
            "fused.degree_cap_drops": log_rows("_degree_cap", "n_dropped") // 2,
            "verify.pairs_in": kept,
            "verify.edge_yield": fuzzy / kept if kept else 0.0,
            "components.edges_in": len(edges),
            "components.driver_path": int(len(edges) <= DRIVER_CC_MAX_EDGES),
            "checkpoint.bytes_mb": sum(r["bytes"] for r in stages.values()) / 1e6,
            "checkpoint.files": sum(r["n_partitions"] for r in stages.values()),
            "checkpoint.lineage_s": sum(r["wall_ms"] for r in stages.values()) / 1e3,
        }


def workloads():
    from pcompress_spark.config import PipelineConfig

    return {
        "batch_r1": lambda: BatchWorkload(PipelineConfig()),
        "batch_r2": lambda: BatchWorkload(PipelineConfig(lsh_bands=10, lsh_rows=2)),
    }


def measure(w, spark) -> dict:
    """One rep: per-rep set-up, the timed call, then the correctness check."""
    from perfbench.env import PeakRss
    from perfbench.trace import now_ms

    rep = {"ok": False}
    s0 = time.perf_counter()
    w.prepare_rep()
    rep["setup_s"] = time.perf_counter() - s0
    try:
        with PeakRss() as rss:
            rep["t0"] = now_ms()
            t0 = time.perf_counter()
            w.timed(spark)
            rep["wall_s"] = time.perf_counter() - t0
            rep["t1"] = now_ms()
        rep["peak_rss_mb"] = rss.peak_mb
        score = w.check()
    except Exception:  # a failed rep is counted, not fatal
        traceback.print_exc()
        return rep
    _log(f"rep wall {rep['wall_s']:.2f} s, rss {rep['peak_rss_mb']:.0f} MB, {score}")
    rep["planted_recall"] = score.planted_recall
    rep["ok"] = score.ok
    if not score.ok:
        print(f"rep failed the correctness gate: {score}", file=sys.stderr)
    return rep


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _median(vals) -> float:
    vals = list(vals)
    return statistics.median(vals) if vals else 0.0


def traced_metrics(tracer, rep: dict, counts: dict) -> dict:
    """Per-layer metrics of one traced rep, from the event log (read after
    the session stopped and flushed it), the tracer's spans and the
    workload's own counts."""
    from perfbench.trace import reduce_event_log

    (log,) = os.listdir(os.path.join(WORK, "events"))
    with open(os.path.join(WORK, "events", log)) as fh:
        red = reduce_event_log(fh, rep["t0"], rep["t1"], tracer.spans)
    selfs = tracer.self_times(rep["t0"], rep["t1"])
    m = dict.fromkeys(PER_LAYER, 0.0)
    for layer, st in red.layers.items():
        for key, val in (
            ("wall_s", st.busy_s),
            ("task_s", st.task_s),
            ("gc_s", st.gc_s),
            ("jobs", st.jobs),
            ("tasks", st.tasks),
            ("shuffle_read_mb", st.shuffle_read_mb),
            ("shuffle_write_mb", st.shuffle_write_mb),
            ("udf_run_s", st.udf_run_s),
            ("udf_mb_in", st.udf_mb_in),
            ("udf_mb_out", st.udf_mb_out),
        ):
            if f"{layer}.{key}" in m:
                m[f"{layer}.{key}"] = val
    for layer, s in selfs.items():
        if f"{layer}.self_s" in m:
            m[f"{layer}.self_s"] = s
    m.update(counts)
    busy = sum(st.busy_s for st in red.layers.values())
    # per layer, not end to end: the JVM's share swings with G1 heap
    # sizing (2.0-2.6 GB on one corpus), too widely to gate on
    m["memory.peak_rss_mb"] = rep["peak_rss_mb"]
    m["driver.gap_s"] = red.gap_s
    m["driver.jobs"] = red.jobs
    m["trace.wall_s"] = rep["wall_s"]
    m["trace.overhead_s"] = tracer.hook_s
    m["trace.residual_s"] = rep["wall_s"] - busy - red.gap_s
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "pcompress_spark")):
        print(f"perfbench: no pcompress_spark/ package under {ROOT}", file=sys.stderr)
        return 2
    from perfbench import env

    make = workloads().get(args.workload)
    if make is None:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    _rmtree(WORK)
    env.prepare(ROOT, WORK)
    try:
        return _run(make(), args)
    finally:
        env.stop_jvm()
        _rmtree(WORK)


def _run(w, args) -> int:
    from pcompress_spark.warmup import ensure_warm

    from perfbench import env
    from perfbench.trace import Tracer

    t_setup = time.perf_counter()
    ensure_warm(budget_s=5)
    w.generate(args.seed)
    spark = env.start_session(WORK, event_log=bool(args.trace))
    setup_s = time.perf_counter() - t_setup
    _log(f"set-up {setup_s:.2f} s")

    if args.trace:
        tracer = Tracer(spark)
        w.instrument(tracer)
        try:
            reps = [measure(w, spark)]
            counts = w.layer_counts() if reps[0]["ok"] else None
        finally:
            tracer.close()
            env.stop_session(spark)
        metrics = {} if counts is None else traced_metrics(tracer, reps[0], counts)
        units = PER_LAYER
    else:
        reps = []
        t_meas = time.perf_counter()
        while not reps or time.perf_counter() - t_meas < args.seconds:
            reps.append(measure(w, spark))
        good = [r for r in reps if r["ok"]]
        metrics = {
            "wall_s": _median(r["wall_s"] for r in good),
            "docs_per_s": _median(w.docs / r["wall_s"] for r in good),
            # set-up once per run, plus the per-rep checkpoint clean-up
            "setup_s": setup_s + _median(r["setup_s"] for r in reps),
            "planted_recall": _median(r["planted_recall"] for r in good),
        }
        units = END_TO_END
        env.stop_session(spark)
    failed = sum(1 for r in reps if not r["ok"])
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(reps),
                "failed": failed,
                "metrics": {
                    k: {"value": float(metrics.get(k, 0.0)), "unit": u}
                    for k, u in units.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
