"""Re-crawl upsert benchmark and per-phase trace of the incremental path.

Bootstraps a corpus, then re-delivers a batch in which a fraction of
already-indexed urls carry CHANGED content (plus fresh urls), and times
  update_batch   — hide the affected clusters, re-ingest them with the
                   batch through add_batch's classification, one
                   tombstone flip (the upsert path)
  add_batch      — the same-size all-fresh batch (the append path)
  monolithic     — full pipeline rerun over the post-update corpus
Reports wall seconds (min of --reps) for each plus the ratios a daily
re-crawl cadence pays.

The trace is perfbench's instrument: the session runs with the Spark
event log on (`perfbench.env.start_session`), every
`IncrementalDedupIndex._phase` call is recorded as a mark, and after the
session stops the fastest rep of the update_batch and add_batch legs is
reduced with `perfbench.trace.reduce_event_log`, one span per phase (a
mark to the next one). Per phase: self_s (span time), wall_s (time any
of its jobs ran), task/GC/Python-UDF seconds, jobs, tasks and shuffle MB;
per leg: the driver gap (window time with no job running), the job count
and residual_s = wall - sum of phase wall_s - gap. The leg's time
outside every phase (the closing `assignments().count()`) is `other`.

The session runs at local[<cores>], the process's CPU affinity: run it
under `taskset -c 0-3` to use four cores. Writes BENCH_UPDATE.json at the
repo root; run it from a scratch copy to leave the tracked record as it
is (BENCH_UPDATE_local.json is a 4-core run).

Usage: python scripts/update_bench.py [--corpus N] [--batch M]
       [--mutate-frac F] [--reps R]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
from contextlib import contextmanager

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench import env  # noqa: E402
from perfbench.trace import (  # noqa: E402
    ROOT,
    LayerStats,
    Span,
    now_ms,
    reduce_event_log,
)


@contextmanager
def phase_marks(marks: list[tuple[str, int]]):
    """Append (name, ms) for every IncrementalDedupIndex._phase call."""
    from pcompress_spark.operators.incremental import IncrementalDedupIndex

    orig = IncrementalDedupIndex._phase

    def marked(self, name: str) -> None:
        marks.append((name, now_ms()))
        orig(self, name)

    IncrementalDedupIndex._phase = marked
    try:
        yield
    finally:
        IncrementalDedupIndex._phase = orig


def timed(marks: list[tuple[str, int]], call, then=None) -> dict:
    """Time call() and then() as one window; the phases of call() end
    where it returns."""
    t0 = now_ms()
    call()
    marks.append((ROOT, now_ms()))
    if then is not None:
        then()
    t1 = now_ms()
    return {"t0": t0, "t1": t1, "wall_s": (t1 - t0) / 1000.0}


def phase_spans(marks, t0: int, t1: int) -> list[Span]:
    """One span per phase mark in [t0, t1], ending at the next mark."""
    inwin = sorted((ms, name) for name, ms in marks if t0 <= ms <= t1)
    ends = [ms for ms, _ in inwin[1:]] + [t1]
    return [
        Span(name, ms, end)
        for (ms, name), end in zip(inwin, ends)
        if name != ROOT
    ]


def trace_leg(lines, marks, leg: dict) -> dict:
    """Per-phase numbers of one timed window from the event log."""
    t0, t1 = leg["t0"], leg["t1"]
    spans = phase_spans(marks, t0, t1)
    red = reduce_event_log(lines, t0, t1, spans)
    self_s = {ROOT: leg["wall_s"]}
    for s in spans:
        self_s[s.layer] = self_s.get(s.layer, 0.0) + (s.end - s.start) / 1000.0
        self_s[ROOT] -= (s.end - s.start) / 1000.0
    phases = {}
    for name in sorted(self_s.keys() | red.layers.keys()):
        st = red.layers.get(name, LayerStats())
        phases[name] = {
            k: round(v, 3)
            for k, v in (
                ("self_s", self_s.get(name, 0.0)),
                ("wall_s", st.busy_s),
                ("task_s", st.task_s),
                ("gc_s", st.gc_s),
                ("udf_run_s", st.udf_run_s),
                ("jobs", st.jobs),
                ("tasks", st.tasks),
                ("shuffle_read_mb", st.shuffle_read_mb),
                ("shuffle_write_mb", st.shuffle_write_mb),
            )
        }
    busy = sum(st.busy_s for st in red.layers.values())
    return {
        "wall_s": leg["wall_s"],
        "phases": phases,
        "driver": {"gap_s": round(red.gap_s, 3), "jobs": red.jobs},
        "residual_s": round(leg["wall_s"] - busy - red.gap_s, 3),
    }


def main() -> None:
    corpus = 50_000
    batch = 10_000
    mutate_frac = 0.05
    reps = 2
    if "--corpus" in sys.argv:
        corpus = int(sys.argv[sys.argv.index("--corpus") + 1])
    if "--batch" in sys.argv:
        batch = int(sys.argv[sys.argv.index("--batch") + 1])
    if "--mutate-frac" in sys.argv:
        mutate_frac = float(sys.argv[sys.argv.index("--mutate-frac") + 1])
    if "--reps" in sys.argv:
        reps = int(sys.argv[sys.argv.index("--reps") + 1])

    work = tempfile.mkdtemp(prefix="update_bench_")
    for sub in ("events", "tmp"):
        os.makedirs(os.path.join(work, sub))
    try:
        out = run(work, corpus, batch, mutate_frac, reps)
    finally:
        env.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    line = json.dumps(out)
    print(line)
    with open(os.path.join(REPO, "BENCH_UPDATE.json"), "w") as fh:
        fh.write(line + "\n")


def run(work: str, corpus: int, batch: int, mutate_frac: float, reps: int):
    from pcompress_spark.warmup import ensure_warm

    ensure_warm()

    from pyspark.sql import functions as F

    from pcompress_spark.config import PipelineConfig
    from pcompress_spark.datagen import gen_pages_spark
    from pcompress_spark.operators.incremental import IncrementalDedupIndex
    from pcompress_spark.pipeline import DedupPipeline

    spark = env.start_session(work, event_log=True)
    spark.range(1000).selectExpr("sum(id)").collect()

    total = corpus + batch
    all_path = f"/tmp/update_bench_input_{total}"
    if not os.path.exists(os.path.join(all_path, "_SUCCESS")):
        gen_pages_spark(spark, total, partitions=64).write.mode(
            "overwrite"
        ).parquet(all_path)
    pages = spark.read.parquet(all_path)
    nb = max(2, total // batch)
    split = F.pmod(F.xxhash64("url"), F.lit(nb))
    corpus_df = pages.filter(split != 0).localCheckpoint()
    fresh_df = pages.filter(split == 0).localCheckpoint()
    n_corpus = corpus_df.count()

    # the update batch: `mutate_frac` of the CORPUS urls re-crawled with
    # changed content (deterministic edit), padded with fresh urls to the
    # same batch size as the add_batch leg
    n_mut = max(1, int(batch * mutate_frac))
    mutated = (
        corpus_df.filter(
            F.pmod(F.xxhash64("url", F.lit(13)), F.lit(n_corpus)) < n_mut
        )
        .withColumn(
            "text",
            F.concat(F.col("text"), F.lit(" [recrawl-edit v2 appended]")),
        )
        .localCheckpoint()
    )
    n_mutated = mutated.count()
    pad = fresh_df.limit(batch - n_mutated).localCheckpoint()
    update_df = mutated.unionByName(pad).localCheckpoint()
    n_update = update_df.count()

    idx_dir = os.path.join(work, "idx")
    ckpt = os.path.join(work, "full")
    marks: list[tuple[str, int]] = []
    legs: dict[str, list[dict]] = {
        "update_batch": [],
        "add_batch": [],
        "monolithic": [],
    }
    try:
        with phase_marks(marks):
            for _ in range(reps):
                # --- update leg: fresh index each rep (bootstrap untimed)
                shutil.rmtree(idx_dir, ignore_errors=True)
                idx = IncrementalDedupIndex(spark, PipelineConfig(), idx_dir)
                idx.bootstrap(corpus_df)
                legs["update_batch"].append(
                    timed(
                        marks,
                        lambda: idx.update_batch(update_df),
                        lambda: idx.assignments().count(),
                    )
                )

                # --- add leg: same-size all-fresh batch on a fresh index
                shutil.rmtree(idx_dir, ignore_errors=True)
                idx = IncrementalDedupIndex(spark, PipelineConfig(), idx_dir)
                idx.bootstrap(corpus_df)
                add_df = fresh_df.limit(n_update).localCheckpoint()
                legs["add_batch"].append(
                    timed(
                        marks,
                        lambda: idx.add_batch(add_df),
                        lambda: idx.assignments().count(),
                    )
                )

                # --- monolithic leg: the post-update corpus from scratch
                post = (
                    corpus_df.join(mutated.select("url"), "url", "left_anti")
                    .unionByName(update_df)
                    .localCheckpoint()
                )
                shutil.rmtree(ckpt, ignore_errors=True)
                pipe = DedupPipeline(
                    spark, PipelineConfig(), checkpoint_dir=ckpt, resume=False
                )
                legs["monolithic"].append(
                    timed(marks, lambda: pipe.run(post).count())
                )
                shutil.rmtree(ckpt, ignore_errors=True)
                shutil.rmtree(idx_dir, ignore_errors=True)
    finally:
        env.stop_session(spark)

    (log,) = os.listdir(os.path.join(work, "events"))
    trace = {}
    for name in ("update_batch", "add_batch"):
        best = min(legs[name], key=lambda leg: leg["wall_s"])
        with open(os.path.join(work, "events", log)) as fh:
            trace[name] = trace_leg(fh, marks, best)

    walls = {f"{k}_s": [round(leg["wall_s"], 1) for leg in v] for k, v in legs.items()}
    mins = {k: min(v) for k, v in walls.items()}
    return {
        "corpus_docs": n_corpus,
        "update_batch_docs": n_update,
        "mutated_docs": n_mutated,
        "mutate_frac_of_batch": round(n_mutated / n_update, 3),
        "cpus": env.cores(),
        "reps": reps,
        "walls": walls,
        **mins,
        "update_vs_add": round(mins["update_batch_s"] / mins["add_batch_s"], 2),
        "update_vs_rerun": round(
            mins["monolithic_s"] / mins["update_batch_s"], 2
        ),
        "trace": trace,
        "note": (
            "update_vs_add is the upsert premium over a plain append of "
            "the same batch size; update_vs_rerun > 1 means the upsert "
            "beats recomputing the corpus; trace holds the fastest rep of "
            "each incremental leg, per phase"
        ),
    }


if __name__ == "__main__":
    main()
