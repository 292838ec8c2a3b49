"""Re-crawl upsert benchmark: what a 5%-mutation batch actually costs.

Bootstraps a corpus, then re-delivers a batch in which a fraction of
already-indexed urls carry CHANGED content (plus fresh urls), and times
  update_batch   — hide the affected clusters, re-ingest them with the
                   batch through add_batch's classification, one
                   tombstone flip (the upsert path)
  add_batch      — the same-size all-fresh batch (the append path)
  monolithic     — full pipeline rerun over the post-update corpus
Reports wall seconds (min of --reps) for each plus the ratios a daily
re-crawl cadence pays. Writes BENCH_UPDATE.json at the repo root.

Usage: python scripts/update_bench.py [--corpus N] [--batch M]
       [--mutate-frac F] [--cpus C] [--reps R]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    corpus = 50_000
    batch = 10_000
    mutate_frac = 0.05
    cpus = 32
    reps = 2
    if "--corpus" in sys.argv:
        corpus = int(sys.argv[sys.argv.index("--corpus") + 1])
    if "--batch" in sys.argv:
        batch = int(sys.argv[sys.argv.index("--batch") + 1])
    if "--mutate-frac" in sys.argv:
        mutate_frac = float(sys.argv[sys.argv.index("--mutate-frac") + 1])
    if "--cpus" in sys.argv:
        cpus = int(sys.argv[sys.argv.index("--cpus") + 1])
    if "--reps" in sys.argv:
        reps = int(sys.argv[sys.argv.index("--reps") + 1])

    from pcompress_spark.warmup import ensure_warm

    ensure_warm()

    from pyspark.sql import functions as F

    from pcompress_spark.config import PipelineConfig
    from pcompress_spark.datagen import gen_pages_spark
    from pcompress_spark.operators.incremental import IncrementalDedupIndex
    from pcompress_spark.pipeline import DedupPipeline
    from pcompress_spark.session import get_spark

    spark = get_spark("update-bench", master=f"local[{cpus}]")
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
    n_fresh = fresh_df.count()

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

    results: dict[str, list[float]] = {
        "update_batch_s": [],
        "add_batch_s": [],
        "monolithic_s": [],
    }
    for _ in range(reps):
        # --- update leg: fresh index each rep (bootstrap untimed)
        idx_dir = "/tmp/update_bench_idx"
        shutil.rmtree(idx_dir, ignore_errors=True)
        idx = IncrementalDedupIndex(spark, PipelineConfig(), idx_dir)
        idx.bootstrap(corpus_df)
        t0 = time.time()
        idx.update_batch(update_df)
        idx.assignments().count()
        results["update_batch_s"].append(round(time.time() - t0, 1))

        # --- add leg: same-size all-fresh batch on a fresh index
        shutil.rmtree(idx_dir, ignore_errors=True)
        idx = IncrementalDedupIndex(spark, PipelineConfig(), idx_dir)
        idx.bootstrap(corpus_df)
        add_df = fresh_df.limit(n_update).localCheckpoint()
        t0 = time.time()
        idx.add_batch(add_df)
        idx.assignments().count()
        results["add_batch_s"].append(round(time.time() - t0, 1))

        # --- monolithic leg: the post-update corpus from scratch
        post = (
            corpus_df.join(
                mutated.select("url"), "url", "left_anti"
            )
            .unionByName(update_df)
            .localCheckpoint()
        )
        ckpt = "/tmp/update_bench_full"
        shutil.rmtree(ckpt, ignore_errors=True)
        t0 = time.time()
        DedupPipeline(
            spark, PipelineConfig(), checkpoint_dir=ckpt, resume=False
        ).run(post).count()
        results["monolithic_s"].append(round(time.time() - t0, 1))
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(idx_dir, ignore_errors=True)

    mins = {k: min(v) for k, v in results.items()}
    out = {
        "corpus_docs": n_corpus,
        "update_batch_docs": n_update,
        "mutated_docs": n_mutated,
        "mutate_frac_of_batch": round(n_mutated / n_update, 3),
        "cpus": cpus,
        "reps": reps,
        "walls": results,
        "update_batch_s": mins["update_batch_s"],
        "add_batch_s": mins["add_batch_s"],
        "monolithic_s": mins["monolithic_s"],
        "update_vs_add": round(
            mins["update_batch_s"] / mins["add_batch_s"], 2
        ),
        "update_vs_rerun": round(
            mins["monolithic_s"] / mins["update_batch_s"], 2
        ),
        "note": (
            "update_vs_add is the upsert premium over a plain append of "
            "the same batch size; update_vs_rerun > 1 means the upsert "
            "beats recomputing the corpus"
        ),
    }
    line = json.dumps(out)
    print(line)
    with open(os.path.join(REPO, "BENCH_UPDATE.json"), "w") as fh:
        fh.write(line + "\n")


if __name__ == "__main__":
    main()
