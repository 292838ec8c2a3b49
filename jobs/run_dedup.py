"""spark-submit entry point for the dedup pipeline (SURVEY M8).

Cluster launch (the north-rule deployment shape — master/executor topology
comes from spark-submit, never hard-coded here):

    python scripts/make_pyfiles.py                       # -> dist/pcompress_spark.zip
    spark-submit --master <cluster> \
        --py-files dist/pcompress_spark.zip \
        jobs/run_dedup.py \
        --input  ice.pages_or_parquet_dir \
        --output /data/out/assignments \
        --checkpoint-dir /data/ckpt/run1 \
        --conf-override substring_min_len=2k

Scaling evidence runs the SAME file at two cluster sizes (N and 4N
executors; in-sandbox: local[2] vs local[8], see scripts/scaling_bench.py).

Input: parquet (or, when the Iceberg connector is on the classpath, an
`ice.`-prefixed table name) with columns (url, warc_ts, html, text, lang) —
the BASELINE input_hint shape. `--gen-docs N` synthesizes a deterministic
corpus instead, for smoke runs on boxes without data.

Output: assignments parquet (url, doc_id, cluster_id, representative_url,
is_representative) + checkpoints and `_lineage.json` under
--checkpoint-dir. Prints one JSON summary line prefixed `DEDUPRESULT `.

Operating modes (--mode): `full` is the monolithic run above;
`bootstrap`/`increment` persist/probe the incremental dedup index
(operators/incremental.py) so daily increments classify without
reprocessing the corpus (repeat --input to drain a queue of pending
batches in one action); `update` is the re-crawl upsert (changed urls
re-versioned and relabeled under an atomic tombstone commit); `stream`
drains a landing directory through the near-dup stream
(streaming/ingest.run_ingest_neardup). These modes write merge-resolved
(doc_id, cluster_id) assignments.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def parse_cli(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__)
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument(
        "--input", action="append",
        help="pages parquet path or ice.<table>; repeatable in "
             "increment mode — several pending batches drain in ONE "
             "classification action (add_batches queue coalescing)",
    )
    src.add_argument(
        "--gen-docs", type=int, help="synthesize N deterministic pages"
    )
    ap.add_argument("--output", required=True, help="assignments parquet dir")
    ap.add_argument(
        "--mode", default="full",
        choices=("full", "bootstrap", "increment", "update", "stream",
                 "curate"),
        help="full: monolithic pipeline run (default); bootstrap: full run "
             "that also persists the incremental index to --index-dir; "
             "increment: classify --input as a new batch against the "
             "index (repeat --input to drain a queue in one action); "
             "update: re-crawl upsert — changed-content urls are "
             "re-versioned/relabeled, fresh urls ingest (atomic "
             "tombstone commit); stream: drain --input as a landing dir "
             "of micro-batch drops through the near-dup stream "
             "(availableNow); curate: normalization + quality gate + "
             "cross-doc line dedup over the pages input -> curated pages "
             "at --output, drop report at <output>_report",
    )
    ap.add_argument(
        "--line-mode", default="newline",
        choices=("newline", "token_block", "off"),
        help="curate mode: cross-doc line dedup granularity (off skips "
             "the line rewrite)",
    )
    ap.add_argument(
        "--index-dir", default=None,
        help="incremental index location (bootstrap/increment/stream modes)",
    )
    ap.add_argument(
        "--stream-checkpoint", default=None,
        help="streaming checkpoint location (stream mode)",
    )
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument(
        "--no-resume", action="store_true",
        help="recompute even when checkpoints exist",
    )
    ap.add_argument(
        "--conf-override", action="append", default=[],
        metavar="FIELD=VALUE",
        help="PipelineConfig field override; size fields take k/m/g "
             "suffixes (repeatable)",
    )
    return ap.parse_args(argv)


def build_config(overrides: list[str]):
    from pcompress_spark.config import PipelineConfig

    kv: dict[str, object] = {}
    for item in overrides:
        k, _, v = item.partition("=")
        if not _:
            raise SystemExit(f"--conf-override needs FIELD=VALUE, got {item!r}")
        kv[k] = v
    return PipelineConfig.from_args(**kv)


def _load_one(spark, path: str):
    if path.startswith("ice."):
        return spark.read.table(path)
    return spark.read.parquet(path)


def load_pages(spark, args):
    if args.gen_docs is not None:
        from pcompress_spark.datagen import gen_pages_spark

        return gen_pages_spark(
            spark, args.gen_docs,
            partitions=spark.sparkContext.defaultParallelism * 2,
        )
    frames = [_load_one(spark, p) for p in args.input]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def load_batches(spark, args):
    """One DataFrame per --input occurrence (increment-mode queue)."""
    if args.gen_docs is not None:
        return [load_pages(spark, args)]
    return [_load_one(spark, p) for p in args.input]


def run_curate(spark, args, t0: float) -> int:
    """Curation tier as a job: deterministic text normalization ->
    same-url dedup + quality gate (drops logged by reason) -> optional
    cross-doc line dedup rewrite. Writes curated pages to --output and a
    per-reason drop report to <output>_report; prints one CURATERESULT
    JSON line. Every stage is the oracle-certified operator — this mode
    only composes them."""
    from pyspark.sql import functions as F

    from pcompress_spark.analysis.linedup import line_dedup_docs
    from pcompress_spark.analysis.webtext import (
        curation_gate_pages,
        normalize_text,
    )

    pages = load_pages(spark, args)
    norm = pages.withColumn("text", normalize_text(F.col("text")))
    kept, drop_log = curation_gate_pages(norm)
    n_lines_removed = None
    if args.line_mode != "off":
        docs = kept.withColumn("doc_id", F.xxhash64("url"))
        ld = line_dedup_docs(docs, text_col="text", mode=args.line_mode)
        kept = (
            docs.join(
                ld.select("doc_id", "text_dedup", "n_removed"), "doc_id"
            )
            .drop("text")
            .withColumnRenamed("text_dedup", "text")
            .withColumnRenamed("n_removed", "n_lines_removed")
            .drop("doc_id")
        )
    kept.write.mode("overwrite").parquet(args.output)
    report_dir = args.output.rstrip("/") + "_report"
    drop_log.write.mode("overwrite").parquet(report_dir)
    wall = round(time.time() - t0, 2)
    out = spark.read.parquet(args.output)
    n = out.count()
    if args.line_mode != "off":
        n_lines_removed = out.agg(
            F.sum("n_lines_removed").cast("long")
        ).collect()[0][0]
    reasons = {
        r["reason"]: r["n"]
        for r in spark.read.parquet(report_dir).collect()
    }
    print("CURATERESULT " + json.dumps({
        "docs_out": n,
        "drops_by_reason": {
            k: v for k, v in sorted(reasons.items()) if k != "ok"
        },
        "lines_removed": n_lines_removed,
        "wall_s": wall,
        "output": args.output,
        "report": report_dir,
    }))
    return 0


def main(argv: list[str]) -> int:
    args = parse_cli(argv)
    # SparkSession from spark-submit's conf — builder.getOrCreate() picks up
    # --master/--num-executors/--conf; only job-level SQL tuning is added
    # here, matching session.get_spark's pipeline settings.
    from pcompress_spark.session import get_spark

    spark = get_spark("pcompress-dedup")
    from pcompress_spark.pipeline import DedupPipeline

    cfg = build_config(args.conf_override)
    if (args.mode in ("bootstrap", "increment", "update", "stream")
            and not args.index_dir):
        raise SystemExit(f"--mode {args.mode} requires --index-dir")
    if args.mode not in ("increment",) and args.input and len(args.input) > 1:
        raise SystemExit("multiple --input paths are an increment-mode "
                         "queue; other modes take one input")
    t0 = time.time()
    if args.mode == "curate":
        return run_curate(spark, args, t0)
    if args.mode == "stream":
        # --input is a LANDING DIRECTORY of parquet drops, not one table
        if not args.input:
            raise SystemExit("--mode stream requires --input <landing dir>")
        from pcompress_spark.streaming.ingest import run_ingest_neardup

        q = run_ingest_neardup(
            spark, args.input[0], args.index_dir,
            args.stream_checkpoint or f"{args.index_dir}/_stream_ckpt",
            cfg=cfg,
        )
        q.awaitTermination()
        assignments = q._index.assignments()
    elif args.mode in ("bootstrap", "increment", "update"):
        from pcompress_spark.operators.incremental import IncrementalDedupIndex

        idx = IncrementalDedupIndex(spark, cfg, args.index_dir)
        if args.mode == "bootstrap":
            idx.bootstrap(load_pages(spark, args))
        elif args.mode == "update":
            idx.update_batch(load_pages(spark, args))
        else:
            idx.add_batches(load_batches(spark, args))
        assignments = idx.assignments()
    else:
        pages = load_pages(spark, args)
        assignments = DedupPipeline(
            spark, cfg,
            checkpoint_dir=args.checkpoint_dir,
            resume=not args.no_resume,
        ).run(pages)
    assignments.write.mode("overwrite").parquet(args.output)
    # the engine window ends at the committed write — the audit re-reads
    # below are bookkeeping and must not deflate the reported docs/s
    wall = round(time.time() - t0, 2)
    out = spark.read.parquet(args.output)
    n = out.count()
    n_clusters = out.select("cluster_id").distinct().count()
    print("DEDUPRESULT " + json.dumps({
        "docs": n,
        "clusters": n_clusters,
        "dup_ratio": round(1.0 - n_clusters / n, 4) if n else 0.0,
        "wall_s": wall,
        "docs_per_sec": round(n / wall, 1) if wall else None,
        "output": args.output,
        "parallelism": spark.sparkContext.defaultParallelism,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
