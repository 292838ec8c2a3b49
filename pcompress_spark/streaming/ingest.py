"""Streaming ingestion — the analog of the reference's pipe mode.

The reference's `-p` pipe mode (pcompress.c:2404-2427) processes an
unbounded stdin stream through the same dedup machinery, accumulating the
global index across chunks. Spark-first shapes, two tiers:

1. **State-store global index** (`dedup_stream_global`): cross-batch
   identity dedup via `dropDuplicates(["text_sha"])` with NO watermark —
   Structured Streaming's keyed state store IS the global index
   (reference: `db_lookup_insert_s`, rabin/global/index.c:485-558).
   Per-batch cost is O(|batch|) point lookups regardless of how much
   history has accumulated — the property the round-1 anti-join (which
   re-read the whole `seen` table every batch) lacked. State is
   hash-partitioned across executors and persisted incrementally to the
   checkpoint location (RocksDB-backed at production scale; ~40 B/key —
   size `spark.sql.shuffle.partitions` so per-executor state fits disk).

2. **Durable shard-partitioned `seen` table** (`merge_batch`): the
   queryable identity index on storage. Written `partitionBy("shard")`
   with shard = pmod(xxhash64(text_sha), n_shards); each micro-batch
   anti-joins ONLY the shard partitions its rows actually hash into
   (partition pruning — the batch's shard list is pushed as a partition
   filter), not the whole history.

Delivery contract: foreachBatch is AT-LEAST-ONCE; the design is correct
because the merge is idempotent (a re-delivered batch anti-joins against
the rows its first delivery appended). The fuzzy channels
(MinHash/SimHash/winnow) stay batch jobs over the ingested table
(reference parity: its similarity index is also rebuilt per run, not per
pipe chunk).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from pcompress_spark.checkpoint import _HadoopFs
from pcompress_spark.datagen import PAGES_SCHEMA

N_SHARDS = 64


def read_pages_stream(
    spark: SparkSession, landing_dir: str, max_files_per_trigger: int = 16
) -> DataFrame:
    """File-source stream of pages parquet drops (S3/HDFS landing zone at
    production scale; maxFilesPerTrigger bounds micro-batch size)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(landing_dir)
    )


def dedup_stream(pages: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """In-stream identity prep: event-time watermark + url dedup + keys.

    `dropDuplicates` under a watermark keeps state bounded — late
    re-crawls beyond the watermark age out of state (acceptable: they are
    caught by the cross-batch `seen` index in `merge_batch`).
    """
    return (
        pages.withWatermark("warc_ts", watermark)
        .dropDuplicates(["url"])
        .withColumn("doc_id", F.xxhash64("url"))
        .withColumn("text_sha", F.sha2("text", 256))
    )


def dedup_stream_global(pages: DataFrame) -> DataFrame:
    """Cross-batch identity dedup with the state store as the global index.

    No watermark on the dedup key: every text_sha ever seen stays in keyed
    state, so a re-crawled page is dropped in O(1) per row no matter how
    old the original is. First-PROCESSED occurrence wins, which under the
    file source's name-ordered, maxFilesPerTrigger-bounded triggers is
    landing order — the streaming analog of backward refs
    (rabin_dedup.c:1606-1615).
    """
    return (
        pages.withColumn("doc_id", F.xxhash64("url"))
        .withColumn("text_sha", F.sha2("text", 256))
        .dropDuplicates(["text_sha"])
    )


def merge_batch(
    batch: DataFrame, seen_dir: str, n_shards: int = N_SHARDS
) -> tuple[int, int]:
    """foreachBatch body: anti-join the micro-batch against the persistent
    identity index, append only first-seen texts, return (new, dup) counts.

    Scale shape: `seen` is partitioned by shard = pmod(xxhash64(text_sha),
    n_shards); the anti-join reads only the shard partitions present in
    the batch (partition filter pushed to the scan) and only the
    (text_sha, shard) columns — batch cost tracks the touched slice of
    the index, not total history. Idempotent under at-least-once
    foreachBatch redelivery: re-delivered rows anti-join against their
    own first append.
    """
    spark = batch.sparkSession
    batch = (
        batch.select("url", "doc_id", "text_sha", "warc_ts")
        .withColumn(
            "shard", F.pmod(F.xxhash64("text_sha"), F.lit(n_shards)).cast("int")
        )
        .persist()
    )
    total = batch.count()
    # existence through the Hadoop FileSystem of seen_dir's scheme (an
    # os.path probe silently fails off the local filesystem); the read
    # declares the two columns it needs, so a table holding no data file
    # yet reads as empty instead of failing schema inference
    if _HadoopFs(spark, seen_dir).exists(seen_dir):
        shards = [r["shard"] for r in batch.select("shard").distinct().collect()]
        seen = spark.read.schema("text_sha string, shard int").parquet(seen_dir)
        fresh = batch.join(
            seen.filter(F.col("shard").isin(shards)).select("text_sha"),
            "text_sha",
            "left_anti",
        )
    else:
        fresh = batch
    # earliest occurrence within the batch wins: order by event time, then
    # doc_id for determinism (backward-ref semantics, rabin_dedup.c:1606-1615)
    w = Window.partitionBy("text_sha").orderBy("warc_ts", "doc_id")
    fresh = (
        fresh.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    n_new = fresh.count()
    fresh.write.mode("append").partitionBy("shard").parquet(seen_dir)
    batch.unpersist()
    return n_new, total - n_new


def run_ingest(
    spark: SparkSession,
    landing_dir: str,
    seen_dir: str,
    stream_ckpt: str,
    watermark: str = "1 hour",
):
    """Wire the stream: landing parquet -> dedup -> seen index. Returns the
    started StreamingQuery (availableNow: drain what exists, then stop —
    the batch-boundary mode the driver and tests use)."""
    stats: list[tuple[int, int]] = []

    def _each(batch: DataFrame, batch_id: int) -> None:
        stats.append(merge_batch(batch, seen_dir))

    q = (
        dedup_stream(read_pages_stream(spark, landing_dir), watermark)
        .writeStream.foreachBatch(_each)
        .option("checkpointLocation", stream_ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q._merge_stats = stats  # test hook
    return q


def run_ingest_neardup(
    spark: SparkSession,
    landing_dir: str,
    index_dir: str,
    stream_ckpt: str,
    cfg=None,
    max_files_per_trigger: int = 16,
):
    """Streaming NEAR-DUP ingestion: the full dedup pipeline as a stream.

    Each micro-batch is classified against the persisted incremental
    index (operators/incremental.py): identity sha tier, fused-key probe
    of the touched corpus slice, the unchanged candidate/verify/CC
    machinery, and append-only merge deltas — so cluster assignments
    accrue across micro-batches with EXACT full-run label parity, the
    streaming upgrade of the identity-only `run_ingest` above. The
    reference's pipe mode rebuilds its similarity index per run
    (SURVEY §2.8); this keeps it live across the stream.

    Safe under foreachBatch's at-least-once delivery: `add_batch` drops
    already-ingested doc_ids before any work (idempotent redelivery).
    Returns the started query; `q._index` exposes the
    IncrementalDedupIndex for reading `assignments()` after the drain.
    """
    from pcompress_spark.config import DEFAULT_CONFIG
    from pcompress_spark.operators.incremental import IncrementalDedupIndex

    idx = IncrementalDedupIndex(spark, cfg or DEFAULT_CONFIG, index_dir)

    def _each(batch: DataFrame, batch_id: int) -> None:
        if not batch.isEmpty():
            idx.add_batch(batch)

    q = (
        read_pages_stream(spark, landing_dir, max_files_per_trigger)
        .writeStream.foreachBatch(_each)
        .option("checkpointLocation", stream_ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q._index = idx  # test/read hook
    return q


def run_ingest_statestore(
    spark: SparkSession,
    landing_dir: str,
    seen_dir: str,
    stream_ckpt: str,
):
    """State-store variant: the stream itself holds the global identity
    index (dedup_stream_global), so foreachBatch only appends — no
    anti-join, no read of `seen` at all. Restarting from `stream_ckpt`
    restores the full index."""

    def _each(batch: DataFrame, batch_id: int) -> None:
        (
            batch.select("url", "doc_id", "text_sha", "warc_ts")
            .withColumn(
                "shard",
                F.pmod(F.xxhash64("text_sha"), F.lit(N_SHARDS)).cast("int"),
            )
            .write.mode("append")
            .partitionBy("shard")
            .parquet(seen_dir)
        )

    return (
        dedup_stream_global(read_pages_stream(spark, landing_dir))
        .writeStream.foreachBatch(_each)
        .option("checkpointLocation", stream_ckpt)
        .trigger(availableNow=True)
        .start()
    )


# events-table schema for the sessionization stream (TESTDATA.md events)
EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, "
    "event_type string, value double, props string"
)

SESSION_GAP = "30 minutes"


def sessionize(events: DataFrame, gap: str = SESSION_GAP) -> DataFrame:
    """Gap-based session windows per user — Spark's NATIVE event-time
    session operator (F.session_window), identical in batch and
    streaming:

      (user_id, session_start, session_end, n_events, value_cents)

    session_end follows Spark's semantics: last event ts + gap. value is
    aggregated in integer cents (floor(v*100+0.5) per row — the
    events_hourly convention) so the oracle is drift-free. The reference
    has no event-time operators (§2.8: pipe mode is sequential batch);
    this is the §2.8 upgrade path's windowed-state operator, and the
    session state is per-user — Spark partitions by the grouping key, so
    a hot user bounds one task's state, not the stage."""
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    return (
        events.groupBy(
            "user_id", F.session_window("ts", gap).alias("w")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(cents).cast("long").alias("value_cents"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "value_cents",
        )
    )


def run_sessionize_stream(
    spark: SparkSession,
    landing_dir: str,
    gap: str = SESSION_GAP,
    watermark: str = "2 hours",
    query_name: str = "sessions",
):
    """Streaming form of `sessionize`: the same session_window plan over
    readStream with an event-time watermark bounding state. APPEND mode —
    a session row emits once the watermark passes its close (the
    exactly-once finalization semantics a downstream table wants);
    sessions still open when the stream drains stay in state and do not
    emit. One file per micro-batch so the watermark actually advances
    across batches under the availableNow trigger. Returns the started
    StreamingQuery; emitted rows at `SELECT * FROM <query_name>`."""
    ev = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing_dir)
    )
    return (
        sessionize(ev.withWatermark("ts", watermark), gap)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
