"""SparkSession factory.

Local-mode test/bench sessions; on a real cluster the same builder is used
with master/deploy settings supplied by spark-submit. Iceberg catalog
configuration is applied when the runtime has the Iceberg connector on the
classpath (production); the sandbox falls back to parquet checkpoints.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory() -> str:
    """Driver heap for `spark.driver.memory`: `SPARK_DRIVER_MEM` verbatim
    when set, else half of physical memory in whole GiB, between 1g and 48g.

    A heap cap above what the machine has lets the collector defer work
    until the JVM's RSS outgrows physical memory: under a fixed 48g cap a
    long-lived local JVM on a 16 GB box grew past 15 GB and was OOM-killed.
    Boxes with >= 96 GB keep 48g.
    """
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{max(1, min(48, phys // 2 // (1 << 30)))}g"


def get_spark(
    app_name: str = "pcompress_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 2048,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the dedup pipeline.

    - AQE on (runtime coalesce, skew-join splitting) — replaces the
      reference's static index-mode selection (rabin/global/index.c:119-215).
    - AQE may re-partition a persisted plan's output
      (`canChangeCachedPlanOutputPartitioning`; Spark's default is false).
      Off, every cached intermediate (bucket stats, ranked candidates,
      pair Jaccard) runs at the full `spark.sql.shuffle.partitions`
      however few rows it holds, and each of those tasks pays the
      pandas-UDF / scheduler floor.
    - Arrow enabled for pandas-UDF stages; driver-side frames built from
      pandas then become JVM-side local data (no Python worker).
    - shuffle_partitions sized to cores in local mode; on a cluster set it
      to ~2-3x total executor cores via spark-submit conf.
    - driver heap (`spark.driver.memory`) defaults to half of physical
      memory, between 1g and 48g; `SPARK_DRIVER_MEM` overrides it verbatim
      (see `driver_memory`).
    """
    under_submit = "PYSPARK_GATEWAY_PORT" in os.environ
    if master is None and not under_submit:
        # bare-python session: env override, then local[N] default. Under
        # spark-submit (gateway JVM already launched, master supplied via
        # --master) BOTH are ignored so the submit conf governs the
        # topology — a stale SPARK_GRAFT_MASTER from a bench shell must
        # not silently hijack a cluster deployment.
        master = os.environ.get("SPARK_GRAFT_MASTER") or (
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
    if shuffle_partitions is None and master is not None:
        # over-partition by default and let AQE coalesce: AQE can merge
        # small partitions but can never split big ones, and wide array
        # rows (shingle signatures) blow past the JVM's comfort zone fast —
        # 32 threads x 350MB tasks is a GC stall, 128 x 90MB tasks is not.
        if master.startswith("local["):
            n = master[len("local[") : -1]
            cores = 32 if n == "*" else max(1, int(n))
            # 4 waves' worth of partitions (A/B'd against 8x at 200k docs:
            # 8x cost +30% wall and +34% CPU from per-task overhead —
            # tail-packing gains don't pay here)
            shuffle_partitions = max(4 * cores, 16)
        else:
            shuffle_partitions = 512

    builder = SparkSession.builder
    if master is not None:
        builder = builder.master(master)
    builder = (
        builder
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        # concurrent jobs (drop-log writers and index appends run from
        # worker threads)
        # share cores fairly instead of convoying behind the first job
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce inside persisted plans too: otherwise every
        # tracked_persist'ed frame keeps the full shuffle-partition count,
        # and a tiny cached stage pays one scheduler / Python-worker task
        # per partition however few rows it holds (BASELINE.md, "the
        # fixed per-run cost")
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
        )
        # serialized-size target per post-shuffle partition; array-heavy
        # rows decompress several-fold, so keep it well under the default
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows)
        )
        .config("spark.sql.session.timeZone", "UTC")
        # input split size: the first scan feeds CPU-heavy pandas-UDF
        # signature extraction (~MB/s per core, not GB/s), so default
        # 128 MB splits leave a 100k-doc corpus at 8 tasks — the max-task
        # time becomes the stage wall at higher core counts. 32 MB splits
        # give the scheduler enough tasks to pack without tiny-file
        # overhead; pure-columnar scans are unaffected in practice.
        .config("spark.sql.files.maxPartitionBytes", "32m")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )

    builder = _maybe_configure_iceberg(builder)

    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    elif spark.sparkContext.getConf().get(
        "spark.sql.shuffle.partitions", None
    ) is None:
        # master came from spark-submit and the operator did not set the
        # conf explicitly: size 4 waves from the parallelism visible now
        # (runtime conf, safe to set post-create). Caveat: under dynamic
        # allocation few executors have registered at this point — on
        # such clusters pass --conf spark.sql.shuffle.partitions
        # explicitly (an explicit value is always honored here).
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(max(4 * spark.sparkContext.defaultParallelism, 16)),
        )
    return spark


def _maybe_configure_iceberg(builder: SparkSession.Builder) -> SparkSession.Builder:
    """Attach an Iceberg hadoop catalog when the connector jar is present.

    Production deployments ship `iceberg-spark-runtime` via --packages; the
    sandbox has no network so we silently skip and the checkpoint layer
    writes parquet instead (see checkpoint.py).
    """
    warehouse = os.environ.get("PCOMPRESS_ICEBERG_WAREHOUSE")
    if not warehouse:
        return builder
    return (
        builder.config(
            "spark.sql.extensions",
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
        )
        .config("spark.sql.catalog.ice", "org.apache.iceberg.spark.SparkCatalog")
        .config("spark.sql.catalog.ice.type", "hadoop")
        .config("spark.sql.catalog.ice.warehouse", warehouse)
    )


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    # local-mode JVM keeps the SparkContext singleton; clear it so a new
    # master (e.g. local[8] -> local[32] in bench scaling runs) takes effect
    from pyspark import SparkContext

    with SparkContext._lock:  # noqa: SLF001 - sanctioned reset for bench
        SparkContext._active_spark_context = None
