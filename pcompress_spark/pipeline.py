"""End-to-end near-duplicate detection + clustering pipeline.

Stage graph (6 durable checkpoints, resumable; everything between them is
lazy or session-cached — round 1's per-substage parquet barriers were the
scaling bottleneck). Each checkpoint costs its one write action (lineage
rows and dup_ratio come from parquet footers or an observation on that
write, the read-back declares the written schema); the other actions are
named per stage:

    pages ──► [sigs]  (url, doc_id, text_sha, lang, text, nshingles,
                │      minhash, simhash); text_groups / exact_edges lazy
                ▼
             [reps]    one sigs row per distinct text (its delegate);
                │      sigs' dup_ratio = 1 - rows(reps)/rows(sigs)
                ▼
             [keys]    (doc_id, ch, key) minhash bands + simhash blocks +
                │      winnow anchors of every delegate
                ▼      ONE fused bucket shuffle carries all three channels
            [candidates]  (bucket self-join over keys, over-cap buckets
                │          starred → per-pair agg → hamming confirm →
                │          degree cap; the r=1 signature prefilter is
                │          folded into the agg). + the hot-doc gate
                │          count; the write fills the caches the five
                │          drop logs then read, concurrently
                ▼
             [edges]   exact ∪ verified fuzzy (jaccard / substring
                │      confirm). + one count that fills the pair-Jaccard
                │      cache both branches read
                ▼
          [assignments]  connected components → cluster labels. + one
                         bounded collect of the edge set (driver
                         union-find below DRIVER_CC_MAX_EDGES); dup_ratio
                         observed on the write

`reps` and `keys` are an incremental index's first `sigs/` and `keys/`:
IncrementalDedupIndex.bootstrap adopts them by rename.

This is the Spark rewrite of `pcompress -G -D` (SURVEY §3.1): the one thing
the reference serializes (the semaphore-guarded global index,
pcompress.c:2617-2624) is exactly what the shuffle parallelizes.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession, functions as F

from pcompress_spark.cache import CacheScope
from pcompress_spark.config import DEFAULT_CONFIG, PipelineConfig
from pcompress_spark.checkpoint import CheckpointManager
from pcompress_spark.operators import exact, fused, verify
from pcompress_spark.operators.components import cluster_labels

# the drop/hot logs a run writes beside its checkpoints: one hot-bucket
# log per channel, then the prefilter and degree-cap drop logs
DROP_LOGS = (
    *(f"_hot_buckets_{name}" for name in fused.CHANNEL_NAMES.values()),
    "_prefilter",
    "_degree_cap",
)


class DedupPipeline:
    def __init__(
        self,
        spark: SparkSession,
        cfg: PipelineConfig = DEFAULT_CONFIG,
        checkpoint_dir: str | None = None,
        resume: bool = True,
    ) -> None:
        self.spark = spark
        self.cfg = cfg
        self.ckpt = CheckpointManager(
            spark, checkpoint_dir or cfg.checkpoint_dir, resume=resume
        )

    # ------------------------------------------------------- shuffle sizing
    def _set_shuffle_partitions(self, n: int) -> int:
        """Size `spark.sql.shuffle.partitions` to the DATA, not the cores.

        With a purely cores-derived partition count a 4x corpus means 4x
        bytes per task and the JVM eventually tips into GC stall (measured
        in the round-1 array-join design: verify 42s at 150k pairs/32
        partitions, 350s at 405k/32 — 2.6x rows, 8x wall). Partition
        count therefore grows with row volume; AQE coalesces small stages
        back down (it can merge partitions but can never split one).
        The divisors are sized to the CURRENT narrow-row design (fused
        17-byte keyed rows, text-shipped verify rows ~6 KB/pair): callers
        target roughly 10-30 MB serialized per task, because oversizing
        the count is not free — a 100k-doc run at 100 partitions spends
        ~35 ms/task of pure scheduler latency across dozens of small
        stages, measured as the main 2->8-core efficiency sink (stages at
        12-20%% utilization in the event log). Returns the previous
        setting."""
        spark = self.spark
        prev = int(spark.conf.get("spark.sql.shuffle.partitions"))
        base = int(spark.conf.get("spark.pcompress.baseShufflePartitions", str(prev)))
        spark.conf.set("spark.pcompress.baseShufflePartitions", str(base))
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(max(base, min(n, 4096)))
        )
        return prev

    # ------------------------------------------------------------------ run
    def run(self, pages: DataFrame) -> DataFrame:
        cfg, ckpt = self.cfg, self.ckpt

        with CacheScope():
            sigs = ckpt.materialize("sigs", lambda: exact.build_sigs(pages, cfg))

            groups = exact.text_groups(sigs)

            # channel bucket/candidate caches live only as long as the
            # candidates stage: scope them so verify gets the memory back
            with CacheScope():
                # band explode / bucket joins move ~n_docs * bands narrow
                # rows (~20 B each): ~70 B x bands per doc -> ~1.4 KB/doc,
                # so ~20k docs/partition ~= 30 MB serialized per task
                prev = self._set_shuffle_partitions(ckpt.rows("sigs") // 20_000)
                try:
                    reps = ckpt.materialize(
                        "reps", lambda: exact.representatives(sigs, groups)
                    )
                    # lineage dup_ratio of sigs (exact dups): one reps row
                    # per distinct text
                    ckpt.set_dup_ratio("sigs", ckpt.rows("reps"))
                    keys = ckpt.materialize(
                        "keys", lambda: fused.fused_keyed_rows(reps, cfg)
                    )
                    logs: list[tuple[str, DataFrame]] = []
                    cands = ckpt.materialize(
                        "candidates", lambda: self._candidates(reps, keys, logs)
                    )
                    self._write_logs(logs)
                finally:
                    self.spark.conf.set(
                        "spark.sql.shuffle.partitions", str(prev)
                    )

            with CacheScope():
                # the verify join carries the two utf-8 texts per candidate
                # pair (~6 KB); ~4k pairs/partition ~= 25 MB serialized
                prev = self._set_shuffle_partitions(
                    ckpt.rows("candidates") // 4000
                )
                try:
                    edges = ckpt.materialize(
                        "edges",
                        lambda: exact.exact_edges(sigs, groups).unionByName(
                            self._fuzzy_edges(cands, reps)
                        ),
                    )
                finally:
                    # CC rounds run many small jobs — restore the compact
                    # cores-derived count before the assignments stage
                    self.spark.conf.set(
                        "spark.sql.shuffle.partitions", str(prev)
                    )

            assignments = ckpt.materialize(
                "assignments",
                lambda: self._assignments(sigs, edges),
                # lineage dup_ratio over all channels: one representative
                # per cluster
                distinct=F.sum(F.col("is_representative").cast("long")),
            )
        return assignments

    # --------------------------------------------------------- fuzzy edges
    def _fuzzy_edges(self, cands: DataFrame, reps: DataFrame) -> DataFrame:
        """verify_edges with its shared Jaccard frame pre-materialized.

        The near/substring branches of the edges union both read the
        persisted pair-Jaccard frame; forcing it here means the union
        action hits a warm cache instead of concurrently (re)computing the
        verify join once per branch."""
        t0 = time.time()
        edges_fuzzy = verify.verify_edges(
            cands, reps, self.cfg, eager_jaccard=True
        )
        self.ckpt.note("verify_jaccard", int((time.time() - t0) * 1000))
        return edges_fuzzy.select("src", "dst", "jaccard", "kind")

    # ---------------------------------------------------------- candidates
    def _candidates(
        self,
        reps: DataFrame,
        keys: DataFrame,
        logs: list[tuple[str, DataFrame]] | None = None,
    ) -> DataFrame:
        """Candidate generation + degree cap: ONE fused bucket shuffle over
        the `keys` stage carries all three channels (operators/fused.py —
        the same generator the incremental index probes with), then every
        doc keeps its top-`verify_degree_cap` partners.

        `logs` receives the (name, frame) drop logs. They read the frames
        fused.candidates and the degree cap persist, so they are cheap
        only once the candidates write has filled those caches — the
        caller writes them after it."""
        cfg = self.cfg
        filtered, hot, pre_dropped = fused.candidates(
            keys, reps.select("doc_id", "simhash"), cfg
        )
        capped, cap_dropped = verify.cap_candidate_degree(
            filtered, cfg.verify_degree_cap
        )
        if logs is not None:
            per_channel = [
                hot.filter(F.col("ch") == ch).drop("ch") for ch in fused.CHANNEL_NAMES
            ]
            logs += zip(DROP_LOGS, [*per_channel, pre_dropped, cap_dropped])
        return capped

    # ---------------------------------------------------------- assignments
    def _assignments(self, sigs: DataFrame, edges: DataFrame) -> DataFrame:
        labels = cluster_labels(edges.select("src", "dst"))
        docs = sigs.select("url", "doc_id")
        assigned = docs.join(labels, "doc_id", "left").withColumn(
            "cluster_id", F.coalesce("cluster_id", "doc_id")
        )
        rep_urls = docs.select(
            F.col("doc_id").alias("cluster_id"),
            F.col("url").alias("representative_url"),
        )
        return assigned.join(rep_urls, "cluster_id", "left").select(
            "url",
            "doc_id",
            "cluster_id",
            "representative_url",
            (F.col("doc_id") == F.col("cluster_id")).alias("is_representative"),
        )

    # -------------------------------------------------------------- helpers
    def _write_logs(self, logs: list[tuple[str, DataFrame]]) -> None:
        """Persist the hot-bucket/drop logs (DROP_LOGS) — drops are never
        silent. Each is a tiny job over warm caches; they run
        concurrently (FAIR scheduler) — sequential submission was ~15 s
        of near-idle wall per run, a flat cost that sinks scaling
        efficiency. Logs are small (bucket keys / per-doc counts):
        coalesced, each write is a handful of tasks, not one per shuffle
        partition.

        Schema note: a hot-bucket log's `key` column is an OPAQUE
        low-62-bit bucket id (see fused.candidates), not the channel's
        actual band/block key — do not join it against index or
        per-channel bucket keys."""

        def write(name: str, df: DataFrame) -> None:
            df.coalesce(8).write.mode("overwrite").parquet(self.ckpt.path(name))

        if logs:
            with ThreadPoolExecutor(max_workers=len(logs)) as ex:
                list(ex.map(lambda nl: write(*nl), logs))
