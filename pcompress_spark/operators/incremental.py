"""Incremental dedup: assign NEW batches against a persisted corpus index.

The 100-TB deployment ingests a daily crawl increment; re-running the full
pipeline over corpus+batch would re-shuffle the world to classify 0.1% new
rows. This module persists the pipeline's state as a probe-able index and
classifies a batch touching only the slice of the corpus the batch's keys
actually collide with — the Spark-batch analog of the reference's
persistent global index across pipe chunks (`db_lookup_insert_s`,
rabin/global/index.c:485-558: every new block probes the accumulated
index, matches become backrefs, misses are inserted).

Index layout under `index_dir` (parquet here; the production deployment
writes the same tables as Iceberg, giving atomic batch commits):

    sigs/         delegate rows (one per distinct corpus text) — the
                  representatives() schema incl. text (needed to verify
                  probe hits exactly)
    keys/         fused (doc_id, ch, key) bucket keys of every delegate,
                  one flat table (indexes written before it went flat
                  hold it under shard=*/ directories; both layouts read)
    assignments/  (doc_id, cluster_id) for every doc ever ingested, labels
                  as-of that doc's batch; shard-partitioned by
                  pmod(xxhash64(doc_id), N_SHARDS) so redelivery checks
                  and point lookups prune
    merges/       (old_cluster, new_cluster) — appended when a batch doc
                  bridges existing clusters; resolved at read time;
                  versioned by old_cluster (the doc whose id labels the
                  retired cluster)
    links/        (doc_id, parent_id) — identity membership: every
                  non-delegate doc points at the delegate whose text it
                  equals (update_batch re-ingests an affected cluster's
                  identity children from these, with their parent's text)
    tombstones/   (tbl, doc_id, ver) — per-table row versions; a row is
                  live iff its ver equals the doc's current version (see
                  the versioned-reads section below). Only written once
                  update_batch has run; absent, it reads as an empty
                  table that folds out of every read plan
    _lineage.json, _hot_buckets_*/, _prefilter/, _degree_cap/
                  the bootstrap run's stage lineage and drop logs
                  (DedupPipeline's own files, moved here)

`bootstrap` is one DedupPipeline run whose `reps` and `keys` checkpoint
stages are adopted by rename as the first `sigs/` and `keys/` tables, so
no delegate or bucket key is computed twice.

Batch algorithm (`add_batch`):
 1. identity tier — batch texts whose sha already exists in `sigs` join
    their delegate's cluster (no fuzzy work, no index growth);
 2. probe — fresh delegates' fused keys join `keys` on (ch, key); the
    stored rows of every bucket hit are the "touched slice";
 3. bipartite candidates — the pipeline's own generator
    (fused.candidates, probe shape) pairs each fresh delegate with the
    members of its buckets, so no old-old pair is ever generated; then
    degree cap -> verify_edges over those pairs only. Cost scales with
    the slice; per-pair semantics are the full pipeline's by
    construction (one function computes both);
 4. connected components over (batch exact edges) ∪ (identity edges) ∪
    (verified fuzzy edges with old endpoints relabeled to their RESOLVED
    cluster ids): component min is then exactly the full-run min-doc_id
    label. An old cluster whose node gets a smaller label emits a merge
    row instead of rewriting history — `assignments()` applies the
    merge closure at read (union-find deltas, the only mutation an
    append-only table store allows).

Determinism: doc_id = xxhash64(url) and all sketch hashes are seeded
constants, so a batch classifies identically regardless of when or in how
many pieces it arrives (tests/test_incremental.py pins full-run parity).

Parity caveat (shared with any incremental design): the bucket cap and
per-doc degree cap are evaluated against the state VISIBLE at each
batch, while a monolithic run evaluates them against the whole corpus at
once. When a cap binds differently across those two views (a bucket that
crossed max_bucket_docs only after later batches, an old doc whose
candidate degree exceeds the cap only in the monolithic pair set), the
kept-pair sets — and, if the dropped pair was cluster-bridging, the
labels — can diverge. Exact-Jaccard verification bounds the effect to
genuinely-similar pairs in cap-saturated (boilerplate-dense)
neighborhoods; the golden-corpus and 10-batch long-run parity checks
measure zero divergence at default caps.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from pcompress_spark.cache import CacheScope, tracked_persist
from pcompress_spark.config import DEFAULT_CONFIG, PipelineConfig
from pcompress_spark.functions.shingling import SIG_SCHEMA
from pcompress_spark.operators import exact, fused, verify
from pcompress_spark.operators.components import cluster_labels, long_pair_frame

N_SHARDS = 64

_ASSIGN_SCHEMA = "doc_id long, cluster_id long"
_MERGE_SCHEMA = "old_cluster long, new_cluster long"
_PENDING_SCHEMA = "doc_id long, _pv int"
# the read schema of every index table. Declared, not inferred: Spark
# infers a parquet table's schema from one file's footer, and a footer
# without `ver` (an adopted pipeline stage, a pre-versioning file) would
# drop the column and make pending update rows visible
_SCHEMAS = {
    "sigs": "url string, doc_id long, text_sha string, lang string, text string, "
    + "".join(f"{f.name} {f.dataType.simpleString()}, " for f in SIG_SCHEMA.fields)
    + "ver int",
    "keys": "doc_id long, ch tinyint, key long, ver int",
    "assignments": f"{_ASSIGN_SCHEMA}, ver int, shard int",
    "merges": f"{_MERGE_SCHEMA}, ver int",
    "links": "doc_id long, parent_id long, ver int",
    "tombstones": "tbl int, doc_id long, ver int",
}

# tombstone table codes (a doc's version is recorded per (table, doc))
_TBL = {"sigs": 0, "keys": 1, "assignments": 2, "links": 3, "merges": 4}
# the column holding the doc a table's rows are versioned by: a merge row
# belongs to the doc whose id labels the cluster it retires
_KEY = {"merges": "old_cluster"}

# update_batch broadcasts its id frames (changed docs, affected clusters,
# pending versions) only below this measured-count gate (~8 MB of longs);
# a full re-crawl batch degrades to shuffle joins instead of an oversized
# broadcast — same defense shape as fused.HOT_DOCS_BROADCAST_MAX.
_UPDATE_BROADCAST_MAX = 1_000_000


def _shard() -> Column:
    """The assignments shard of a doc: pmod(xxhash64(doc_id), N_SHARDS)."""
    return F.pmod(F.xxhash64("doc_id"), F.lit(N_SHARDS)).cast("int")


def _empty(spark: SparkSession, schema: str) -> DataFrame:
    """An empty frame of `schema` that the optimizer folds: typed NULL
    columns over one range row under a false filter become an empty
    LocalRelation, so a join, anti join, semi join or union against it
    drops out of the optimized plan (a createDataFrame frame is an RDD
    leaf that no optimizer rule removes)."""
    return (
        spark.range(1)
        .select(
            *[
                F.lit(None).cast(f.dataType).alias(f.name)
                for f in StructType.fromDDL(schema)
            ]
        )
        .filter(F.lit(False))
    )


def _id_frame(df: DataFrame) -> tuple[DataFrame, int]:
    """Materialize an update_batch id frame and count it; the frame is
    broadcast-hinted only below _UPDATE_BROADCAST_MAX."""
    df = df.localCheckpoint(eager=True)
    n = df.count()
    return (F.broadcast(df) if n <= _UPDATE_BROADCAST_MAX else df), n


class IncrementalDedupIndex:
    """Persisted dedup state + batch classification against it.

    The cfg MUST be the one the index was bootstrapped with: signature
    config is part of the index's identity (the reference refuses
    mismatched-property archives for the same reason, pcompress.c
    metadata checks)."""

    def __init__(
        self,
        spark: SparkSession,
        cfg: PipelineConfig = DEFAULT_CONFIG,
        index_dir: str = "/tmp/pcompress_spark_index",
    ) -> None:
        self.spark = spark
        self.cfg = cfg
        self.index_dir = index_dir.rstrip("/")
        # (doc_id, _pv): the uncommitted next version of every doc an
        # update_batch re-ingests; empty outside an update window
        self._pending_vers = _empty(spark, _PENDING_SCHEMA)

    # ------------------------------------------------------------ storage
    def _p(self, name: str) -> str:
        return f"{self.index_dir}/{name}"

    def _read(self, name: str) -> DataFrame:
        """Table `name` with its declared schema; an absent table reads as
        an empty one (`_empty`). Existence is one Hadoop FileSystem call
        (s3a://, hdfs://, file:// alike), never a failing Spark read.
        `keys/` is read recursively so its old shard=*/ layout reads
        beside flat files."""
        if not self._fs().exists(self._p(name)):
            return _empty(self.spark, _SCHEMAS[name])
        return (
            self.spark.read.schema(_SCHEMAS[name])
            .option("recursiveFileLookup", name == "keys")
            .parquet(self._p(name))
        )

    def _fs(self):
        from pcompress_spark.checkpoint import _HadoopFs

        return _HadoopFs(self.spark, self.index_dir)

    # ------------------------------------------------- versioned row reads
    # The index tables are append-only parquet; the only mutation an
    # append-only store allows is a NEWER record superseding an older one.
    # Re-crawl upserts (update_batch) therefore version rows: every
    # appended row carries `ver`, and `tombstones/` records (tbl, doc_id,
    # ver) with the doc's CURRENT version per table. A row is live iff
    # its ver EQUALS the doc's current version (no tombstone record means
    # version 0). The exact-match rule is what makes update_batch's
    # commit atomic: new rows are appended at version+1 first (invisible
    # — their ver exceeds the current version), then ONE tombstone append
    # flips every touched doc's version, killing the old rows and
    # activating the new ones in the same commit. While that update runs,
    # reads hide every row of its pending docs, so the index reads as the
    # corpus minus the clusters being re-ingested. Readers go through
    # _live(), which filters dead rows and hides `ver` from consumers.
    # An index update_batch never touched has no tombstones table, and
    # outside an update there are no pending docs: both read as empty
    # frames, so the kill-map join and the pending anti join fold out of
    # the optimized plan and such reads cost a plain filtered scan. On
    # the production table format this mechanism is the
    # engine's row-level upsert/snapshot commit. Reference analog:
    # pcompress verifies archive-update consistency via metadata checks
    # and refuses silent mismatches (pcompress.c) — here a changed doc is
    # explicitly re-versioned, never silently dropped.

    def _kill_map(self, name: str) -> DataFrame:
        """Broadcastable (key, _kill = current version) for table `name`,
        keyed by the table's version column (_KEY). Metadata-scale: one
        row per ever-updated doc."""
        km = (
            self._read("tombstones")
            .filter(F.col("tbl") == _TBL[name])
            .groupBy(F.col("doc_id").alias(_KEY.get(name, "doc_id")))
            .agg(F.max("ver").alias("_kill"))
        )
        return F.broadcast(km)

    def _live(self, name: str) -> DataFrame:
        """Table `name` with dead/uncommitted rows filtered (ver == the
        doc's current version) and the `ver` bookkeeping column hidden —
        what every consumer should read. Inside an update_batch window
        every row of a pending doc is hidden as well."""
        key = _KEY.get(name, "doc_id")
        # a doc without a tombstone record is at version 0, so any ver>0
        # row of it is an uncommitted update-in-flight append
        return (
            self._read(name)
            .join(self._kill_map(name), key, "left")
            .filter(F.coalesce("ver", F.lit(0)) == F.coalesce("_kill", F.lit(0)))
            .join(
                self._pending_vers.withColumnRenamed("doc_id", key),
                key,
                "left_anti",
            )
            .drop("_kill", "ver")
        )

    def _with_ver(self, df: DataFrame, name: str) -> DataFrame:
        """Attach the `ver` column for an append to table `name`: a doc's
        new rows are written AT its current version, so they are live
        immediately (never-updated docs write ver 0). During an
        update_batch, `_pending_vers` overrides this with the update's
        NOT-YET-COMMITTED next version, making those rows invisible until
        the closing tombstone append flips the version."""
        key = _KEY.get(name, "doc_id")
        return (
            df.join(self._kill_map(name), key, "left")
            .join(
                self._pending_vers.withColumnRenamed("doc_id", key),
                key,
                "left",
            )
            .withColumn("ver", F.coalesce("_pv", "_kill", F.lit(0)).cast("int"))
            .drop("_kill", "_pv")
        )

    def _append_tombstones(self, rows: DataFrame) -> None:
        rows.select("tbl", "doc_id", "ver").coalesce(1).write.mode(
            "append"
        ).parquet(self._p("tombstones"))

    def _append_links(self, links: DataFrame) -> None:
        """(doc_id, parent_id): identity membership — every non-delegate
        doc points at the delegate whose text it equals. Batch-scale
        appends; update_batch reads them to re-ingest an affected
        cluster's identity children with their parent's text."""
        self._with_ver(
            links.select("doc_id", "parent_id"), "links"
        ).write.mode("append").parquet(self._p("links"))

    def _append_keys(self, keyed_rows: DataFrame) -> None:
        """Append (doc_id, ch, key) rows. Callers pass an ALREADY-COMPUTED
        keyed frame (the probe builds one anyway) — recomputing here would
        run the winnow-anchor UDF a second time over every batch text."""
        self._with_ver(
            keyed_rows.select("doc_id", "ch", "key"), "keys"
        ).write.mode("append").parquet(self._p("keys"))

    # ---------------------------------------------------------- bootstrap
    def bootstrap(self, pages: DataFrame) -> DataFrame:
        """Initial full pipeline run; its `reps` and `keys` stages become
        the index's sigs/ and keys/ by rename, then links and assignments
        are written, the run's `_lineage.json` and drop logs move into
        the index directory, and the rest of its checkpoint is deleted.

        Any pre-existing index state under index_dir is CLEARED first:
        keys/ appends and a surviving merges/ from an earlier life of the
        directory would otherwise double every bucket count and replay
        stale merges onto the fresh labels (cluster ids are deterministic
        hashes, so a stale map still matches)."""
        from pcompress_spark.pipeline import DROP_LOGS, DedupPipeline

        fs = self._fs()
        run_files = ("_lineage.json", *DROP_LOGS)
        for name in (
            *_TBL, "tombstones", "_update_inflight", "_bootstrap_ckpt", *run_files
        ):
            fs.delete(self._p(name))
        ckpt_dir = self._p("_bootstrap_ckpt")
        pipe = DedupPipeline(
            self.spark, self.cfg, checkpoint_dir=ckpt_dir, resume=False
        )
        assignments = pipe.run(pages)
        for stage, name in (("reps", "sigs"), ("keys", "keys")):
            if not fs.rename(pipe.ckpt.path(stage), self._p(name)):
                raise IOError(f"bootstrap: rename of stage {stage} failed")
        # identity membership of the bootstrap corpus (update_batch
        # re-ingests identity children from it)
        sigs = pipe.ckpt.load("sigs")
        self._append_links(
            sigs.join(exact.text_groups(sigs), "text_sha")
            .filter(F.col("doc_id") != F.col("rep_id"))
            .select("doc_id", F.col("rep_id").alias("parent_id"))
        )
        # assignments commit LAST (same rationale as add_batch)
        self._write_assignments(assignments, mode="overwrite")
        # the run's lineage and drop logs stay with the index it built
        for name in run_files:
            fs.rename(pipe.ckpt.path(name), self._p(name))
        fs.delete(ckpt_dir)
        return self.assignments()

    def _write_assignments(
        self, df: DataFrame, mode: str, name: str = "assignments"
    ) -> None:
        """Assignments land shard-partitioned (`_shard`) like the
        streaming `seen` index: point lookups and the redelivery
        anti-join then read only the shard partitions a batch hashes
        into, not the whole ingest history."""
        (
            self._with_ver(df.select("doc_id", "cluster_id"), "assignments")
            .withColumn("shard", _shard())
            .repartition(F.col("shard"))  # few files per shard directory
            .write.mode(mode)
            .partitionBy("shard")
            .parquet(self._p(name))
        )

    # -------------------------------------------------------- assignments
    def _merge_closure(self) -> DataFrame:
        """Path-compressed merge map as a broadcastable (old_cluster,
        new_cluster) frame, empty when there are no merges.

        Merges are metadata-scale (bounded by clusters bridged per batch,
        not by rows): close the chains driver-side and apply as one
        broadcast map — an iterative join loop would run a Spark job per
        chain hop for a table of a few hundred rows. An absent merges/
        collects without a Spark job (its plan is an empty local
        relation)."""
        chain = {
            r["old_cluster"]: r["new_cluster"]
            for r in self._live("merges").collect()
        }
        if not chain:
            return _empty(self.spark, _MERGE_SCHEMA)

        def final(c: int) -> int:
            seen = set()
            while c in chain and c not in seen:
                seen.add(c)
                c = chain[c]
            return c

        closed = [(k, final(k)) for k in chain]
        return F.broadcast(long_pair_frame(self.spark, closed, _MERGE_SCHEMA))

    @staticmethod
    def _apply_closure(a: DataFrame, mm: DataFrame) -> DataFrame:
        return (
            a.join(mm, a["cluster_id"] == mm["old_cluster"], "left")
            .withColumn("cluster_id", F.coalesce("new_cluster", "cluster_id"))
            .select("doc_id", "cluster_id")
        )

    def assignments(self) -> DataFrame:
        """(doc_id, cluster_id) for every ingested doc, merge closure
        applied — equal to what a full run over everything would label.

        Raises if an update_batch was interrupted mid-flight (loud, like
        the reference's refusal to read a mismatched archive): re-running
        update_batch with the same pages heals the index."""
        self._check_inflight()
        return self._apply_closure(
            self._live("assignments"), self._merge_closure()
        )

    def _check_inflight(self) -> None:
        if self._fs().exists(self._p("_update_inflight")):
            raise RuntimeError(
                "index has an interrupted update_batch (marker "
                f"{self._p('_update_inflight')} exists): affected docs "
                "may be unassigned. Re-run update_batch with the same "
                "pages to heal, or delete the marker to accept the "
                "partial state."
            )

    def _resolved_for(self, ids: DataFrame, mm: DataFrame) -> DataFrame:
        """Merge-resolved (doc_id, cluster_id) for the given doc_ids ONLY,
        reading just the assignments shard partitions those ids hash into
        (partition filter pushed to the scan) — batch operations never
        scan the full ingest history (the merge_batch pruning pattern,
        streaming/ingest.py)."""
        shards = [
            r["s"] for r in ids.select(_shard().alias("s")).distinct().collect()
        ]
        a = (
            self._live("assignments")
            .filter(F.col("shard").isin(shards))
            .select("doc_id", "cluster_id")
            .join(ids.select("doc_id").distinct(), "doc_id", "left_semi")
        )
        return self._apply_closure(a, mm)

    def _known_ids(self, shards: list[int]) -> DataFrame:
        """doc_ids already assigned, read from the given shard partitions
        only — the redelivery guard needs membership, not labels, so no
        merge closure is applied."""
        return (
            self._live("assignments")
            .filter(F.col("shard").isin(shards))
            .select("doc_id")
        )

    def compact(self) -> int:
        """Fold the merge closure into the assignments table and clear
        `merges/` — the periodic maintenance op of a long-lived index
        (segcache compaction analog, rabin/global/index.c:335-453).
        Returns the number of merge rows folded. Resolution semantics are
        unchanged: before compaction readers resolve (assignments ∘
        merges), after they read assignments directly.

        The resolved frame is written to a STAGING directory first, then
        swapped in by rename, so the rewrite never reads the files it is
        replacing; on the production table format this whole op is one
        atomic snapshot commit."""
        n = self._read("merges").count()
        if n == 0:
            return 0
        # durable staging write + rename swap: an in-place overwrite
        # deletes the old files before the new ones commit, so an
        # executor/driver loss mid-write would destroy the only copy of
        # the ingest history. The rename pair is metadata-only on
        # HDFS/local; on S3-class stores the table format's snapshot
        # commit replaces this whole dance.
        fs = self._fs()
        fs.delete(self._p("_assignments_staged"))
        self._write_assignments(
            self.assignments(), "overwrite", "_assignments_staged"
        )
        fs.delete(self._p("assignments"))
        if not fs.rename(self._p("_assignments_staged"), self._p("assignments")):
            # the staged copy is the ONLY resolved one now (assignments/
            # was just deleted) — put it back in place of the deleted
            # table and KEEP merges/ so readers still resolve correctly,
            # then fail loudly rather than continuing to delete the merge
            # log (which would leave an index with no assignments at all).
            restored = fs.rename(
                self._p("_assignments_staged"), self._p("assignments")
            )
            raise IOError(
                "compact(): rename of staged assignments failed"
                + ("" if restored else " AND restore-retry failed — "
                   f"resolved table left at {self._p('_assignments_staged')}")
                + "; merges/ left intact so reads remain correct"
            )
        fs.delete(self._p("merges"))
        return n

    # ------------------------------------------------------ bipartite probe
    def _bipartite_candidates(
        self,
        bkeys: DataFrame,
        fresh: DataFrame,
        old_keys: DataFrame,
        old_sigs: DataFrame,
    ) -> DataFrame:
        """candidates(id_a, id_b, channels, mh_overlap, is_star) for every
        pair with >= 1 fresh endpoint: fused.candidates in its probe shape
        (the same per-pair semantics as the batch pipeline) over the fresh
        keys plus the STORED corpus keys of every bucket they hit. Old
        docs' signatures and winnow anchors are read from the index, never
        recomputed; cost ∝ |fresh keys| x bucket width, independent of
        corpus size."""
        probe = bkeys.select("ch", "key").distinct()
        matched_old = old_keys.join(probe, ["ch", "key"], "left_semi").select(
            "doc_id", "ch", "key"
        )
        # crash-recovery docs are in BOTH sides (they stay in `fresh`, so
        # bkeys recomputes their keys, AND their stored keys sit in
        # old_keys) — drop the stored copy or per-bucket counts see them
        # twice, which can flip an in-cap bucket over max_bucket_docs and
        # alter pair generation vs a clean run
        matched_old = matched_old.join(
            bkeys.select("doc_id").distinct(), "doc_id", "left_anti"
        )
        # stored keys SHOULD be unique per (doc_id, ch, key); dedup anyway
        # so a crash between concurrent sigs/keys appends that replays a
        # doc's keys can never inflate bucket counts
        matched_old = matched_old.dropDuplicates(["doc_id", "ch", "key"])
        rows = tracked_persist(bkeys.unionByName(matched_old))
        # stored simhashes pulled for probed docs only — never a
        # full-corpus shuffle
        sims = (
            fresh.select("doc_id", "simhash")
            .unionByName(old_sigs.select("doc_id", "simhash"))
            .join(rows.select("doc_id").distinct(), "doc_id", "left_semi")
        )
        cands, _hot, _pre = fused.candidates(
            rows, sims, self.cfg, probe_ids=fresh.select("doc_id")
        )
        return cands

    def _endpoint_reps(
        self, pairs: DataFrame, fresh: DataFrame, old_sigs: DataFrame
    ) -> DataFrame:
        """Delegate rows (incl. text) for exactly the docs appearing as
        pair endpoints — the only corpus rows the verify join ships.
        Returned LAZY; the caller picks persist vs plan barrier."""
        ids = (
            pairs.select(F.col("id_a").alias("doc_id"))
            .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
            .distinct()
        )
        return fresh.unionByName(old_sigs.join(ids, "doc_id", "left_semi"))

    def _verified_fuzzy(
        self,
        cands: DataFrame,
        fresh: DataFrame,
        old_sigs: DataFrame,
    ) -> DataFrame:
        """degree cap -> exact verification of the probe candidates.
        Returns verified (src, dst) edges.

        PLAN BARRIER (capped localCheckpoint): the batch runs as ONE lazy
        tree (the full pipeline truncates lineage at durable checkpoints;
        there are none here) — without a cut the CC rounds re-plan the
        whole tree and AQE's per-update plan stringification alone goes
        super-linear (measured: a 2-doc batch hung 10+ minutes in
        explainString)."""
        capped, _cap = verify.cap_candidate_degree(
            cands, self.cfg.verify_degree_cap
        )
        capped = capped.localCheckpoint(eager=True)
        # shallow subtrees from here on — persist, don't barrier
        reps_act = tracked_persist(
            self._endpoint_reps(capped, fresh, old_sigs)
        )
        return verify.verify_edges(capped, reps_act, self.cfg).select(
            "src", "dst"
        )

    # ---------------------------------------------------------- add_batch
    def add_batch(self, pages: DataFrame) -> DataFrame:
        """Classify a new batch against the index; append its state.
        Returns the batch's (doc_id, cluster_id) assignments (pre-closure
        labels — read `assignments()` for globally resolved ones).

        Idempotent under at-least-once redelivery (the foreachBatch
        contract, streaming/ingest.py): rows whose doc_id is already in
        `assignments` are dropped before any work, so a re-delivered
        micro-batch classifies to zero rows and appends nothing. A
        re-crawled url (same doc_id = xxhash64(url), new content) is
        likewise skipped — upsert semantics belong to the table format,
        not this operator."""
        spark = self.spark
        self._check_inflight()
        # size shuffles to the BATCH, not the session default: a 10k-doc
        # increment at the session's 128 partitions spends more wall in
        # task-scheduling latency than in work (measured: the candidate
        # phase alone 43.9s at 128 partitions vs 14.9s at 32 on the same
        # batch); restored on exit so co-resident jobs keep their sizing
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        prev_desc = spark.sparkContext.getLocalProperty("spark.job.description")
        # NOTE (measured, r4): disabling AQE for the batch window was
        # tried to cut the ~170-small-job driver overhead and made the
        # batch 2.6x SLOWER (labels phase 13.5s -> 333s job-wall): AQE's
        # exchange reuse dedups the repeated subplan references that the
        # batch's single lazy tree creates. Keep AQE on.
        try:
            return self._add_batch_inner(exact.base_ids(pages))
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
            spark.sparkContext.setJobDescription(prev_desc)

    def add_batches(self, batches: list[DataFrame]) -> DataFrame:
        """Drain a QUEUE of pending batches in ONE classification action.

        The per-batch cost is dominated by a fixed floor of small jobs
        and plan barriers (measured: ~40-55 s regardless of batch size at
        10k-doc scale — scripts/update_bench.py), so when ingest falls
        behind and k batches are queued, classifying their union costs
        ~1 floor instead of k floors. Semantically free: add_batch label
        parity with the monolithic run holds for ANY batch partitioning
        of the corpus (tests pin sequential == coalesced == monolithic),
        because classification is against the index state plus the whole
        in-flight batch. The one visible difference: when the SAME url
        appears in two queued batches with different content, coalescing
        resolves it deterministically (lowest text_sha wins — the
        in-batch dedup rule) rather than by arrival order; a re-crawl
        that must override needs update_batch either way.

        Reference analog: pipe mode accumulates however much input is
        buffered into one segment run rather than one run per write()
        (/root/reference/pcompress.c pipe path; rabin/global/index.c
        segment accumulation)."""
        batches = [b for b in batches if b is not None]
        if not batches:
            return _empty(self.spark, _ASSIGN_SCHEMA)
        u = batches[0]
        for b in batches[1:]:
            u = u.unionByName(b)
        return self.add_batch(u)

    def _phase(self, name: str) -> None:
        """Name the batch phase that starts here: the calling thread's
        next jobs carry it as their job description. add_batch and
        update_batch put the caller's description back on exit;
        `scripts/update_bench.py` attributes the Spark event log to these
        phases. Costless."""
        try:
            self.spark.sparkContext.setJobDescription(name)
        except Exception:
            pass

    def _add_batch_inner(self, base: DataFrame) -> DataFrame:
        """Classify a base_ids-shaped frame (url, doc_id, text_sha, lang,
        text) against the index and append its state."""
        cfg, spark = self.cfg, self.spark
        with CacheScope():
            # PLAN BARRIERS (localCheckpoint, not just persist): in the
            # full pipeline every fan-out frame sits on a parquet-scan
            # checkpoint, so its many downstream plan references are
            # leaves. Here the whole batch is one lazy tree, and frames
            # like `fresh` are referenced 5+ times by the probe/verify
            # machinery — each reference duplicates the entire upstream
            # subtree in the logical plan and Catalyst analysis goes
            # exponential (measured: a 2-doc batch spent 10+ min inside
            # AttributeSet/missingInput before any task ran). An eager
            # localCheckpoint truncates the plan at executor storage —
            # the in-memory analog of the pipeline's durable barriers.
            # Barriers are a material part of the per-batch FIXED cost
            # (~25 small jobs measured in r3), so the batch runs exactly
            # three of them — sigs, classified, capped — plus the lazy
            # pre-CC cut; everything else is persist-backed and
            # materializes inside a job that was running anyway.
            self._phase("incr:read-index")
            old_sigs = self._live("sigs")
            old_keys = self._live("keys")
            mm = self._merge_closure()

            # ---- phase A: identity columns only (codegen — the sketch
            # UDF is NOT paid yet). One light aggregation collects the
            # batch's assignment shards AND its row count (shuffle
            # sizing); in-batch url dedup (deterministic: lowest text_sha
            # wins — one doc_id must never yield two sig rows) and the
            # redelivery anti-join then run BEFORE attach_sigs, so a
            # redelivered batch never pays an Arrow batch.
            from pyspark.sql import Window

            self._phase("incr:identity")
            shard_counts = base.groupBy(_shard().alias("s")).count().collect()
            n_raw = sum(r["count"] for r in shard_counts)
            if n_raw == 0:
                return _empty(spark, _ASSIGN_SCHEMA)
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(max(16, min(1024, n_raw // 400))),
            )
            known = self._known_ids([r["s"] for r in shard_counts])
            w = Window.partitionBy("doc_id").orderBy("text_sha")
            sigs = exact.attach_sigs(
                base.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
                .join(known, "doc_id", "left_anti"),
                cfg,
            ).localCheckpoint(eager=True)
            n_batch = sigs.count()
            if n_batch == 0:  # fully re-delivered batch: nothing to do
                return _empty(spark, _ASSIGN_SCHEMA)
            groups = exact.text_groups(sigs)
            breps = exact.representatives(sigs, groups)

            # ---- tier 1: identity vs corpus (sha join against delegates).
            # A SELF-match (old delegate id == this doc id) means a prior
            # delivery crashed after the sigs/keys appends but before the
            # assignments commit: the doc's index state exists but it was
            # never classified. Such docs re-enter the fresh/probe path
            # (their keys are probed from the OLD side and their sigs are
            # NOT re-appended), which makes the append sequence
            # crash-recoverable rather than merely idempotent.
            # ONE barrier materializes delegate-with-match `classified`;
            # recovery_ids / ident / fresh are cheap filters over it.
            self._phase("incr:classify")
            classified = breps.join(
                old_sigs.select("text_sha", F.col("doc_id").alias("old_id")),
                "text_sha",
                "left",
            ).localCheckpoint(eager=True)
            recovery_ids = classified.filter(
                F.col("old_id") == F.col("doc_id")
            ).select("doc_id")
            true_matched = classified.filter(
                F.col("old_id").isNotNull() & (F.col("old_id") != F.col("doc_id"))
            )
            old_res = self._resolved_for(
                true_matched.select(F.col("old_id").alias("doc_id")), mm
            ).withColumnRenamed("doc_id", "old_id")
            ident = tracked_persist(
                true_matched.select("doc_id", "old_id")
                .join(old_res, "old_id")
                .select("doc_id", F.col("cluster_id").alias("old_cluster"))
            )
            fresh = classified.filter(
                F.col("old_id").isNull() | (F.col("old_id") == F.col("doc_id"))
            ).drop("old_id")

            # ---- tier 2+3: bipartite probe of the key index. Pairs with
            # at least one fresh endpoint are built DIRECTLY from a
            # fresh-side bucket join against the STORED corpus keys — no
            # old-old pairs are ever generated and no old doc's
            # signatures/anchors are recomputed (a first version ran the
            # full fused self-join over fresh ∪ touched and measured
            # barely faster than rerunning the corpus: on a
            # boilerplate-rich 100k corpus a 10k batch touches ~everything)
            self._phase("incr:probe")
            bkeys = tracked_persist(
                fused.fused_keyed_rows(fresh, cfg).select(
                    "doc_id", "ch", "key"
                )
            )
            cands = self._bipartite_candidates(bkeys, fresh, old_keys, old_sigs)
            # reps rows (with text) are pulled ONLY for capped candidate
            # endpoints — the candidate generator and the degree cap need
            # no row data
            self._phase("incr:verify")
            fuzzy = tracked_persist(
                self._verified_fuzzy(cands, fresh, old_sigs)
            )

            # ---- component labels over the batch-touched subgraph, old
            # endpoints relabeled to their resolved cluster ids (pruned
            # lookup: only the fuzzy endpoints' shards are read; its
            # shard-collect job is also what materializes `fuzzy`)
            self._phase("incr:labels")
            eids = (
                fuzzy.select(F.col("src").alias("doc_id"))
                .unionByName(fuzzy.select(F.col("dst").alias("doc_id")))
                .distinct()
            )
            old_map = tracked_persist(
                self._resolved_for(eids, mm).withColumnRenamed(
                    "doc_id", "_oid"
                )
            )

            def _to_cluster(edges: DataFrame, col: str) -> DataFrame:
                return (
                    edges.join(
                        old_map, edges[col] == old_map["_oid"], "left"
                    )
                    .withColumn(col, F.coalesce("cluster_id", col))
                    .drop("_oid", "cluster_id")
                )

            exact_e = exact.exact_edges(sigs, groups).select("src", "dst")
            ident_e = ident.select(
                F.col("doc_id").alias("src"),
                F.col("old_cluster").alias("dst"),
            )
            # lazy pre-CC cut: cluster_labels' gating count() is the job
            # that materializes it. Batch-touched edge sets are batch-
            # scale, so the driver union-find path almost always applies;
            # a giant batch falls back to the distributed loop unchanged.
            edges = (
                _to_cluster(_to_cluster(fuzzy, "src"), "dst")
                .unionByName(exact_e)
                .unionByName(ident_e)
            ).localCheckpoint(eager=False)
            labels = tracked_persist(cluster_labels(edges))

            # merges: an old-cluster node whose component min undercuts
            # it. Only clusters of TOUCHED old docs (fuzzy endpoints or
            # identity targets) can appear as CC nodes, so the candidate
            # set needs no full-history scan — merge rows are
            # metadata-scale (bounded by clusters bridged per batch),
            # collected once instead of isEmpty()+write double actions.
            old_clusters = (
                old_map.select(F.col("cluster_id").alias("doc_id"))
                .unionByName(ident.select(F.col("old_cluster").alias("doc_id")))
                .distinct()
            )
            merge_rows = (
                labels.join(old_clusters, "doc_id", "left_semi")
                .filter(F.col("cluster_id") != F.col("doc_id"))
                .select(
                    F.col("doc_id").alias("old_cluster"),
                    F.col("cluster_id").alias("new_cluster"),
                )
                .collect()
            )

            batch_assign = (
                sigs.select("doc_id")
                .join(labels, "doc_id", "left")
                .withColumn("cluster_id", F.coalesce("cluster_id", "doc_id"))
                .select("doc_id", "cluster_id")
            )
            batch_assign = tracked_persist(batch_assign)
            batch_assign.count()

            # ---- append index state. ORDER IS THE CRASH CONTRACT:
            # merges/sigs/keys first (CONCURRENTLY — they are independent
            # appends and any crash-subset of them is recoverable, see
            # below), then the assignments append LAST as the commit
            # record. A crash before the assignments append leaves docs
            # whose index state exists but who were never classified —
            # exactly what the identity tier's SELF-match recovery path
            # re-classifies on redelivery without re-appending (and the
            # keys-without-sigs subset simply re-enters fresh; its
            # replayed key rows are deduped at probe time). A crash after
            # it is a completed batch (redelivery anti-joins to empty).
            # Recovery-path docs are excluded from the appends: their
            # sigs/keys are already in the index.
            self._phase("incr:appends")
            from concurrent.futures import ThreadPoolExecutor

            # identity-membership links: every non-delegate batch doc ->
            # the delegate whose text it equals (in-batch members follow
            # their batch rep; if that rep identity-matched an OLD
            # delegate, both it and its members link to the old one).
            # Duplicate link rows from a redelivered crash window are
            # tolerated by every consumer.
            members_l = (
                sigs.join(groups.select("text_sha", "rep_id"), "text_sha")
                .filter(F.col("doc_id") != F.col("rep_id"))
                .select("doc_id", F.col("rep_id").alias("_brep"))
            )
            parent_map = classified.select(
                F.col("doc_id").alias("_brep"),
                F.coalesce(
                    F.when(
                        F.col("old_id") != F.col("doc_id"), F.col("old_id")
                    ),
                    F.col("doc_id"),
                ).alias("parent_id"),
            )
            link_rows = (
                members_l.join(parent_map, "_brep")
                .select("doc_id", "parent_id")
                .unionByName(
                    true_matched.select(
                        "doc_id", F.col("old_id").alias("parent_id")
                    )
                )
            )

            def _w_merges() -> None:
                if merge_rows:
                    self._with_ver(
                        long_pair_frame(spark, merge_rows, _MERGE_SCHEMA),
                        "merges",
                    ).write.mode("append").parquet(self._p("merges"))

            def _w_sigs() -> None:
                self._with_ver(
                    fresh.join(recovery_ids, "doc_id", "left_anti"), "sigs"
                ).write.mode("append").parquet(self._p("sigs"))

            def _w_keys() -> None:
                self._append_keys(
                    bkeys.join(recovery_ids, "doc_id", "left_anti")
                )

            def _w_links() -> None:
                self._append_links(link_rows)

            with ThreadPoolExecutor(max_workers=4) as ex:
                for fut in [
                    ex.submit(f)
                    for f in (_w_merges, _w_sigs, _w_keys, _w_links)
                ]:
                    fut.result()
            self._write_assignments(batch_assign, mode="append")
            return batch_assign

    # --------------------------------------------------------- update_batch
    def update_batch(self, pages: DataFrame) -> DataFrame:
        """Re-crawl upsert: classify a batch in which some urls are
        ALREADY indexed but their content changed (the case add_batch
        deliberately skips). Unknown urls ingest normally; known-unchanged
        rows are no-ops. Returns the changed and new batch docs'
        (doc_id, cluster_id).

        The upsert is add_batch over the affected clusters: every cluster
        holding a changed doc is hidden from the index, and its members
        are re-ingested together with the batch through the one
        classification path. Members the batch does not carry are rebuilt
        from their current content — a delegate from its live `sigs` row,
        an identity child from its `links` parent's text. Everything else
        follows from ordinary batch classification: when a changed doc was
        the delegate of an exact-dup group, the in-batch exact grouping
        promotes the smallest remaining member to delegate of the old text
        (the content still exists in the corpus — only the crawler's copy
        under that url changed); a split or a new min label comes from the
        in-batch exact/fuzzy edges plus connected components; members or
        new content that touch untouched clusters are found by the probe.

        Commit protocol (the closest an append-only parquet store gets to
        the table format's atomic snapshot): every doc the update
        re-ingests — affected-cluster members plus the batch's changed and
        new docs — gets a pending version above any row it has in any
        table. While it is set, reads hide every row of those docs, and
        every row written for them lands at the pending version —
        invisible, because a row is live only when its ver EQUALS the
        doc's current version. One final tombstone append sets that
        version for every table x every such doc at once: the old rows
        (merge rows included, versioned by the cluster id they retire)
        die and the new ones go live; a table that got no new row for a
        doc has no live row for it after the flip. A crash before the
        flip leaves only invisible orphans plus the inflight marker;
        readers fail loudly on the marker (reference analog: pcompress
        refuses mismatched archive updates, pcompress.c metadata checks),
        and re-running update_batch with the same pages heals — detection
        reads only committed state, and the re-run writes at a version
        above the orphans'. Merge rows that fold an untouched cluster
        into a re-ingested one are the one pre-commit-visible write: the
        re-run derives the same rows, and duplicates are idempotent in
        the closure.

        Parity contract (tests/test_update.py): after update_batch,
        assignments() equals a monolithic pipeline run over the updated
        corpus, at default caps (the add_batch cap caveat in the module
        docstring applies here identically)."""
        spark = self.spark
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        prev_desc = spark.sparkContext.getLocalProperty("spark.job.description")
        try:
            return self._update_batch_inner(pages)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
            spark.sparkContext.setJobDescription(prev_desc)
            self._pending_vers = _empty(spark, _PENDING_SCHEMA)

    def _update_batch_inner(self, pages: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        self._phase("incr:detect")
        fs = self._fs()
        if not fs.exists(self._p("sigs")):
            return self.add_batch(pages)
        with CacheScope():
            live_sigs = self._live("sigs")
            # ---- detect: batch identity vs CURRENT content per doc.
            # Delegates carry their own text; identity children carry
            # their parent delegate's (texts equal by construction).
            w = Window.partitionBy("doc_id").orderBy("text_sha")
            base = (
                exact.base_ids(pages)
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
                .localCheckpoint(eager=True)
            )
            # crash-window duplicate link rows are expected; one row per
            # doc is the contract
            current = live_sigs.select(
                "url", "doc_id", "text_sha", "lang", "text"
            ).unionByName(
                self._live("links")
                .dropDuplicates(["doc_id"])
                .join(
                    live_sigs.select(
                        F.col("doc_id").alias("parent_id"),
                        "text_sha",
                        "lang",
                        "text",
                    ),
                    "parent_id",
                )
                .select(
                    F.lit(None).cast("string").alias("url"),
                    "doc_id",
                    "text_sha",
                    "lang",
                    "text",
                )
            )
            cls = base.join(
                current.select("doc_id", F.col("text_sha").alias("_cur")),
                "doc_id",
                "left",
            ).localCheckpoint(eager=True)
            # changed-doc set stays a DataFrame end-to-end — no collected
            # id list, so a FULL re-crawl (every url changed) is a join
            # problem, not an out-of-memory collect
            chdf, n_changed = _id_frame(
                cls.filter(F.col("_cur") != F.col("text_sha"))
                .select("doc_id")
                .distinct()
            )
            if n_changed == 0:
                # nothing to upsert (or a healed re-run whose update
                # already committed): clear any marker, ingest the rest
                fs.delete(self._p("_update_inflight"))
                return self.add_batch(pages)

            # ---- loud gate: marker up before any index write
            fs.delete(self._p("_update_inflight"))
            chdf.coalesce(
                max(1, min(64, n_changed // 1_000_000 + 1))
            ).write.mode("overwrite").parquet(self._p("_update_inflight"))

            # ---- the docs to re-ingest: every member of an affected
            # cluster (committed state) plus the batch's changed and new
            # docs
            mm = self._merge_closure()
            aff, _ = _id_frame(
                self._resolved_for(chdf, mm).select("cluster_id").distinct()
            )
            upserted = cls.filter(
                ~F.col("_cur").eqNullSafe(F.col("text_sha"))
            ).select("doc_id")
            touched = (
                self._apply_closure(self._live("assignments"), mm)
                .join(aff, "cluster_id", "left_semi")
                .select("doc_id")
                .unionByName(upserted)
                .distinct()
                .localCheckpoint(eager=True)
            )
            # the batch, plus the members it does not carry at their
            # current content; url stays NULL where the index has none
            reingest = base.unionByName(
                current.join(touched, "doc_id", "left_semi").join(
                    base, "doc_id", "left_anti"
                )
            )

            # ---- pending versions: (per-doc raw max over every table)
            # + 1, above both committed state and any crashed attempt's
            # orphans
            vers = reduce(
                DataFrame.unionByName,
                [
                    self._read(name).select(
                        F.col(_KEY.get(name, "doc_id")).alias("doc_id"), "ver"
                    )
                    for name in (*_TBL, "tombstones")
                ],
            )
            mv = (
                vers.join(touched, "doc_id", "left_semi")
                .groupBy("doc_id")
                .agg(F.max("ver").alias("_mv"))
            )
            self._pending_vers, _ = _id_frame(
                touched.join(mv, "doc_id", "left").select(
                    "doc_id",
                    (F.coalesce(F.col("_mv"), F.lit(0)) + 1)
                    .cast("int")
                    .alias("_pv"),
                )
            )

            out = self._add_batch_inner(reingest)

            # ---- COMMIT: one tombstone append flips every table's
            # version of every re-ingested doc
            self._phase("incr:commit")
            self._append_tombstones(
                self._pending_vers.select(
                    F.explode(
                        F.array(*[F.lit(c) for c in _TBL.values()])
                    ).alias("tbl"),
                    "doc_id",
                    F.col("_pv").alias("ver"),
                )
            )
            fs.delete(self._p("_update_inflight"))
            return out.join(upserted, "doc_id", "left_semi")
