"""Incremental dedup index: full-run parity, cluster merges, identity tier.

The headline property: splitting a corpus into batches and ingesting them
incrementally yields EXACTLY the assignments a monolithic pipeline run
over everything yields (labels included — the merge closure restores
min-doc_id semantics across batch boundaries).
"""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pcompress_spark.config import PipelineConfig  # noqa: E402
from pcompress_spark.operators.incremental import IncrementalDedupIndex  # noqa: E402


def _as_map(df):
    return {r["doc_id"]: r["cluster_id"] for r in df.collect()}


@pytest.fixture(scope="module")
def split_run(spark, pages_df, tmp_path_factory):
    """Bootstrap on a deterministic half of the golden corpus, then ingest
    the other half as an increment."""
    idx_dir = str(tmp_path_factory.mktemp("incr_idx"))
    half_a = pages_df.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 0)
    half_b = pages_df.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 1)
    idx = IncrementalDedupIndex(spark, PipelineConfig(), idx_dir)
    idx.bootstrap(half_a)
    idx.add_batch(half_b)
    return idx


def test_incremental_matches_full_run(split_run, assignments_run):
    full_pdf, _ckpt, _pipe = assignments_run
    full = dict(zip(full_pdf["doc_id"], full_pdf["cluster_id"]))
    incr = _as_map(split_run.assignments())
    assert len(incr) == len(full)
    diff = {d: (c, full[d]) for d, c in incr.items() if full[d] != c}
    assert not diff, f"{len(diff)} label mismatches, e.g. {list(diff.items())[:5]}"


def test_incremental_matches_full_run_r_gt_1(
    spark, pages_df, assignments_run_r2, tmp_path
):
    """The same split at b=10/r=2: bootstrap on one xxhash half, add_batch
    the other, labels identical to the monolithic r=2 run — the probe
    shape of the shared candidate generator, its band-floor overlap and
    the degree cap agree with the batch self-join."""
    cfg = PipelineConfig(lsh_bands=10, lsh_rows=2)
    half = F.pmod(F.xxhash64("url"), F.lit(2))
    idx = IncrementalDedupIndex(spark, cfg, str(tmp_path / "idx"))
    idx.bootstrap(pages_df.filter(half == 0))
    idx.add_batch(pages_df.filter(half == 1))
    full_pdf, _ckpt = assignments_run_r2
    full = dict(zip(full_pdf["doc_id"], full_pdf["cluster_id"]))
    incr = _as_map(idx.assignments())
    assert len(incr) == len(full)
    diff = {d: (c, full[d]) for d, c in incr.items() if full[d] != c}
    assert not diff, f"{len(diff)} label mismatches, e.g. {list(diff.items())[:5]}"


def test_bootstrap_adopts_pipeline_reps_and_keys(spark, pages_df, tmp_path):
    """bootstrap's sigs/ and keys/ are the pipeline's own delegates and
    keyed rows — live sigs equal representatives() as (doc_id, text_sha),
    live keys equal fused_keyed_rows() as a multiset — and no checkpoint of
    its pipeline run is left in the index directory."""
    from collections import Counter

    from pcompress_spark.operators import exact, fused

    cfg = PipelineConfig()
    pages = pages_df.filter(F.pmod(F.xxhash64("url"), F.lit(4)) == 0)
    idx = IncrementalDedupIndex(spark, cfg, str(tmp_path))
    idx.bootstrap(pages)
    sigs = exact.build_sigs(pages, cfg)
    reps = exact.representatives(sigs, exact.text_groups(sigs))

    def rows(df, *cols):
        return Counter(tuple(r) for r in df.select(*cols).collect())

    assert set(rows(idx._live("sigs"), "doc_id", "text_sha")) == set(
        rows(reps, "doc_id", "text_sha")
    )
    keyed = ("doc_id", "ch", "key")
    assert rows(idx._live("keys"), *keyed) == rows(
        fused.fused_keyed_rows(reps, cfg), *keyed
    )
    assert not os.path.exists(tmp_path / "_bootstrap_ckpt")
    # the run's lineage and drop logs stay with the index it built
    from pcompress_spark.pipeline import DROP_LOGS

    for name in ("_lineage.json", *DROP_LOGS):
        assert os.path.exists(tmp_path / name), name


def test_add_batch_on_untombstoned_index_reads_no_tombstones(
    spark, pages_df, tmp_path, monkeypatch
):
    """An index update_batch never touched has no tombstones/, merges/ or
    _update_inflight/: add_batch and assignments() issue no Spark read of
    an absent table (each such read fails and logs a stack trace), and a
    live read of such an index plans no join — the empty tombstone and
    pending-version frames fold out of the optimized plan."""
    from pyspark.sql.readwriter import DataFrameReader

    q = F.pmod(F.xxhash64("url"), F.lit(8))
    idx = IncrementalDedupIndex(spark, PipelineConfig(), str(tmp_path))
    idx.bootstrap(pages_df.filter(q == 0))
    absent = ("tombstones", "merges", "_update_inflight")
    assert not any(os.path.exists(idx._p(n)) for n in absent)
    plan = idx._live("sigs")._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan, plan

    reads, missing = [], []
    orig = DataFrameReader.parquet

    def counted(self, *paths, **kw):
        reads.extend(os.path.basename(p.rstrip("/")) for p in paths)
        missing.extend(p for p in paths if not os.path.exists(p))
        return orig(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", counted)
    batch = pages_df.filter(q == 1)
    assert idx.add_batch(batch).count() == batch.count()
    assert "sigs" in reads and not set(reads) & set(absent), reads
    idx.assignments().count()
    assert not missing, missing


def test_coalesced_queue_matches_full_run(
    spark, pages_df, assignments_run, tmp_path
):
    """Draining a QUEUE of pending batches in one action (add_batches)
    yields exactly the monolithic labels — the coalescing path pays one
    per-batch floor for k queued batches without changing any answer."""
    q = F.pmod(F.xxhash64("url"), F.lit(4))
    idx = IncrementalDedupIndex(spark, PipelineConfig(), str(tmp_path))
    idx.bootstrap(pages_df.filter(q == 0))
    idx.add_batches([pages_df.filter(q == i) for i in (1, 2, 3)])
    full_pdf, _ckpt, _pipe = assignments_run
    full = dict(zip(full_pdf["doc_id"], full_pdf["cluster_id"]))
    incr = _as_map(idx.assignments())
    assert len(incr) == len(full)
    diff = {d: (c, full[d]) for d, c in incr.items() if full[d] != c}
    assert not diff, f"{len(diff)} label mismatches"


def test_coalesced_queue_duplicate_url_resolves_by_sha(spark, tmp_path):
    """The documented cross-queue rule: when the SAME url sits in two
    queued batches with different content, coalescing resolves it by the
    in-batch dedup rule (lowest text_sha wins) — deterministically, not
    by arrival order. Both orderings of the queue must yield the same
    index state, and exactly one version of the doc is classified."""
    import hashlib

    def pages(rows):
        return spark.createDataFrame(
            [(u, t, "en") for u, t in rows],
            "url string, text string, lang string",
        )

    t1 = "first crawl of the contested page with some words " * 6
    t2 = "second crawl body that is entirely different text " * 6
    winner = min(
        (t1, t2), key=lambda t: hashlib.sha256(t.encode()).hexdigest()
    )
    base = [("u://stable", "an unrelated stable document " * 8)]
    results = []
    for order in ((t1, t2), (t2, t1)):
        idx_dir = str(tmp_path / f"idx_{order[0][:5]}")
        idx = IncrementalDedupIndex(spark, PipelineConfig(), idx_dir)
        idx.bootstrap(pages(base))
        idx.add_batches(
            [pages([("u://dup", order[0])]), pages([("u://dup", order[1])])]
        )
        rows = idx.assignments().collect()
        results.append({r["doc_id"]: r["cluster_id"] for r in rows})
        assert len(rows) == 2  # stable + exactly one contested version
    assert results[0] == results[1]
    # and the survivor is the sha-minimal content: re-delivering it is a
    # no-op (known), while the loser would be skipped as a known doc_id
    idx2 = IncrementalDedupIndex(
        spark, PipelineConfig(), str(tmp_path / "idx_check")
    )
    idx2.bootstrap(pages(base))
    idx2.add_batches([pages([("u://dup", winner)])])
    assert idx2.add_batch(pages([("u://dup", t1)])).count() == 0


def test_merge_bridges_existing_clusters(spark, tmp_path):
    """A batch doc near-duplicating two docs that bootstrapped into
    separate clusters must merge them — and the merged label must be the
    global min doc_id, exactly as one full run would label it."""
    base = (
        "the river cuts a slow arc through the valley while herons wade "
        "the shallows and long barges slide beneath the iron bridge past "
        "the flour mill whose wheel has not turned in forty years now"
    )
    # two corpus docs: far enough apart not to pair with each other, each
    # close enough to the bridging batch doc
    a = base + " " + " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(12))
    c = base + " " + " ".join(f"delta{i} epsil{i} zetaa{i}" for i in range(12))
    bridge = base + " " + " ".join(
        f"alpha{i} beta{i} gamma{i}" for i in range(6)
    ) + " " + " ".join(f"delta{i} epsil{i} zetaa{i}" for i in range(6))

    def pages(rows):
        return spark.createDataFrame(
            [(u, t, "en") for u, t in rows], "url string, text string, lang string"
        )

    idx = IncrementalDedupIndex(spark, PipelineConfig(), str(tmp_path / "idx"))
    boot = _as_map(idx.bootstrap(pages([("u://a", a), ("u://c", c)])))
    assert len(set(boot.values())) == 2, "bootstrap must make 2 clusters"

    sc = spark.sparkContext
    sc.setJobDescription("caller")
    try:
        idx.add_batch(pages([("u://b", bridge)]))
        # the batch's phase names must not label the caller's later jobs
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setJobDescription(None)
    res = _as_map(idx.assignments())
    assert len(res) == 3
    assert len(set(res.values())) == 1, f"expected one merged cluster: {res}"
    assert set(res.values()) == {min(res.keys())}, "label must be global min"


def test_identity_tier_skips_index_growth(spark, tmp_path):
    """A batch doc byte-identical to a corpus doc joins its cluster via
    the sha tier and appends nothing to sigs/keys."""
    t1 = ("unique text one about winnowing anchors and rolling hashes "
          "across shingles of sixteen characters with stable seeds") * 2
    t2 = ("unique text two about pigeonhole simhash blocks and hamming "
          "radius confirmation inside whole stage codegen pipelines") * 2

    def pages(rows):
        return spark.createDataFrame(
            [(u, t, "en") for u, t in rows], "url string, text string, lang string"
        )

    idx = IncrementalDedupIndex(spark, PipelineConfig(), str(tmp_path))
    idx.bootstrap(pages([("u://1", t1), ("u://2", t2)]))
    sigs_before = spark.read.parquet(f"{tmp_path}/sigs").count()
    keys_before = spark.read.parquet(f"{tmp_path}/keys").count()

    idx.add_batch(pages([("u://1-copy", t1)]))
    assert spark.read.parquet(f"{tmp_path}/sigs").count() == sigs_before
    assert spark.read.parquet(f"{tmp_path}/keys").count() == keys_before

    res = _as_map(idx.assignments())
    copy_id = {r["doc_id"] for r in
               pages([("u://1-copy", t1)]).select(
                   F.xxhash64("url").alias("doc_id")).collect()}.pop()
    orig_id = {r["doc_id"] for r in
               pages([("u://1", t1)]).select(
                   F.xxhash64("url").alias("doc_id")).collect()}.pop()
    assert res[copy_id] == min(copy_id, orig_id)
    assert res[orig_id] == min(copy_id, orig_id)


def test_compact_folds_merges(spark, tmp_path):
    """compact() rewrites assignments with the merge closure applied and
    clears merges/; resolution before == after, and later batches keep
    working against the compacted index."""
    base = ("the river cuts a slow arc through the valley while herons wade "
            "the shallows and long barges slide beneath the iron bridge past "
            "the flour mill whose wheel has not turned in forty years now")
    a = base + " " + " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(12))
    c = base + " " + " ".join(f"delta{i} epsil{i} zetaa{i}" for i in range(12))
    bridge = base + " " + " ".join(
        f"alpha{i} beta{i} gamma{i}" for i in range(6)
    ) + " " + " ".join(f"delta{i} epsil{i} zetaa{i}" for i in range(6))

    def pages(rows):
        return spark.createDataFrame(
            [(u, t, "en") for u, t in rows], "url string, text string, lang string"
        )

    idx = IncrementalDedupIndex(spark, PipelineConfig(), str(tmp_path))
    idx.bootstrap(pages([("u://a", a), ("u://c", c)]))
    idx.add_batch(pages([("u://b", bridge)]))     # bridges -> merge row
    before = _as_map(idx.assignments())
    assert len(set(before.values())) == 1

    folded = idx.compact()
    assert folded >= 1
    assert not os.path.exists(idx._p("merges"))   # cleared
    after = _as_map(idx.assignments())
    assert after == before                        # same resolution, no closure
    # raw table already carries the folded labels
    raw = {r["doc_id"]: r["cluster_id"] for r in
           spark.read.parquet(f"{tmp_path}/assignments").collect()}
    assert raw == before
    assert idx.compact() == 0                     # idempotent

    # the compacted index still ingests
    d = base + " completely fresh tail " + " ".join(
        f"qq{i} rr{i}" for i in range(14))
    idx.add_batch(pages([("u://d", d)]))
    assert len(_as_map(idx.assignments())) == 4


def _pages(spark, rows):
    return spark.createDataFrame(
        [(u, t, "en") for u, t in rows], "url string, text string, lang string"
    )


def test_crash_recovery_after_partial_append(spark, tmp_path):
    """Crash contract: if a delivery died after the sigs/keys appends but
    BEFORE the assignments commit, redelivering the batch re-classifies
    those docs through the self-match recovery path — correct labels, and
    no duplicate rows ever land in sigs/ or keys/."""
    from pcompress_spark.operators import exact, fused

    base = ("a long riverbank paragraph that anchors similarity for the "
            "recovery scenario with enough shingles to signature cleanly "
            "and a stable tail of distinctive tokens ")
    a = base + " ".join(f"alpha{i}" for i in range(14))
    b = base + " ".join(f"alpha{i}" for i in range(7)) + " " + \
        " ".join(f"beta{i}" for i in range(7))          # near-dup of a

    idx = IncrementalDedupIndex(spark, PipelineConfig(), str(tmp_path))
    idx.bootstrap(_pages(spark, [("u://a", a)]))

    # simulate the crashed delivery of batch {b}: index state appended,
    # assignments never committed
    bs = exact.build_sigs(_pages(spark, [("u://b", b)]), idx.cfg)
    brep = exact.representatives(bs, exact.text_groups(bs))
    idx._with_ver(brep, "sigs").write.mode("append").parquet(
        f"{tmp_path}/sigs"
    )
    idx._append_keys(fused.fused_keyed_rows(brep, idx.cfg))
    sigs_n = spark.read.parquet(f"{tmp_path}/sigs").count()
    keys_n = spark.read.parquet(f"{tmp_path}/keys").count()

    idx.add_batch(_pages(spark, [("u://b", b)]))        # redelivery
    assert spark.read.parquet(f"{tmp_path}/sigs").count() == sigs_n
    assert spark.read.parquet(f"{tmp_path}/keys").count() == keys_n
    res = _as_map(idx.assignments())
    assert len(res) == 2
    assert len(set(res.values())) == 1, f"near-dups must cluster: {res}"
    assert set(res.values()) == {min(res.keys())}


def test_duplicate_url_within_batch(spark, tmp_path):
    """A landing file carrying the same url twice yields exactly one
    assignment row and one delegate (deterministic winner by text_sha)."""
    t1 = ("distinct text payload one with sufficient length for shingles "
          "and a tail of unique tokens aa bb cc dd ee ff gg hh ii jj")
    t2 = ("distinct text payload two with sufficient length for shingles "
          "and a tail of unique tokens kk ll mm nn oo pp qq rr ss tt")
    idx = IncrementalDedupIndex(spark, PipelineConfig(), str(tmp_path))
    idx.bootstrap(_pages(spark, [("u://seed", t1 + " seed tail")]))
    idx.add_batch(_pages(spark, [("u://dup", t1), ("u://dup", t2)]))
    a = spark.read.parquet(f"{tmp_path}/assignments")
    dup_id = _pages(spark, [("u://dup", t1)]).select(
        F.xxhash64("url").alias("d")).collect()[0]["d"]
    assert a.filter(F.col("doc_id") == dup_id).count() == 1
    assert idx.assignments().count() == 2


def test_rebootstrap_clears_previous_state(spark, tmp_path):
    """bootstrap() over a dir that already holds an index must not append
    keys twice or replay stale merges."""
    t = ("a corpus document with plenty of text to shingle and signature "
         "having its own distinctive vocabulary zz yy xx ww vv uu")
    idx = IncrementalDedupIndex(spark, PipelineConfig(), str(tmp_path))
    idx.bootstrap(_pages(spark, [("u://x", t)]))
    keys_once = spark.read.parquet(f"{tmp_path}/keys").count()
    idx.bootstrap(_pages(spark, [("u://x", t)]))        # same dir, again
    assert spark.read.parquet(f"{tmp_path}/keys").count() == keys_once
    assert _as_map(idx.assignments()) == {
        _pages(spark, [("u://x", t)]).select(
            F.xxhash64("url").alias("d")).collect()[0]["d"]:
        _pages(spark, [("u://x", t)]).select(
            F.xxhash64("url").alias("d")).collect()[0]["d"]
    }
