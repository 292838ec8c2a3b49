"""Fused candidate generation — ONE bucket shuffle for all three channels.

The three LSH-family channels (minhash bands J3, simhash pigeonhole blocks
J5, winnowing anchors F11) all reduce to the same shape: explode per-doc
keys, pair docs within buckets (`bucket_pairs`). Round 2 ran them as
three concurrent jobs; each channel's bucket frame, stats groupBy, and
self-join moved its own shuffle, and on a fixed-memory-bandwidth
box the three interleaved shuffles were the measured scaling bottleneck
(candidates stage 2.3x of 4x at 2->8 cores, BENCH_SCALING r2). Fusing
them into ONE narrow keyed frame

    (doc_id: long, ch: tinyint, key: long)

gives one persist, one bucket-stats groupBy, one bucket self-join, and
one per-pair aggregation carrying ALL channels — roughly a third of the
shuffled bytes and stage count, with identical pair semantics: the bucket
join key is the composite (ch, key), so channels never mix inside a
bucket, and the bucket cap applies per channel bucket exactly as the
per-channel joins applied it.

Round 4 shrank the post-aggregation fan-in (the remaining 2->8-core
efficiency sink, BENCH_SCALING r3: candidates stage 0.68-0.79 on the
degraded-memory VM class):
  - (ch, key) is packed into ONE long bucket key, so every candidate-stage
    exchange ships and sorts one 8-byte column instead of two (kept on
    the r4 A/B: candidates_gen 33.6-34.3 s packed vs 37.4 s unpacked at
    local[8], candidate rows byte-identical);
  - the per-pair groupBy carries TWO aggregation buffers (a count and a
    bit_or'd channel bitmask) instead of five boolean max's;
  - the hot-key correction joins broadcast the per-doc hot-key arrays
    when they are small (the normal case — hot buckets are the
    exception), so the junk-dominated pair stream is never shuffled for
    them; a measured count gates the hint so a boilerplate-degenerate
    corpus falls back to the shuffle join instead of OOMing the driver;
  - the simhash hamming-confirm join runs ONLY over pairs some simhash
    bucket actually proposed — band-noise pairs (the ~99% majority at
    b=20/r=1) never reach it;
  - at r == 1 the signature prefilter (verify.prefilter_candidates
    semantics) is folded into the same pass: junk pairs are dropped
    straight off the persisted count frame, before ANY wide join, and the
    drop log is produced here so drops stay non-silent.

`candidates` is the ONE generator: the batch pipeline and the incremental
index's probe (add_batch, and update_batch through it) both call it, so the
per-pair semantics — and the r == 1 vs r > 1 rule — live in one place.

Reference analog: the reference likewise keeps ONE global index probed by
every key kind (exact checksum, KMV sketch values, similarity hash —
rabin/global/index.c:485-558) rather than one index per channel, and
probes the cheap key before any expensive verify (rabin_dedup.c:1132-1180).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pcompress_spark.cache import tracked_persist
from pcompress_spark.config import PipelineConfig
from pcompress_spark.operators import lsh, simhash, substring

CH_MINHASH = 0
CH_SIMHASH = 1
CH_WINNOW = 2

CHANNEL_NAMES = {CH_MINHASH: "lsh", CH_SIMHASH: "simhash", CH_WINNOW: "winnow"}

# channel bitmask aggregated per pair (bit_or): one long buffer replaces
# four boolean max aggregations
_FL_MH = 1
_FL_SH = 2
_FL_WN = 4
_FL_STAR = 8  # minhash star-downgrade rows only (matches the old
#               max((ch==MINHASH) & is_star) semantics)

# per-doc hot-key arrays above this row count are joined by shuffle, not
# broadcast: docs carry <= lsh_bands hot keys (~200 B/row), so 500k rows
# ~= 100 MB — the edge of a comfortable broadcast on a 1000-executor
# cluster. Only a boilerplate-degenerate corpus exceeds it.
HOT_DOCS_BROADCAST_MAX = 500_000


def fused_keyed_rows(reps: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """(doc_id, ch, key): the union of all three channels' bucket keys.

    Per-channel keys are packed into a single long (xxhash64 of the
    channel's natural key tuple) so a shuffle row is 17 bytes instead of
    the per-channel (idx int + hash long) pairs — the ch tag disambiguates
    key spaces, and a cross-channel 64-bit collision is impossible because
    ch is part of the join key."""
    ch_col = lambda c: F.lit(c).cast("tinyint").alias("ch")  # noqa: E731
    mh = lsh.band_explode(reps, cfg).select(
        "doc_id",
        ch_col(CH_MINHASH),
        F.xxhash64("band_idx", "band_hash").alias("key"),
    )
    sh = simhash.simhash_blocks(reps, cfg).select(
        "doc_id",
        ch_col(CH_SIMHASH),
        F.xxhash64("blk_idx", "blk_val").alias("key"),
    )
    wn = substring.anchor_explode(reps, cfg).select(
        "doc_id", ch_col(CH_WINNOW), F.col("anchor").alias("key")
    )
    return mh.unionByName(sh).unionByName(wn)


def _ch():
    """Channel tag of the packed bucket key `k2` (its low 2 bits)."""
    return F.col("k2").bitwiseAND(F.lit(3))


def bucket_pairs(
    keyed: DataFrame, cap: int, probe_ids: DataFrame | None = None
) -> tuple[DataFrame, DataFrame]:
    """Packed keyed rows (doc_id, k2) -> (pairs(id_a, id_b, k2, is_star),
    hot(k2, n_docs)): one row per (pair, shared bucket), id_a < id_b.

    The shuffle on the bucket key is the distributed form of the
    reference's serialized global index (pcompress.c:2617-2624,
    rabin/global/index.c:485-558). Skew policy, in order: identical texts
    are collapsed to one delegate before bucketing (operators/exact.py);
    each bucket's width and min doc are counted ONCE over all rows — the
    cap verdict; a bucket of <= cap docs pairs its members (<= 2016 pairs
    in one key group at cap 64); a wider one is star-connected to its min
    doc (`is_star`, logged in `hot`; A7 bounded index,
    rabin/global/index.c:539-547); AQE skew-join splitting takes the rest.

    Without `probe_ids` the in-cap pairs come from the a < b self-join
    (batch). With a (doc_id) frame of probe docs only the batch rows with
    >= 1 probe endpoint are emitted, at a cost ∝ probe keys x bucket width
    (the incremental probe). An over-cap bucket emits no member-member
    rows, so `candidates` adds each pair's shared over-cap keys back to
    its co-occurrence count."""
    # keyed and stats are each read by several branches of one action
    # (the cap verdict, both join sides, the hot log, and the caller's
    # hot-doc semi-join); Spark does not dedup identical subplans across
    # branches, so persist: one bucket aggregation instead of up to five
    keyed = tracked_persist(keyed)
    stats = tracked_persist(
        keyed.groupBy("k2").agg(
            F.count(F.lit(1)).alias("_n"), F.min("doc_id").alias("_rep")
        )
    )
    hot = stats.filter(F.col("_n") > cap).select(
        "k2", F.col("_n").alias("n_docs")
    )
    joined = keyed.join(stats, "k2")
    incap = joined.filter(F.col("_n") <= cap).select("k2", "doc_id")
    star = joined.filter(
        (F.col("_n") > cap) & (F.col("doc_id") != F.col("_rep"))
    ).select(
        F.col("_rep").alias("id_a"),
        F.col("doc_id").alias("id_b"),
        "k2",
        F.lit(True).alias("is_star"),
    )
    if probe_ids is None:
        a, b = incap.alias("a"), incap.alias("b")
        pairs = a.join(
            b,
            (F.col("a.k2") == F.col("b.k2"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.k2").alias("k2"),
            F.lit(False).alias("is_star"),
        )
        return pairs.unionByName(star), hot

    probe_ids = probe_ids.select("doc_id")
    probe = incap.join(probe_ids, "doc_id", "left_semi").select(
        "k2", F.col("doc_id").alias("_p")
    )
    pairs = (
        probe.join(incap.select("k2", F.col("doc_id").alias("_m")), "k2")
        .filter(F.col("_p") != F.col("_m"))
        .select(
            F.least("_p", "_m").alias("id_a"),
            F.greatest("_p", "_m").alias("id_b"),
            "k2",
        )
        .distinct()  # probe-probe pairs arrive once from each side
        .withColumn("is_star", F.lit(False))
    )
    # metadata-scale gate (1-row agg over the persisted stats): a
    # batch-scale probe usually has NO over-cap bucket; skipping the star
    # joins then removes their shuffles from the per-batch floor, and the
    # empty hot log folds the caller's hot-key correction away
    if hot.count() == 0:
        return pairs, hot.filter(F.lit(False))
    star = (
        star.join(probe_ids.withColumnRenamed("doc_id", "id_a"), "id_a", "left_semi")
        .unionByName(
            star.join(
                probe_ids.withColumnRenamed("doc_id", "id_b"), "id_b", "left_semi"
            )
        )
        .distinct()  # a star row with two probe endpoints passes both
    )
    return pairs.unionByName(star), hot


def candidates(
    rows: DataFrame,
    sims: DataFrame,
    cfg: PipelineConfig,
    probe_ids: DataFrame | None = None,
    min_matches: int = 3,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Keyed rows (doc_id, ch, key) -> (candidates(id_a, id_b, channels,
    mh_overlap, is_star), hot_log(ch, key, n_docs),
    prefilter_drop_log(doc_id, n_dropped)).

    `sims` is a (doc_id, simhash) lookup covering every doc in `rows`.
    The pairs come from `bucket_pairs`: its self-join over all rows
    without `probe_ids` (batch pipeline), or, with a (doc_id) frame of
    probe docs, exactly the self-join's rows for pairs with >= 1 probe
    endpoint (the incremental add_batch probe). Both shapes then run one
    tail, which recovers each channel's verdict from one per-pair groupBy:

      - minhash: band co-occurrence count. Exact under the star
        downgrade: an over-cap bucket suppresses member-member emission,
        so star rows are EXCLUDED from the count and every pair instead
        adds |hot_keys(a) ∩ hot_keys(b)| — the over-cap band buckets both
        docs sit in. Each co-occurring band is counted exactly once (r2
        ADVICE), so the prefilter needs no star exemption.
      - simhash: bucket co-occurrence is only the pigeonhole screen
        (operators/simhash.py keys) — the exact hamming distance is
        confirmed here with codegen bit_count; a pair whose only proposer
        fails the hamming ball is dropped.
      - winnow: anchor co-occurrence (byte-confirmed later in
        verify_edges).

    The r rule. r == 1: band hash == minhash value, so the count IS the
    signature overlap (the reference's segmented-index hit count,
    rabin_dedup.c:1042-1058); mh_overlap carries it and the signature
    prefilter at `min_matches` is folded in (output-equivalent to
    verify.prefilter_candidates over the unfiltered pairs — asserted by
    tests/test_fused.py). r > 1: each co-occurring band certifies r
    agreeing positions in a disjoint signature slice, so mh_overlap =
    (co-occurring bands) * r is a PROVEN FLOOR on the overlap — the
    degree cap's rank. Banding is itself the precision screen there (a junk pair
    collides in a band w.p. ~J^r) and every kept pair is exact-Jaccard
    verified, so no prefilter runs (measured r5: its exact array
    intersect cost more than the sub-1% junk it removed) and the drop
    log is empty. Reference analog: the -EE regime trusts verification
    at a looser sketch threshold (rabin_dedup.h:153-159).
    """
    # pack (ch, key) into ONE long: channel in the low 2 bits, key shifted
    # up 2 (its top 2 bits drop — it is a hash; within-channel collision
    # odds move from 2^-64 to 2^-62 and the candidate superset is verified
    # downstream either way). Cross-channel collisions stay impossible.
    keyed = rows.select(
        "doc_id",
        F.shiftleft("key", 2).bitwiseOR(F.col("ch").cast("long")).alias("k2"),
    )
    pairs, hot = bucket_pairs(keyed, cfg.max_bucket_docs, probe_ids)

    # keyed was persisted by bucket_pairs (same plan -> cache hit)
    hot_docs = tracked_persist(
        keyed.filter(_ch() == CH_MINHASH)
        .join(hot.filter(_ch() == CH_MINHASH).select("k2"), "k2", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_set("k2").alias("_hk"))
    )
    # metadata-scale action (docs in over-cap buckets); gates the
    # broadcast so a boilerplate-degenerate corpus degrades to a shuffle
    # join instead of an oversized broadcast
    n_hot = hot_docs.count()

    is_mh = _ch() == CH_MINHASH
    flag = (
        F.when(
            is_mh,
            F.when(F.col("is_star"), F.lit(_FL_MH | _FL_STAR)).otherwise(
                F.lit(_FL_MH)
            ),
        )
        .when(_ch() == CH_SIMHASH, F.lit(_FL_SH))
        .otherwise(F.lit(_FL_WN))
    )
    agg = pairs.groupBy("id_a", "id_b").agg(
        F.sum(F.when(is_mh & ~F.col("is_star"), 1).otherwise(0))
        .cast("int")
        .alias("_mh_cnt"),
        F.bit_or(flag).cast("int").alias("_fl"),
    )
    if n_hot == 0:
        # no over-cap minhash bucket (the common case away from
        # boilerplate-degenerate corpora): the correction is identically
        # zero — skip its two joins over the full pair frame
        corrected = tracked_persist(agg)
    else:
        ha = hot_docs.select(
            F.col("doc_id").alias("id_a"), F.col("_hk").alias("_hk_a")
        )
        hb = hot_docs.select(
            F.col("doc_id").alias("id_b"), F.col("_hk").alias("_hk_b")
        )
        if n_hot <= HOT_DOCS_BROADCAST_MAX:
            ha, hb = F.broadcast(ha), F.broadcast(hb)
        corrected = tracked_persist(
            agg.join(ha, "id_a", "left")
            .join(hb, "id_b", "left")
            .withColumn(
                "_mh_cnt",
                F.col("_mh_cnt")
                + F.when(
                    F.col("_hk_a").isNotNull() & F.col("_hk_b").isNotNull(),
                    F.size(F.array_intersect("_hk_a", "_hk_b")),
                ).otherwise(F.lit(0)),
            )
            .drop("_hk_a", "_hk_b")
        )

    def _has(bit: int):
        return F.col("_fl").bitwiseAND(F.lit(bit)) != 0

    if cfg.lsh_rows == 1:
        overlap = F.col("_mh_cnt")
        # a pair failing `early` was proposed ONLY by minhash bands with a
        # count below the gate — drop it before any wide join; `late` is
        # the residual gate for a pair whose simhash bucket then failed
        # the hamming ball (it falls back to minhash-only)
        early = _has(_FL_SH | _FL_WN) | (F.col("_mh_cnt") >= min_matches)
        late = (
            F.coalesce(F.col("mh_overlap"), F.lit(0)) >= min_matches
        ) | (F.col("channels") != F.array(F.lit("minhash")))
    else:
        overlap = F.col("_mh_cnt") * cfg.lsh_rows
        # constant gates: Catalyst prunes the drop log to an empty relation
        early = late = F.lit(True)
    surv = corrected.filter(early)

    # hamming confirm only where some simhash bucket proposed the pair —
    # band-noise pairs never join the simhash table
    sa = sims.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("_sim_a"))
    sb = sims.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("_sim_b"))
    sh_rows = (
        surv.filter(_has(_FL_SH))
        .join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "_sh_ok",
            F.bit_count(F.col("_sim_a").bitwiseXOR(F.col("_sim_b")))
            <= cfg.simhash_radius,
        )
        .drop("_sim_a", "_sim_b")
    )
    scored = sh_rows.unionByName(
        surv.filter(~_has(_FL_SH)).withColumn("_sh_ok", F.lit(False))
    )
    channels = F.array_compact(
        F.array(
            F.when(_has(_FL_MH), F.lit("minhash")),
            F.when(F.col("_sh_ok"), F.lit("simhash")),
            F.when(_has(_FL_WN), F.lit("winnow")),
        )
    )
    # pairs left with NO channel (hamming-failed, never minhash-proposed)
    # are not candidates at all — dropped silently: outside the hamming
    # ball a simhash bucket hit is no evidence
    out = (
        scored.withColumn("channels", channels)
        .filter(F.size("channels") > 0)
        .select(
            "id_a",
            "id_b",
            "channels",
            F.when(_has(_FL_MH), overlap).cast("int").alias("mh_overlap"),
            _has(_FL_STAR).alias("is_star"),
        )
    )
    dropped = (
        corrected.filter(~early)
        .select("id_a", "id_b")
        .unionByName(out.filter(~late).select("id_a", "id_b"))
        .select(F.explode(F.array("id_a", "id_b")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dropped"))
    )
    # the hot log's `key` is the packed key's low-62-bit remnant: an
    # opaque bucket id (exact `ch` and `n_docs`), not a channel's
    # band/block/anchor key — never join it against index keys
    hot_log = hot.select(
        _ch().cast("tinyint").alias("ch"),
        F.shiftrightunsigned("k2", 2).alias("key"),
        "n_docs",
    )
    return out.filter(late), hot_log, dropped
