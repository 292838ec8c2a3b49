"""MinHash-LSH candidate generation (J3).

Reference: per segment, the K=20 smallest distinct 64-bit block hashes are
each probed independently against the shared similarity index
(rabin/rabin_dedup.c:976-994 sketch, :1026-1036 probes) — structurally LSH
with b=20 bands of r=1 row. Spark-first shape: posexplode the minhash
signature into (band_idx, band_hash) rows and self-join per bucket; the
shuffle IS the index probe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pcompress_spark.config import PipelineConfig
from pcompress_spark.operators.pairs import bucket_pairs


def band_explode(reps: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """sigs -> bands(doc_id, band_idx, band_hash).

    r == 1: band hash is the minhash value itself (reference semantics).
    r > 1: hash of the signature slice (generic banding).
    Docs shorter than one shingle (nshingles == 0) are excluded — the analog of
    the reference's small-chunk dedup skip (rabin_dedup.c:500-510).
    """
    base = reps.filter(F.col("nshingles") > 0)
    if cfg.lsh_rows == 1:
        return base.select(
            "doc_id",
            F.posexplode("minhash").alias("band_idx", "band_hash"),
        )
    bands = [
        F.struct(
            F.lit(i).alias("band_idx"),
            F.xxhash64(
                F.slice("minhash", i * cfg.lsh_rows + 1, cfg.lsh_rows)
            ).alias("band_hash"),
        )
        for i in range(cfg.lsh_bands)
    ]
    return base.select(
        "doc_id", F.explode(F.array(*bands)).alias("b")
    ).select("doc_id", F.col("b.band_idx"), F.col("b.band_hash"))


def lsh_candidates(
    reps: DataFrame, cfg: PipelineConfig, exact_overlap: bool = True
) -> tuple[DataFrame, DataFrame]:
    """(candidates(id_a, id_b, mh_overlap, is_star, channel='minhash'),
    hot_log).

    Pairs are dedup'd across the b bands with a counting groupBy (A6
    analog, rabin_dedup.c:1042-1058): with r == 1 the number of bands in
    which a pair co-occurs IS its signature overlap — how many of the
    K=20 sketch probes matched, the reference's segmented-index hit count
    — so the downstream signature prefilter and degree-cap ranking get
    `mh_overlap` for free instead of joining the K-long minhash arrays
    onto every raw pair (measured 5+ GB of array shuffle at 100k docs).
    Two cases where the raw count is NOT signature overlap, both handled:
    - star-downgraded buckets suppress member-member emission, so raw
      co-occurrence would undercount any pair sharing an over-cap bucket
      (r2 ADVICE): star rows are excluded from the count and every pair
      adds the size of the intersection of its endpoints' over-cap
      bucket-key sets instead — exactly one count per shared band, so
      `mh_overlap` IS the signature overlap for every pair (see
      operators/fused.py for the same construction);
    - r > 1 banding: band co-occurrence maxes out at b (a J=0.8 pair
      expects ~1.3 band matches at b=4/r=5), so mh_overlap is emitted
      null and the prefilter falls back to exact array-intersect.
    `exact_overlap=False` skips the hot-key correction and emits the raw
    (possibly undercounted) band count — for consumers that only use the
    candidate PAIR SET (which the correction never changes), saving the
    correction's extra joins.
    """
    bands = band_explode(reps, cfg)
    pairs, hot = bucket_pairs(
        bands,
        ["band_idx", "band_hash"],
        cap=cfg.max_bucket_docs,
        salt_min=cfg.salt_min,
        salt_groups=cfg.salt_buckets,
    )
    if cfg.lsh_rows == 1:
        overlap = F.sum(
            F.when(~F.col("is_star"), 1).otherwise(0)
        ).cast("int")
    else:
        overlap = F.max(F.lit(None).cast("int"))
    agg = pairs.groupBy("id_a", "id_b").agg(
        overlap.alias("mh_overlap"), F.max("is_star").alias("is_star")
    )
    if cfg.lsh_rows == 1 and exact_overlap:
        # bands was persisted inside bucket_pairs (same plan -> cache hit)
        hot_keys = hot.select("band_idx", "band_hash")
        hot_docs = (
            bands.join(hot_keys, ["band_idx", "band_hash"], "left_semi")
            .groupBy("doc_id")
            .agg(
                F.collect_set(
                    F.xxhash64("band_idx", "band_hash")
                ).alias("_hk")
            )
        )
        ha = hot_docs.select(
            F.col("doc_id").alias("id_a"), F.col("_hk").alias("_hk_a")
        )
        hb = hot_docs.select(
            F.col("doc_id").alias("id_b"), F.col("_hk").alias("_hk_b")
        )
        agg = (
            agg.join(ha, "id_a", "left")
            .join(hb, "id_b", "left")
            .withColumn(
                "mh_overlap",
                F.col("mh_overlap")
                + F.when(
                    F.col("_hk_a").isNotNull() & F.col("_hk_b").isNotNull(),
                    F.size(F.array_intersect("_hk_a", "_hk_b")),
                ).otherwise(F.lit(0)),
            )
            .drop("_hk_a", "_hk_b")
        )
    cands = agg.withColumn("channel", F.lit("minhash"))
    return cands, hot
