"""MinHash-LSH band keys (J3).

Reference: per segment, the K=20 smallest distinct 64-bit block hashes are
each probed independently against the shared similarity index
(rabin/rabin_dedup.c:976-994 sketch, :1026-1036 probes) — structurally LSH
with b=20 bands of r=1 row. Spark-first shape: posexplode the minhash
signature into (band_idx, band_hash) rows. This module only defines the
keys; operators/fused.py buckets them with the other channels' keys and
pairs them (the shuffle IS the index probe).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pcompress_spark.config import PipelineConfig


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
