"""SimHash hamming-ball keys: pigeonhole blocks (J5).

Reference: similar (not identical) blocks match when their 64-bit
`similarity_hash` values collide in the same index slot with compatible
lengths (rabin/rabin_dedup.c:1368-1395). Document-level generalization:
64-bit SimHash, candidates within hamming radius d=3.

The theta-join "hamming(a,b) <= 3" is reduced to equi-joins by table
rotation (pigeonhole): split 64 bits into 4 x 16-bit blocks — any pair
within distance 3 agrees exactly on >= 1 block. This module only defines
the (block_idx, block_value) keys; operators/fused.py buckets and pairs
them, then confirms the exact hamming distance JVM-side
(`bit_count(a ^ b)`, whole-stage codegen, no UDF).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pcompress_spark.config import PipelineConfig


def simhash_blocks(reps: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """sigs -> (doc_id, blk_idx, blk_val) — one row per 16-bit block."""
    nblk = cfg.simhash_blocks
    bits = cfg.simhash_bits // nblk
    mask = (1 << bits) - 1
    blocks = [
        F.struct(
            F.lit(i).alias("blk_idx"),
            F.shiftrightunsigned(F.col("simhash"), i * bits)
            .bitwiseAND(F.lit(mask))
            .alias("blk_val"),
        )
        for i in range(nblk)
    ]
    return (
        reps.filter(F.col("nshingles") > 0)
        .select("doc_id", F.explode(F.array(*blocks)).alias("b"))
        .select("doc_id", F.col("b.blk_idx"), F.col("b.blk_val"))
    )
