"""Long-verbatim-substring keys: winnowing anchors (F11 channel).

Reference: bsdiff finds byte-level shared runs between sketch-matched
similar blocks (bsdiff/bsdiff.c, suffix-sort qsufsort :~90-200). Document
analog: detect pairs sharing a >= substring_min_len (2048 = 1<<RAB_BLK_MIN_BITS,
rabin/rabin_dedup.h:88) verbatim span even when whole-doc Jaccard is low.

Spark-first shape: winnowing anchors (content-defined fingerprint sampling,
Schleimer et al. 2003 — the same content-defined-boundary idea as the Rabin
cut rule, rabin_dedup.c:664-666) -> explode. This module only defines the
anchor keys; operators/fused.py buckets and pairs them, and
verify.confirm_substring_pairs byte-confirms the shared span.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pcompress_spark.config import PipelineConfig
from pcompress_spark.functions.shingling import make_anchors_udf


def anchor_explode(
    reps_with_text: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """(doc_id, anchor) rows; docs shorter than min span are pruned early —
    they cannot participate (predicate pushdown-friendly length filter).
    In-doc anchor dedup is array_distinct BEFORE the explode (anchors of
    one doc live in one array) — no extra shuffle."""
    anchors_udf = make_anchors_udf(cfg)
    return reps_with_text.filter(
        F.length("text") >= cfg.substring_min_len
    ).select(
        "doc_id",
        F.explode(F.array_distinct(anchors_udf("text"))).alias("anchor"),
    )
