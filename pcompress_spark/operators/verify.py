"""Candidate-pair verification (J4) — never trust the sketch alone.

Reference: every index hit is re-verified against the full checksum and,
with verify_chunks, the actual bytes (rabin/rabin_dedup.c:1132-1180,
:1350-1354). Ours: exact Jaccard on shingle sets for every candidate pair.
The utf-8 TEXT of each side is joined onto the pair (text is ~8x smaller
than the doc's int64 shingle-hash array, so this is the cheaper shuffle),
then one Arrow-batched pandas UDF re-shingles both sides and intersects —
cost O(|candidates| * shingles_per_doc), independent of corpus size.
Winnow-channel pairs that fail the Jaccard threshold get an exact >=L
common-substring check (vectorized pandas UDF) before being admitted as
`substring` edges.

Shingle sets here are hashed 16-byte windows of the utf-8 text (the
vectorized numpy polynomial rolling hash in functions/hashing.py — the
same function the golden oracle uses, so the sets are identical by
construction); Jaccard over any injective window fingerprint equals
Jaccard over the windows themselves (modulo 2^-64 collisions).

Edge kinds (golden fixture vocabulary):
  exact      — identical text (emitted by operators/exact.py, J == 1)
  near       — exact Jaccard >= tau_extra (0.4, DELTA_EXTRA)
  substring  — J < 0.4 but sharing a >= 2048-char verbatim span
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pcompress_spark.cache import tracked_persist
from pcompress_spark.config import PipelineConfig
from pcompress_spark.functions.shingling import make_lcs_udf

# min shared-span length at which the window-hash screen is cheaper than
# the byte-confirm it saves (see confirm_substring_pairs)
SUBSTRING_SCREEN_MIN_LEN = 1024

# degree-cap rank of a simhash/winnow-only pair (see cap_candidate_degree)
NULL_OVERLAP_RANK = 3


def attach_texts(
    candidates: DataFrame, reps_with_text: DataFrame
) -> DataFrame:
    """candidates + texts of both sides (used only by the narrow substring
    branch; the Jaccard path never moves text)."""
    texts = reps_with_text.select("doc_id", "text")
    a = texts.select(F.col("doc_id").alias("id_a"), F.col("text").alias("text_a"))
    b = texts.select(F.col("doc_id").alias("id_b"), F.col("text").alias("text_b"))
    return candidates.join(a, "id_a").join(b, "id_b")


def prefilter_candidates(
    candidates: DataFrame, min_matches: int = 3
) -> tuple[DataFrame, DataFrame]:
    """Signature-level pre-filter before exact verification — the
    distributed analog of the reference probing the full checksum before
    memcmp (rabin_dedup.c:1132-1180). The production path folds this
    into fused.candidates at r == 1; this standalone form is its parity
    reference (tests/test_fused.py).

    b=20/r=1 banding (reference semantics) is noisy: an unrelated pair with
    background J≈0.02 still collides in ≥1 band with P≈0.33, so at corpus
    scale most candidates are junk. Keep a minhash-channel pair only when
    its `mh_overlap` (signature overlap: the corrected band co-occurrence
    count at r == 1) reaches min_matches of K=20. Recall cost at the τ=0.4
    boundary: P[Binomial(20, 0.4) < 3] ≈ 0.4%, and such pairs are usually
    also proposed by the simhash/winnow channels, which bypass this filter.

    Pairs proposed by any non-minhash channel (`channels` has more than
    'minhash') are exempt: their own verification (hamming ball /
    verbatim anchor match) is already strong. Star-downgraded pairs need
    NO exemption: the overlap stays exact under the star downgrade (star
    rows excluded from the count, shared over-cap buckets added back via
    hot-key intersect — operators/fused.py). A blanket is_star
    exemption was measured at 171k junk pairs (5x the verify set) on a
    100k-doc boilerplate corpus.

    Returns (kept, drop_log(doc_id, n_dropped)) — like the bucket cap and
    degree cap, drops are logged, never silent.
    """
    scored = tracked_persist(candidates)
    keep = (
        (F.coalesce(F.col("mh_overlap"), F.lit(0)) >= min_matches)
        | (F.col("channels") != F.array(F.lit("minhash")))
    )
    dropped = (
        scored.filter(~keep)
        .select(F.explode(F.array("id_a", "id_b")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dropped"))
    )
    return scored.filter(keep), dropped


def cap_candidate_degree(
    candidates: DataFrame, cap: int
) -> tuple[DataFrame, DataFrame]:
    """Keep a pair when EITHER endpoint ranks it among its own top-`cap`
    candidates (by minhash overlap desc — the exact overlap at r == 1,
    the proven floor (co-occurring bands x r) at r > 1 — then partner id) — the per-node
    analog of the bucket cap. A boilerplate clique of m docs drops from
    m²/2 verified pairs to <= 2·cap·m while every doc retains its
    min(cap, degree) strongest links, so uniform cliques stay one
    connected component for CC. Returns (kept, drop_log(doc_id,
    n_dropped)); drops are logged, never silent.

    Pairs with null mh_overlap were proposed ONLY by the simhash/winnow
    channels, whose own gates (hamming ball / verbatim anchor match) are
    stronger evidence than a weak band count — ranking them at 0 would let
    junk minhash candidates evict a true simhash-proposed near-dup in
    dense neighborhoods. They rank at NULL_OVERLAP_RANK (== the
    prefilter's min_matches floor): above every pair weak enough that the
    prefilter would have cut it, below well-supported minhash pairs.
    """
    from pyspark.sql import Window

    ov = F.coalesce(F.col("mh_overlap"), F.lit(NULL_OVERLAP_RANK))
    wa = Window.partitionBy("id_a").orderBy(ov.desc(), F.col("id_b").asc())
    wb = Window.partitionBy("id_b").orderBy(ov.desc(), F.col("id_a").asc())
    # persisted: both the kept set and the drop log read the ranked frame
    ranked = tracked_persist(
        candidates.withColumn("_ra", F.row_number().over(wa)).withColumn(
            "_rb", F.row_number().over(wb)
        )
    )
    kept = ranked.filter((F.col("_ra") <= cap) | (F.col("_rb") <= cap)).drop(
        "_ra", "_rb"
    )
    dropped = (
        ranked.filter((F.col("_ra") > cap) & (F.col("_rb") > cap))
        .select(F.explode(F.array("id_a", "id_b")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dropped"))
    )
    return kept, dropped


def pair_jaccard(
    candidates: DataFrame, reps_with_text: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """(id_a, id_b, jaccard) — exact shingle-set Jaccard per candidate pair.

    TEXT (not shingle arrays) is joined to both sides of each pair, then
    one Arrow-batched pandas UDF shingles both sides and intersects
    (`shingles_for` — the exact function the golden oracle uses, so the
    sets are identical by construction). A doc's utf-8 text is ~8x
    smaller than its int64 shingle-hash array; the earlier array-join
    formulation was shuffle-bound (memory-bandwidth contention capped the
    verify stage at 0.54 scaling efficiency from 2->8 cores), while
    re-shingling per pair is ~0.2 ms vectorized. Cost stays
    O(|candidates| * shingles_per_doc), independent of corpus size.
    Every candidate pair appears in the output, including zero-overlap
    pairs (jaccard = 0.0) — downstream thresholds do the filtering.
    """
    from pcompress_spark.functions.shingling import make_jaccard_lang_udf

    lang_col = (
        F.col("lang") if "lang" in reps_with_text.columns else F.lit("")
    )
    texts = reps_with_text.select(
        "doc_id", "text", lang_col.alias("_lang")
    )
    # shuffle_hash hints: a mis-estimated broadcast of a 100s-of-MB text
    # table stalls the driver; hash-partitioning by doc id is the
    # scale-correct strategy.
    a = texts.select(
        F.col("doc_id").alias("id_a"),
        F.col("text").alias("text_a"),
        F.col("_lang").alias("lang_a"),
    ).hint("shuffle_hash")
    b = texts.select(
        F.col("doc_id").alias("id_b"),
        F.col("text").alias("text_b"),
        F.col("_lang").alias("lang_b"),
    ).hint("shuffle_hash")
    jac_udf = make_jaccard_lang_udf(cfg)
    return (
        candidates.select("id_a", "id_b")
        .join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            jac_udf("text_a", "lang_a", "text_b", "lang_b").alias("jaccard"),
        )
    )


def verify_edges(
    candidates: DataFrame,
    reps_with_text: DataFrame,
    cfg: PipelineConfig,
    eager_jaccard: bool = False,
) -> DataFrame:
    """candidates(id_a, id_b, channels) -> edges(src, dst, jaccard, kind).

    near      — exact Jaccard >= tau_extra (pair_jaccard: texts joined onto
                each pair, one Arrow-batched pandas UDF re-shingles both
                sides and intersects)
    substring — winnow-proposed pairs below the bar sharing a verified
                >= substring_min_len verbatim span. At min_len >=
                SUBSTRING_SCREEN_MIN_LEN they are screened JVM-side first:
                per-doc window-hash arrays are computed ONCE (pandas UDF),
                pairs are screened with `array_intersect`, and the
                byte-confirming lcs UDF runs only on hash hits (true spans
                + 2^-64 collisions). Below it the lcs UDF confirms every
                pair directly.
    """
    # persist: jac feeds both the near branch and the substring pre-filter.
    # eager_jaccard forces it NOW so a multi-branch downstream action reads
    # a warm cache rather than computing the verify join once per branch.
    jac = tracked_persist(pair_jaccard(candidates, reps_with_text, cfg))
    if eager_jaccard:
        jac.count()
    near = jac.filter(F.col("jaccard") >= cfg.tau_extra).select(
        F.col("id_a").alias("src"),
        F.col("id_b").alias("dst"),
        "jaccard",
        F.lit("near").alias("kind"),
    )
    sub_cand = (
        candidates.filter(F.array_contains("channels", "winnow"))
        .join(jac, ["id_a", "id_b"], "left")
        .withColumn("jaccard", F.coalesce("jaccard", F.lit(0.0)))
        .filter(F.col("jaccard") < cfg.tau_extra)
        .select("id_a", "id_b", "jaccard")
    )
    sub = confirm_substring_pairs(sub_cand, reps_with_text, cfg).select(
        F.col("id_a").alias("src"),
        F.col("id_b").alias("dst"),
        "jaccard",
        F.lit("substring").alias("kind"),
    )
    return near.unionByName(sub)


def confirm_substring_pairs(
    sub_cand: DataFrame, reps_with_text: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """Byte-confirm a >= substring_min_len shared span on candidate pairs;
    keeps sub_cand's columns, drops unconfirmed pairs.

    Screen economics: the window-hash screen precomputes one long per char
    offset per doc (~8 bytes/char, ~8x the utf-8 text) and ships the
    arrays through two shuffle joins, to SAVE a byte-confirming pandas UDF
    per pair — the same probe-the-cheap-key-before-memcmp idea as the
    reference (rabin_dedup.c:1132-1180), and like there, the screen must
    stay cheaper than what it screens. At the production min_len (2048,
    long docs) it does; at short-doc configs it costs more than the
    confirm (measured: dedup_substring 22.6 -> 37.9 s at sf0.1 when the
    screen ran unconditionally — r2 verdict), so it screens only for
    min_len >= the ~1 KB break-even, SUBSTRING_SCREEN_MIN_LEN."""
    if cfg.substring_min_len >= SUBSTRING_SCREEN_MIN_LEN:
        sub_cand = substring_screen(sub_cand, reps_with_text, cfg)
    lcs_udf = make_lcs_udf(cfg)
    return (
        attach_texts(sub_cand, reps_with_text)
        .filter(lcs_udf("text_a", "text_b"))
        .drop("text_a", "text_b")
    )


def substring_screen(
    sub_cand: DataFrame, reps_with_text: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """Keep only pairs whose >= min_len window-hash sets intersect.

    Hashing cost is O(total chars of candidate docs), paid once per doc;
    the per-pair work is a codegen array_intersect of sorted long arrays.
    A surviving pair shares a window hash — i.e. shares a verbatim
    >= min_len span, or is one of the ~2^-64 hash collisions the caller's
    byte-confirmation then rejects.
    """
    from pcompress_spark.functions.shingling import make_window_hashes_udf

    docs_in = (
        sub_cand.select(F.col("id_a").alias("doc_id"))
        .unionByName(sub_cand.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    win_udf = make_window_hashes_udf(cfg)
    win = tracked_persist(
        reps_with_text.join(docs_in, "doc_id", "left_semi")
        .filter(F.length("text") >= cfg.substring_min_len)
        .select("doc_id", win_udf("text").alias("win"))
    )
    a = win.select(
        F.col("doc_id").alias("id_a"), F.col("win").alias("win_a")
    ).hint("shuffle_hash")
    b = win.select(
        F.col("doc_id").alias("id_b"), F.col("win").alias("win_b")
    ).hint("shuffle_hash")
    return (
        sub_cand.join(a, "id_a")
        .join(b, "id_b")
        .filter(F.size(F.array_intersect("win_a", "win_b")) > 0)
        .drop("win_a", "win_b")
    )
