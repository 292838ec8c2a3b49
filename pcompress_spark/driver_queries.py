"""Driver-contract queries: one entry per SURVEY.md §2 operator family.

Each function here takes (spark, sf_dir) and returns a DataFrame whose
columns/values are reproduced exactly by the paired DuckDB oracle SQL in
ORACLES (same aliases, same arithmetic, same rounding). The correctness
contract (driver CORRECTNESS_r{N}.json) compares row-count + schema +
order-insensitive value hash at sf=0.01.

Determinism rules used throughout:
- integer outputs wherever possible (counts, cents) — double SUMs are
  order-dependent across engines, integer sums are not;
- per-row double math is bit-deterministic (IEEE), so raw per-row doubles
  are safe; cross-row double aggregation is not, and is avoided;
- cosine similarities are rounded to 6 decimals *before* ranking/threshold
  so both engines rank identical values;
- all text shingling for oracle-checked queries is plain character
  substrings (`substring(text, i, w)`), identical in Spark and DuckDB
  (corpus is ASCII; byte==char).

Operator coverage map (SURVEY §2 ids in brackets):
  exact_identity        [J1 J2 A5 W5 F2]   identity hash + earliest-rep
  ngram_jaccard_pairs   [P1 J4 A6 SO3]     exact shingle Jaccard, all-JVM
  minhash_lsh_pairs     [A1 J3 J4 P4]      MinHash-LSH candidates + verify
  simhash_pairs         [A2 J5]            SimHash hamming-ball + verify
  substring_pairs       [F11 W1 W2]        winnowing anchors + exact span
  dedup_clusters        [§4.3 J7 W5]       connected components
  lang_id               [P5 F12]           char-class language heuristic
  quality_score         [F12 P3]           length/word/punct quality
  token_counts          [F13-ish]          ws + BPE-ish token accounting
  doc_fingerprint       [F2 F4]            sha-256 prefix fingerprint
  fixed_blocks          [P2 J1 F2]         fixed 64-char block dedup (-F)
  cdc_chunks            [P1 J1 F1: core]   content-defined chunking + chunk
                                           dedup (rabin rolling-cut analog)
  cdc_stats             [A4]               corpus dedup-ratio rollup over
                                           CDC chunks
  reconstruct_audit     [entry point C]    rep-text read-back + hash verify
  delta_spans           [F11/A3 backrefs]  shared-span delta descriptors
  lcs_spans             [F11 suffix-array] exact longest-shared-span backref
                                           (per-pair suffix array + LCP)
  delta_reconstruct     [bspatch analog]   APPLY descriptors: rebuild B from
                                           partner span + unique regions,
                                           byte-verify by sha (entry point C
                                           read-back, completed)
  embedding_ann_recall  [scale-path gate]  LSH bucket-retrieval recall
                                           certificate over exact strong pairs
  embedding_topk        [new: ANN baseline] brute-force cosine top-k
  embedding_near_dup    [new]              cosine-threshold near-dup pairs
  embedding_ann_lsh     [new: scale path]  hyperplane-LSH ANN (rows-only)
  embedding_ann_ivf     [new: scale path]  IVF-flat ANN, kmeans coarse
                                           quantizer (rows-only; recall
                                           measured in tests)
  multimodal_decode     [F10/S4 analog]    binary payload decode plumbing
  scan_filter_project   [S1 P3]            pushdown scan
  join_agg_revenue      [J2 A4 A5]         broadcast dim join + agg
  window_rank_orders    [W5 W6]            ranking window + top-k
  set_ops_parts         [SO1 SO2]          union/anti over key sets
  events_hourly         [S3 analog]        event-time tumbling-window agg
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from pcompress_spark.analysis import embeddings as E
from pcompress_spark.analysis import multimodal as M
from pcompress_spark.config import DEFAULT_CONFIG
from pcompress_spark.functions import text as TX
from pcompress_spark.functions.shingling import make_sig_udf_lang
from pcompress_spark.operators import fused
from pcompress_spark.operators.components import cluster_labels

W16 = 16          # char shingle width (== reference rolling window, SURVEY §7)
TAU = 0.4         # DELTA_EXTRA verify threshold
SUB_MIN = 96      # min shared-span chars for the documents table (docs are
                  # 47-558 chars; the 2048 production default would be vacuous)
COS_TAU = 0.35    # embedding near-dup threshold (testdata max cos ~0.5)
TOPK = 5

# substring-channel config scaled to the documents table: winnowing guarantee
# window+stride-1 = 79 <= SUB_MIN, so every >=96-char shared span is caught
DOC_CFG = replace(
    DEFAULT_CONFIG,
    substring_min_len=SUB_MIN,
    substring_window=16,
    substring_stride=64,
    # short docs move more simhash bits per edit than 8MB segments do —
    # widen the hamming ball (radius 6, 8 pigeonhole blocks) so the sketch
    # keeps recall 1 on this table; the production default stays radius 3.
    simhash_radius=6,
    simhash_blocks=8,
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------- shingles
def _shingle_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, g) — distinct 16-char substring shingles, all JVM-side.

    `array_distinct(transform(sequence(...), i -> substring(text,i,16)))`
    stays inside whole-stage codegen; the explode feeds the shuffle with
    (long, 16-char string) rows only — the full text never shuffles.
    """
    return (
        docs.filter(F.length("text") >= W16)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        f"transform(sequence(1, length(text) - {W16 - 1}),"
                        f" i -> substring(text, i, {W16}))"
                    )
                )
            ).alias("g"),
        )
    )


def _sizes(sh: DataFrame) -> DataFrame:
    return sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))


def _pair_jaccard(sh: DataFrame) -> DataFrame:
    """Exact (inter_cnt, union_cnt, jaccard) for every co-occurring pair:
    complete enumeration via the inverted shingle index (self-join on g;
    oracle-grade, O(sum bucket^2) — only for ground-truth computation).
    Candidate-restricted verification is _pair_jaccard_arrays."""
    sizes = _sizes(sh)
    a, b = sh.alias("a"), sh.alias("b")
    joined = a.join(
        b,
        (F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    inter = joined.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("inter_cnt")
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("union_cnt", F.col("sz_a") + F.col("sz_b") - F.col("inter_cnt"))
        .withColumn(
            "jaccard",
            F.floor(
                F.col("inter_cnt").cast("double")
                / F.col("union_cnt").cast("double")
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
            / F.lit(1000000.0),
        )
        .select("id_a", "id_b", "inter_cnt", "union_cnt", "jaccard")
    )


def _pair_jaccard_arrays(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Candidate-restricted exact Jaccard via per-doc shingle-hash arrays +
    codegen array_intersect — the verify-operator shape (operators/verify).

    Counts over hashed byte windows equal counts over the windows
    themselves (injectivity; corpus is ASCII so byte==char), so the output
    matches the substring-based DuckDB oracle exactly.
    """
    from pcompress_spark.functions.shingling import make_shingle_hashes_udf

    sh_udf = make_shingle_hashes_udf(DOC_CFG)
    from pcompress_spark.cache import tracked_persist

    arr = tracked_persist(
        docs.filter(F.length("text") >= W16)
        .select("doc_id", sh_udf("text").alias("sh"))
    )
    a = arr.select(
        F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a")
    ).hint("shuffle_hash")
    b = arr.select(
        F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b")
    ).hint("shuffle_hash")
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "inter_cnt", F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
        )
        .withColumn(
            "union_cnt",
            (F.size("sh_a") + F.size("sh_b")).cast("long") - F.col("inter_cnt"),
        )
        .withColumn(
            "jaccard",
            F.floor(
                F.col("inter_cnt").cast("double")
                / F.col("union_cnt").cast("double")
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
            / F.lit(1000000.0),
        )
        .filter(F.col("jaccard") >= TAU)
        .select("id_a", "id_b", "inter_cnt", "union_cnt", "jaccard")
    )


_SQL_SHINGLES = f"""
  d AS (SELECT doc_id, text FROM documents WHERE length(text) >= {W16}),
  sh AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), {W16}) AS g
         FROM d, unnest(range(1, length(text) - {W16 - 1} + 1)) t(i)),
  sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
  inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter_cnt
            FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
  pairjac AS (SELECT id_a, id_b, inter_cnt,
                     sa.sz + sb.sz - inter_cnt AS union_cnt,
                     floor(inter_cnt * 1.0 / (sa.sz + sb.sz - inter_cnt) * 1000000 + 0.5) / 1000000 AS jaccard
              FROM inter
              JOIN sizes sa ON sa.doc_id = id_a
              JOIN sizes sb ON sb.doc_id = id_b)
"""


# ---------------------------------------------------------------- queries
def q_exact_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identity dedup [J1/J2]: sha-256 text hash, earliest-doc representative."""
    d = _docs(spark, sf_dir).select(
        "doc_id", F.sha2("text", 256).alias("text_sha")
    )
    g = d.groupBy("text_sha").agg(
        F.min("doc_id").alias("rep_id"), F.count(F.lit(1)).alias("group_size")
    )
    return d.join(g, "text_sha").select("doc_id", "text_sha", "rep_id", "group_size")


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs shingle Jaccard >= tau — the complete (oracle-grade)
    enumeration via inverted shingle index; the correctness anchor every
    sketch channel is graded against."""
    sh = _shingle_rows(_docs(spark, sf_dir))
    return _pair_jaccard(sh).filter(F.col("jaccard") >= TAU)


def _channel_pairs(docs: DataFrame, ch: int) -> DataFrame:
    """Distinct (id_a, id_b) that the production generator, fused.candidates,
    proposes from channel `ch`'s bucket keys alone.

    The channel is selected by filtering the fused keyed rows (input data,
    the generator itself is unchanged). min_matches=0 keeps every proposed
    pair, so the sketch's recall is what the oracle certifies."""
    sig_udf = make_sig_udf_lang(DOC_CFG)
    reps = docs.select("doc_id", "text").withColumn(
        "_s", sig_udf("text", F.lit(""))
    ).select(
        "doc_id",
        "text",
        F.col("_s.nshingles").alias("nshingles"),
        F.col("_s.minhash").alias("minhash"),
        F.col("_s.simhash").alias("simhash"),
    )
    rows = fused.fused_keyed_rows(reps, DOC_CFG).filter(F.col("ch") == ch)
    cands, _hot, _dropped = fused.candidates(
        rows, reps.select("doc_id", "simhash"), DOC_CFG, min_matches=0
    )
    return cands.select("id_a", "id_b").distinct()


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates (b=20, r=1) + exact-Jaccard verification.

    Output equals q_ngram_jaccard_pairs when LSH recall is 1 — the oracle
    *is* the exact pair set, so the driver check certifies recall directly
    (P[miss] = (1-J)^20 <= 6e-5 at J=0.4).
    """
    docs = _docs(spark, sf_dir)
    pairs = _channel_pairs(docs, fused.CH_MINHASH)
    return _pair_jaccard_arrays(docs, pairs)


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash hamming-ball candidates + exact-Jaccard verification [A2/J5]."""
    docs = _docs(spark, sf_dir)
    pairs = _channel_pairs(docs, fused.CH_SIMHASH)
    return _pair_jaccard_arrays(docs, pairs)


def q_substring_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs sharing a >=96-char verbatim span: winnowing anchors (guarantee
    79 chars) -> bucket join -> byte-confirm [F11/W1]. At this table's
    96-char spans confirm_substring_pairs skips the window-hash screen
    (its arrays would cost more than the confirm they save) and confirms
    directly on text; the production 2048-char config keeps the screen."""
    from pcompress_spark.operators.verify import confirm_substring_pairs

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    pairs = _channel_pairs(docs, fused.CH_WINNOW)
    return confirm_substring_pairs(pairs, docs, DOC_CFG).select("id_a", "id_b")


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over verified near-dup edges; every doc labeled
    with its component min doc_id (earliest-occurrence rep semantics, J7)."""
    docs = _docs(spark, sf_dir)
    edges = q_minhash_lsh_pairs(spark, sf_dir).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    labels = cluster_labels(edges)
    return (
        docs.select("doc_id")
        .join(labels, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", "doc_id"))
        .select("doc_id", "cluster_id")
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic char-class language heuristic [P5/F12]. (The testdata
    lang column is synthetic noise — the contract here is oracle parity of
    the heuristic, not label recovery.)"""
    return _docs(spark, sf_dir).select(
        "doc_id", TX.lang_guess(F.col("text")).alias("lang_pred")
    )


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring [F12]: length band + word-length sanity + punctuation."""
    d = _docs(spark, sf_dir)
    t = F.col("text")
    return d.select(
        "doc_id",
        F.length(t).cast("long").alias("n_chars_calc"),
        TX.token_count(t).cast("long").alias("n_tokens"),
        TX.punct_ratio(t).alias("punct_ratio"),
        TX.quality_score(t).alias("quality"),
    )


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token accounting: whitespace tokens + BPE-ish subword proxy."""
    d = _docs(spark, sf_dir)
    t = F.col("text")
    return d.select(
        "doc_id",
        TX.token_count(t).cast("long").alias("ws_tokens"),
        F.regexp_count(t, F.lit(r"[a-z]+|[0-9]|[^a-z0-9\s]"))
        .cast("long")
        .alias("bpe_tokens"),
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit content fingerprint (sha-256 prefix) + shingle cardinality."""
    d = _docs(spark, sf_dir)
    sizes = _sizes(_shingle_rows(d))
    return (
        d.select("doc_id", F.substring(F.sha2("text", 256), 1, 16).alias("fp"))
        .join(sizes, "doc_id", "left")
        .withColumn("shingle_cnt", F.coalesce("sz", F.lit(0)))
        .select("doc_id", "fp", "shingle_cnt")
    )


FIXED_BLK = 64    # fixed-block width (chars) for the documents table


def q_fixed_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size block projection + block-level identity dedup [P2 J1 F2]:
    split each doc into fixed 64-char blocks (the reference's `-F`
    fixed-block mode, rabin/rabin_dedup.c:513-538), hash every block, and
    aggregate per distinct block — occurrence count, distinct docs, and
    the earliest holder (backward-ref representative)."""
    d = _docs(spark, sf_dir).filter(F.length("text") > 0)
    blocks = d.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, cast(ceil(length(text) / {FIXED_BLK}.0)"
                f" as int) - 1), i -> sha2(substring(text, i * {FIXED_BLK} + 1,"
                f" {FIXED_BLK}), 256))"
            )
        ).alias("block_sha"),
    )
    return blocks.groupBy("block_sha").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.min("doc_id").alias("rep_doc"),
    )


def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking + chunk-level dedup [the reference's core
    primitive — rabin/rabin_dedup.c:620-666 rolling-window cut predicate,
    rabin/global/index.c chunk-checksum dedup index]: cut each doc where
    the 16-char window fingerprint is sparse-low (mean chunk 64 chars),
    then aggregate per distinct chunk. Boundaries move WITH content, so
    shared spans dedup at any offset — unlike `fixed_blocks`, whose grid
    alignment this query exists to beat (test_cdc.py pins that CDC finds
    cross-doc shared chunks that fixed blocks miss under a 1-char shift).
    Bounded (min/max) byte-domain variant: operators/cdc.cdc_chunks_rolling,
    property-tested vs a naive chunker."""
    from pcompress_spark.operators import cdc

    return cdc.chunk_dedup(cdc.chunk_explode(_docs(spark, sf_dir)))


def q_cdc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus dedup-ratio rollup over CDC chunks — the reference's
    headline statistic (dedupe stats: chunks total/unique, bytes saved)."""
    from pcompress_spark.operators import cdc

    return cdc.dedup_stats(cdc.chunk_explode(_docs(spark, sf_dir)))


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k ANN baseline over the embeddings table."""
    emb = _emb(spark, sf_dir)
    return E.brute_force_topk(emb, emb, k=TOPK)


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: cosine >= threshold (exact)."""
    return E.cosine_pairs_above(_emb(spark, sf_dir), COS_TAU)


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup [Abbas et al. 2023] in its exact certifiable form:
    embedding cosine graph (>= COS_TAU) -> connected components -> keep
    only each component's min-id representative. The published
    within-kmeans-cluster approximation is the IVF cell layout with the
    same pair join — this exact form is the one a SQL oracle can check."""
    return E.semantic_dedup(_emb(spark, sf_dir), COS_TAU)


def q_embedding_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed ANN (the 100-TB scale path). Approximate by
    design — no SQL oracle; recall vs brute force is asserted in tests."""
    return E.lsh_ann_topk(_emb(spark, sf_dir), k=TOPK, bits=4, tables=16)


def q_embedding_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN (second scale path, data-adaptive): spherical-kmeans
    coarse quantizer trained on a bounded deterministic sample, vectors
    stored in their home cell, queries probe their 6 nearest of 16 cells,
    exact cosine rerank. Approximate by design — no SQL oracle (k-means
    assignment is not SQL-expressible and IVF has no analytic recall
    bound, unlike the hyperplane certificate); recall vs brute force and
    pair-recall vs the exact strong set are asserted in tests
    (tests/test_embeddings.py)."""
    return E.ivf_ann_topk(_emb(spark, sf_dir), k=TOPK, nlist=16, nprobe=6)


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode [F10/S4/P6]: synthesize payloads with REAL
    container headers (PNG IHDR / WAV fmt+data / AVI avih — planted fields
    are arithmetic in the content length), then decode via magic-byte kind
    sniffing + binary header parsing in mapInPandas. The oracle predicts
    the planted values, so a green row certifies the parser read the
    actual bytes back correctly."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    payload_udf = M.make_payload_udf()
    p = d.select("doc_id", payload_udf("text").alias("payload"))
    return M.decode_features(p, "doc_id", "payload")


def q_media_decode_pcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media SAMPLE decode [F10 de-stub]: for every synthesized WAV
    payload (docs whose utf-8 length ≡ 1 mod 3 — the payload_udf cycle),
    decode the actual 16-bit PCM samples in mapInPandas (struct+numpy,
    no media lib) and aggregate them per file. The oracle recomputes the
    same samples from the document's utf-8 bytes via hex arithmetic, so
    a green row certifies the decoder read the real little-endian
    int16s — sample DATA, not just header metadata. Truncation rule:
    min(declared data size, bytes present) whole frames. Reference
    analog: per-type payload transforms (pc_arc_filter.c)."""
    d = _docs(spark, sf_dir).select("doc_id", "text").filter(
        F.octet_length("text") % 3 == 1
    )
    payload_udf = M.make_payload_udf()
    p = d.select("doc_id", payload_udf("text").alias("payload"))
    return M.decode_pcm_features(p, "doc_id", "payload")


def q_reconstruct_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read-back audit [pcompress -d analog]: rebuild every identity-dup
    member's text from its representative (the only stored copy) and
    re-verify the rebuilt bytes by content hash (pcompress.c:838,
    rabin_dedup.c:1552-1723 backward-ref resolution + checksum verify)."""
    from pcompress_spark.operators.reconstruct import reconstruct_audit

    return reconstruct_audit(_docs(spark, sf_dir))


def q_delta_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-span delta descriptors [F11 completion]: per verified
    substring pair, (start offset in each doc, shared-window count,
    estimated span length) — the (index, offset, length) backref triple a
    delta encoder consumes (rabin_dedup.c:1190-1245)."""
    from pcompress_spark.operators.reconstruct import delta_spans

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    pairs = q_substring_pairs(spark, sf_dir)
    return delta_spans(docs, pairs, SUB_MIN)


def q_lcs_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix-array pass [F11]: exact longest-common-substring backref per
    verified substring pair — per-pair suffix array + vectorized LCP
    (bsdiff qsufsort analog, bsdiff/bsdiff.c:~90-200), canonical offsets.
    The oracle replays it in SQL as diagonal runs of L-window matches
    (max run + L - 1 = exact LCS length when LCS >= L, which the verified
    pair set guarantees)."""
    from pcompress_spark.operators.reconstruct import lcs_spans

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    pairs = q_substring_pairs(spark, sf_dir)
    return lcs_spans(docs, pairs)


def q_delta_reconstruct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta READ-BACK [bspatch analog — entry point C completed]: apply
    every delta_spans descriptor — rebuild the pair's B side as B-prefix ⊕
    partner span ⊕ B-suffix — and byte-verify by sha256. sha_ok certifies
    descriptor arithmetic AND the application path (bspatch.c:268,
    rabin_dedup.c:1685-1703)."""
    from pcompress_spark.operators.reconstruct import apply_delta_spans

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    spans = q_delta_spans(spark, sf_dir)
    return apply_delta_spans(docs, spans)


def q_lcs_reconstruct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix-array read-back [F11 + entry point C]: apply the EXACT
    maximal backref — rebuild B as B-prefix ⊕ A's lcs span ⊕ B-suffix and
    byte-verify by sha256. Unlike delta_reconstruct's window estimate
    (exact only for contiguous runs), the lcs span is verbatim-shared by
    construction, so sha_ok must be TRUE on every row — any false row is
    a bug in the suffix-array pass or the apply arithmetic."""
    from pcompress_spark.operators.reconstruct import apply_delta_spans

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    spans = q_lcs_spans(spark, sf_dir)
    return apply_delta_spans(docs, spans, span_col="lcs_len")


ANN_RECALL_TAU = 0.4   # strong-pair threshold the LSH retrieval must cover
ANN_CERT_BITS = 3      # b=3/T=24: per-pair miss P ~= 2e-5 at cos 0.4
ANN_CERT_TABLES = 24
IVF_CERT_NLIST = 16    # 12-of-16 cells probed: measured full strong-pair
IVF_CERT_NPROBE = 12   # recall at nprobe=10 on sf0.001+sf0.01; probes are a
#                        deterministic prefix of the centroid order, so
#                        recall is monotone in nprobe -> 12 adds margin


def q_embedding_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall certificate [scale-path gate]: one row per exact strong
    pair (cosine >= 0.4, triangle-grid exact join = the SQL-expressible
    ground truth) with `retrieved` = did hyperplane-LSH bucket
    co-occurrence (the SAME bucket join lsh_ann_topk uses) propose it.
    The oracle asserts retrieved for every strong pair — a recall lower
    bound the driver can check, closing the r2 `no_oracle` gap."""
    return E.ann_recall_certify(
        _emb(spark, sf_dir),
        ANN_RECALL_TAU,
        bits=ANN_CERT_BITS,
        tables=ANN_CERT_TABLES,
    )


def q_embedding_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF recall certificate [scale-path gate]: one row per exact strong
    pair (cosine >= 0.4, triangle-grid exact join) with `retrieved` = did
    IVF cell probing (the SAME ivf_cell_pairs machinery ivf_ann_topk uses)
    propose it. The oracle asserts retrieved for every strong pair. IVF
    has no analytic miss bound (a pair can straddle a Voronoi boundary),
    so unlike the LSH certificate this row MEASURES the recall floor on
    the fixture — nprobe=12/16 is the dial position where it holds with
    margin (full recall measured at 10/16). Closes the r3 `no_oracle`
    gap for the IVF path (VERDICT r3 task #3)."""
    return E.ivf_recall_certify(
        _emb(spark, sf_dir),
        ANN_RECALL_TAU,
        nlist=IVF_CERT_NLIST,
        nprobe=IVF_CERT_NPROBE,
    )


def q_scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pushdown scan [S1/P3]: filter + narrow projection reach the parquet
    reader (PushedFilters/ReadSchema verified in tests)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .filter((F.col("l_quantity") >= 45) & (F.col("l_returnflag") == "R"))
        .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
    )


def q_join_agg_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-dim join + partial/final agg [J2/A4/A5]: revenue by nation.

    Money is aggregated in integer cents (per-row round, then exact integer
    sum) — double SUM order-dependence never reaches the output.
    """
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("long")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(cents).alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_window_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window [W5]: top-3 orders per customer by total price."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


def q_set_ops_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set ops [SO1/SO2]: (big parts UNION cheap parts) EXCEPT one brand."""
    part = _t(spark, sf_dir, "part")
    s1 = part.filter(F.col("p_size") >= 40).select("p_partkey")
    s2 = part.filter(F.col("p_retailprice") < 950).select("p_partkey")
    s3 = part.filter(F.col("p_brand") == "Brand#11").select("p_partkey")
    return s1.union(s2).distinct().subtract(s3)


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling window agg (batch form of the streaming shape)."""
    ev = _t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum(cents).alias("value_cents"))
    )


# ------------------------------------------------- webtext curation tier
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition statistics [F12 analog, training-data op]:
    per-doc word/bigram totals, distinct counts, and most-frequent-token
    mass (explode -> groupBy; analysis/webtext.py)."""
    from pcompress_spark.analysis import webtext as WT

    return WT.repetition_stats(_docs(spark, sf_dir))


def q_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite keep/drop curation gate with first-failing-rule reason.
    All verdicts are integer cross-multiplications (no float drift)."""
    from pcompress_spark.analysis import webtext as WT

    return WT.quality_gate(_docs(spark, sf_dir))


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style PII scrub (emails/phones/IPs -> typed placeholders).

    The synthetic corpus contains no natural PII, so each doc is augmented
    with a DETERMINISTIC planted contact block derived from doc_id (both
    engines compute the identical augmented text); the oracle then
    certifies that the match counts and the full redacted output
    (sha-256) agree byte-for-byte across Spark's Java regex and DuckDB's
    RE2 — i.e. the scrubber semantics, not the planting, are under test."""
    from pcompress_spark.analysis import webtext as WT

    d = _docs(spark, sf_dir)
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or call +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" from 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".0.7"),
    )
    d = d.select("doc_id", aug.alias("aug"))
    red = WT.pii_redact(F.col("aug"))
    return d.select(
        "doc_id",
        *WT.pii_counts(F.col("aug")),
        F.length("aug").cast("long").alias("orig_len"),
        F.length(red).cast("long").alias("redacted_len"),
        F.sha2(red, 256).alias("redacted_sha"),
    )


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tier-0 URL dedup: canonicalize raw URLs (case/scheme/www/tracking
    params/trailing slash), group by canonical form, earliest-doc rep.

    The documents table has no url column, so raw URLs are synthesized
    DETERMINISTICALLY: every 4 consecutive doc_ids emit 4 surface variants
    of one canonical URL (case+www / trailing slash / tracking query) —
    the normalizer must collapse exactly those groups, which the oracle
    reproduces independently."""
    from pcompress_spark.analysis import webtext as WT

    d = _docs(spark, sf_dir)
    base = F.expr("CAST((doc_id - doc_id % 4) / 4 AS BIGINT)").cast("string")
    v = F.col("doc_id") % 4
    raw = (
        F.when(v == 0, F.concat(F.lit("https://example.com/page/"), base))
        .when(v == 1, F.concat(F.lit("HTTPS://WWW.Example.COM/page/"), base))
        .when(v == 2, F.concat(F.lit("http://example.com/page/"), base, F.lit("/")))
        .otherwise(
            F.concat(
                F.lit("https://example.com/page/"),
                base,
                F.lit("?utm_source=feed&utm_medium=rss"),
            )
        )
    )
    pages = d.select("doc_id", raw.alias("raw_url"))
    out = WT.url_dedup(pages.select("doc_id", F.col("raw_url").alias("url")))
    return (
        pages.join(out, "doc_id")
        .select("doc_id", "raw_url", "canon_url", "url_rep", "n_variants")
    )


def q_dedup_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tiered dedup verdict per document — the tier-dedup rollup:
    'exact' (identity sha dup of an earlier doc), else 'near' (member of a
    verified near-dup cluster with an earlier rep), else 'unique'; rep_id
    is the doc this one dedups to (itself when unique). Composes the
    identity channel [J1/J2] with the LSH+CC channel [J3/J4/§4.3]."""
    docs = _docs(spark, sf_dir)
    sha = docs.select("doc_id", F.sha2("text", 256).alias("text_sha"))
    reps = sha.groupBy("text_sha").agg(F.min("doc_id").alias("exact_rep"))
    ex = sha.join(reps, "text_sha").select("doc_id", "exact_rep")
    clusters = q_dedup_clusters(spark, sf_dir)  # doc_id, cluster_id (min)
    j = ex.join(clusters, "doc_id")
    is_exact = F.col("exact_rep") < F.col("doc_id")
    is_near = F.col("cluster_id") < F.col("doc_id")
    return j.select(
        "doc_id",
        F.when(is_exact, F.lit("exact"))
        .when(is_near, F.lit("near"))
        .otherwise(F.lit("unique"))
        .alias("tier"),
        F.when(is_exact, F.col("exact_rep"))
        .when(is_near, F.col("cluster_id"))
        .otherwise(F.col("doc_id"))
        .alias("rep_id"),
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination [training-data op, global-index-probe
    analog rabin/global/index.c:485-558]: corpus docs sharing any token
    8-gram with a held-out benchmark set are flagged. The benchmark is a
    deterministic slice of the documents table (doc_id % 20 == 7 — the
    planted near-dup pairs straddle the split, so the fixture has real
    contamination); the corpus is every other doc. Broadcast n-gram
    index + explode/semi-join/count — no corpus-sized shuffle."""
    from pcompress_spark.analysis import decontam as DC

    d = _docs(spark, sf_dir)
    bench = d.filter(F.col("doc_id") % 20 == 7)
    corpus = d.filter(F.col("doc_id") % 20 != 7)
    return DC.contamination(corpus, bench, n=DC.DEFAULT_N)


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document line dedup [C4/RefinedWeb line rule; the reference's
    global identity probe one granularity below the doc,
    rabin/global/index.c:485-558 + earliest-wins backrefs
    rabin_dedup.c:1606-1615]: per doc, how many lines survive when every
    line keeps only its corpus-wide first occurrence, plus the surviving
    text. The synthetic corpus has no newlines, so lines are 12-token
    blocks (analysis/linedup.doc_lines mode='token_block')."""
    from pcompress_spark.analysis import linedup as LD

    return LD.line_dedup_docs(
        _docs(spark, sf_dir), mode="token_block", block_tokens=12
    )


def q_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture reweighting [training-data op]: per-source token
    mass and the up/down-sampling weight to a uniform token mix."""
    from pcompress_spark.analysis import linedup as LD

    return LD.mix_weights(_docs(spark, sf_dir), group_col="source")


def q_cluster_rep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative selection policy over near-dup clusters [J7 variant:
    the reference hard-codes earliest-block-wins
    (rabin_dedup.c:1606-1615); a curation pipeline also wants
    keep-the-longest for re-crawled pages]: rep = max length(text), ties
    to min doc_id, per verified cluster."""
    from pcompress_spark.analysis import linedup as LD

    d = _docs(spark, sf_dir)
    labels = q_dedup_clusters(spark, sf_dir)
    return LD.cluster_rep_policy(d, labels, policy="longest")


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture sampling [the APPLY side of mix_weights]:
    per-doc copy count floor(w) + 1{u < frac(w)} with u an exact
    Knuth-multiplicative-hash double of doc_id — stochastic rounding
    whose expectation per doc is exactly the group weight."""
    from pcompress_spark.analysis import linedup as LD

    return LD.mixture_sample(_docs(spark, sf_dir), group_col="source")


def q_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota [bounded-index discipline at the domain tier,
    rabin/global/index.c:539-547]: keep at most 5 docs per host, longest
    first. Hosts are synthesized deterministically with a planted hot
    host (every even doc_id -> one host, half the corpus) so the oracle
    exercises the two-stage top-k's skew path."""
    from pcompress_spark.analysis import webtext as WT

    d = _docs(spark, sf_dir)
    host = F.when(
        F.col("doc_id") % 2 == 0, F.lit("hot.example.com")
    ).otherwise(
        F.concat(
            F.lit("h"),
            (F.col("doc_id") % 37).cast("string"),
            F.lit(".example.org"),
        )
    )
    pages = d.select(
        "doc_id",
        "text",
        F.concat(
            F.lit("https://"), host, F.lit("/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    return WT.domain_quota(pages, k=5)


def q_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary head + coverage audit [analyzer.c:32-97 lifted to
    tokens]: top-20 tokens with rank, share, and cumulative coverage."""
    from pcompress_spark.analysis import vocab as V

    return V.vocab_stats(_docs(spark, sf_dir), top_n=20)


def q_rare_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-token quality signal [model-free perplexity stand-in]: the
    fraction of each doc's token occurrences whose corpus count is <= 2.
    The synthetic vocabulary is ~31 common tokens (nothing would be
    rare), so a unique junk token is planted on every doc_id % 7 == 0
    doc — those docs score rare_frac > 0, the rest 0."""
    from pcompress_spark.analysis import vocab as V

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"), F.lit(" junk"), F.col("doc_id").cast("string")
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    return V.rare_token_stats(d, rare_max=2)


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic text normalization [the clean-text curation stage;
    preproc filter analog, pcompress.c:207-402]: newline canonicalization,
    control-char strip, fixed-table mojibake repair, whitespace collapse.
    The synthetic corpus is clean, so corruption is planted on every
    doc_id % 5 == 0 doc (mojibake prefix + a BEL control char) — those
    rows come back changed, the rest pass through untouched."""
    from pcompress_spark.analysis import webtext as WT

    d = _docs(spark, sf_dir)
    corrupted = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(F.lit("Ã©vÃ©nement â€” "), F.col("text"), F.lit("\x07")),
    ).otherwise(F.col("text"))
    return d.select(
        "doc_id",
        WT.normalize_text(corrupted).alias("text_norm"),
        (WT.normalize_text(corrupted) != corrupted).alias("changed"),
    )


def q_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-internal n-gram novelty [information-gain pruning signal;
    the corpus-as-its-own-index dual of decontaminate]: per doc, the
    fraction of its distinct token 8-grams first seen in this doc."""
    from pcompress_spark.analysis import decontam as DC

    return DC.novelty(_docs(spark, sf_dir), n=DC.DEFAULT_N)


def q_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/val/test split [every training-data pipeline's
    last step; splits BY CLUSTER so near-duplicates never straddle a
    boundary — the reason the dedup graph must exist before splitting]:
    the whole verified near-dup cluster lands in one split, assigned by
    the exact Knuth-hash uniform of cluster_id (90/5/5)."""
    from pcompress_spark.analysis import linedup as LD

    labels = q_dedup_clusters(spark, sf_dir)
    u = LD.sample_u(F.col("cluster_id"))
    split = (
        F.when(u < 0.9, F.lit("train"))
        .when(u < 0.95, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return labels.select("doc_id", "cluster_id", split.alias("split"))


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows per user [event-time session operator —
    the §2.8 streaming upgrade's stateful window, batch form]: Spark's
    native session_window with a 30-minute gap; session_end = last event
    + gap (Spark semantics, mirrored in the oracle's gaps-and-islands)."""
    from pcompress_spark.streaming.ingest import sessionize

    return sessionize(_t(spark, sf_dir, "events"))


def q_media_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BYTE-domain fixed-block dedup [P2/J1 in the reference's native
    domain — pcompress chunks raw bytes, not characters]: the doc's UTF-8
    byte stream is cut at 64-BYTE offsets (hex-domain slicing, 128 hex
    chars per block, identical in both engines) and identical blocks
    dedup corpus-wide. On CJK docs the byte grid lands mid-codepoint, so
    this is measurably different from the char-domain `fixed_blocks` —
    the char/byte distinction is exactly the reference's territory."""
    return byte_blocks(_docs(spark, sf_dir))


def byte_blocks(docs: DataFrame, block_bytes: int = 64) -> DataFrame:
    """Fixed BYTE-grid block dedup over docs(doc_id, text): the UTF-8
    byte stream sliced at `block_bytes` offsets via hex-domain substring
    (2 hex chars per byte — exact byte offsets in both engines), sha256
    per block, corpus-wide identity rollup."""
    w = 2 * int(block_bytes)
    d = docs.filter(F.length("text") > 0)
    hexed = d.select(
        "doc_id", F.hex(F.col("text").cast("binary")).alias("hx")
    )
    nblk = F.ceil(F.length("hx") / F.lit(float(w))).cast("int")
    blocks = hexed.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), nblk - 1),
                lambda i: F.sha2(F.substring("hx", i * w + 1, w), 256),
            )
        ).alias("block_sha"),
    )
    return blocks.groupBy("block_sha").agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.min("doc_id").alias("rep_doc"),
    )


def q_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus dedup report [the reference's compression-ratio stats, A4
    pcompress.c:175-195, re-targeted at documents]: one row per dedup
    tier with the docs it affects, the UTF-8 bytes it would save, and the
    saved fraction of total corpus bytes (1e-6-floor-rounded).

      tier='exact'  docs whose sha equals an earlier doc (whole doc saved)
      tier='near'   non-exact members of a verified near-dup cluster with
                    an earlier rep (whole doc saved on drop-policy)
      tier='line'   bytes of corpus-duplicate 12-token blocks removed by
                    cross-doc line dedup (sub-document savings)

    Tiers are reported independently (line overlaps near by design —
    summing them would double-count, so no total row is emitted)."""
    from pcompress_spark.analysis import linedup as LD

    docs = _docs(spark, sf_dir)
    nbytes = F.octet_length("text")
    total = docs.agg(F.sum(nbytes).cast("long").alias("_t"))

    sha = docs.select("doc_id", nbytes.alias("_b"), F.sha2("text", 256).alias("s"))
    reps = sha.groupBy("s").agg(F.min("doc_id").alias("_rep"))
    ex = sha.join(reps, "s").withColumn("_is_exact", F.col("_rep") < F.col("doc_id"))

    clusters = q_dedup_clusters(spark, sf_dir)
    j = ex.join(clusters, "doc_id")
    exact_row = j.filter("_is_exact").agg(
        F.lit("exact").alias("tier"),
        F.count(F.lit(1)).cast("long").alias("docs_affected"),
        F.coalesce(F.sum("_b"), F.lit(0)).cast("long").alias("bytes_saved"),
    )
    near_row = j.filter(
        (~F.col("_is_exact")) & (F.col("cluster_id") < F.col("doc_id"))
    ).agg(
        F.lit("near").alias("tier"),
        F.count(F.lit(1)).cast("long").alias("docs_affected"),
        F.coalesce(F.sum("_b"), F.lit(0)).cast("long").alias("bytes_saved"),
    )
    marked = LD.first_occurrence(
        LD.doc_lines(docs, mode="token_block", block_tokens=12)
    ).filter(~F.col("keep"))
    line_row = marked.agg(
        F.lit("line").alias("tier"),
        F.countDistinct("doc_id").cast("long").alias("docs_affected"),
        F.coalesce(F.sum(F.octet_length("line")), F.lit(0)).cast("long").alias(
            "bytes_saved"
        ),
    )
    from pcompress_spark.analysis.webtext import _frac6

    return (
        exact_row.unionByName(near_row).unionByName(line_row)
        .crossJoin(F.broadcast(total))
        .select(
            "tier",
            "docs_affected",
            "bytes_saved",
            _frac6(F.col("bytes_saved"), F.col("_t")).alias("saved_frac"),
        )
    )


def q_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus profile [A4 stats agg: the reference's
    min/max/avg chunk statistics (pcompress.c:175-195) as a data-profile
    op]: doc counts, token mass, and EXACT interpolated length
    percentiles (Spark `percentile` and DuckDB `quantile_cont` share the
    (n-1)p convention — verified bit-equal; 1e-6-floor-rounded)."""
    from pcompress_spark.analysis.webtext import _frac6

    d = _docs(spark, sf_dir)
    ntok = F.when(
        F.length(F.trim(F.col("text"))) == 0, F.lit(0)
    ).otherwise(F.size(F.split(F.trim(F.col("text")), r"\s+")))
    chars = F.length("text")
    p = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(ntok).cast("long").alias("n_tokens"),
        F.min(chars).cast("long").alias("min_chars"),
        F.percentile(chars, F.lit(0.5)).alias("_p50"),
        F.percentile(chars, F.lit(0.95)).alias("_p95"),
        F.max(chars).cast("long").alias("max_chars"),
        F.sum(chars).cast("long").alias("_sum_chars"),
    )
    return p.select(
        "lang",
        "n_docs",
        "n_tokens",
        "min_chars",
        _frac6(F.col("_p50"), F.lit(1)).alias("p50_chars"),
        _frac6(F.col("_p95"), F.lit(1)).alias("p95_chars"),
        "max_chars",
        _frac6(F.col("_sum_chars"), F.col("n_docs")).alias("avg_chars"),
    )


QUERIES = {
    "exact_identity": q_exact_identity,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    "simhash_pairs": q_simhash_pairs,
    "substring_pairs": q_substring_pairs,
    "dedup_clusters": q_dedup_clusters,
    "lang_id": q_lang_id,
    "quality_score": q_quality_score,
    "token_counts": q_token_counts,
    "doc_fingerprint": q_doc_fingerprint,
    "fixed_blocks": q_fixed_blocks,
    "cdc_chunks": q_cdc_chunks,
    "cdc_stats": q_cdc_stats,
    "embedding_topk": q_embedding_topk,
    "embedding_near_dup": q_embedding_near_dup,
    "embedding_ann_lsh": q_embedding_ann_lsh,
    "embedding_ann_ivf": q_embedding_ann_ivf,
    "multimodal_decode": q_multimodal_decode,
    "media_decode_pcm": q_media_decode_pcm,
    "reconstruct_audit": q_reconstruct_audit,
    "delta_spans": q_delta_spans,
    "lcs_spans": q_lcs_spans,
    "lcs_reconstruct": q_lcs_reconstruct,
    "delta_reconstruct": q_delta_reconstruct,
    "embedding_ann_recall": q_embedding_ann_recall,
    "embedding_ann_ivf_recall": q_embedding_ann_ivf_recall,
    "scan_filter_project": q_scan_filter_project,
    "join_agg_revenue": q_join_agg_revenue,
    "window_rank_orders": q_window_rank_orders,
    "set_ops_parts": q_set_ops_parts,
    "events_hourly": q_events_hourly,
    "repetition_stats": q_repetition_stats,
    "quality_gate": q_quality_gate,
    "pii_redact": q_pii_redact,
    "url_dedup": q_url_dedup,
    "dedup_tiers": q_dedup_tiers,
    "decontaminate": q_decontaminate,
    "paragraph_dedup": q_paragraph_dedup,
    "mix_weights": q_mix_weights,
    "cluster_rep_longest": q_cluster_rep_longest,
    "mixture_sample": q_mixture_sample,
    "domain_quota": q_domain_quota,
    "vocab_stats": q_vocab_stats,
    "rare_token_stats": q_rare_token_stats,
    "text_normalize": q_text_normalize,
    "novelty_scores": q_novelty_scores,
    "cluster_split": q_cluster_split,
    "semantic_dedup": q_semantic_dedup,
    "events_sessionize": q_events_sessionize,
    "media_blocks": q_media_blocks,
    "dedup_report": q_dedup_report,
    "corpus_profile": q_corpus_profile,
}


_PAIR_SQL = f"""
WITH
{_SQL_SHINGLES}
SELECT id_a, id_b, inter_cnt, union_cnt, jaccard
FROM pairjac WHERE jaccard >= {TAU}
"""

# shared CTE chain for the suffix-array oracles: window matches -> diagonal
# gaps-and-islands -> maximal runs -> canonical best row per pair (exact LCS
# when LCS >= L, which the verified pair set guarantees). ONE definition so
# lcs_spans and lcs_reconstruct can never drift.
_SQL_LCS_BEST = f"""
WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= {SUB_MIN}),
w AS (SELECT doc_id, substr(text, CAST(i AS INT), {SUB_MIN}) AS g, i
      FROM d, unnest(range(1, length(text) - {SUB_MIN} + 2)) t(i)),
wd AS (SELECT DISTINCT doc_id, g FROM w),
p AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM wd a JOIN wd b ON a.g = b.g AND a.doc_id < b.doc_id),
m AS (SELECT p.id_a, p.id_b, a.i AS pa, b.i AS pb
      FROM p JOIN w a ON a.doc_id = p.id_a
             JOIN w b ON b.doc_id = p.id_b AND b.g = a.g),
isl AS (SELECT id_a, id_b, pa, pb,
               pa - row_number() OVER (PARTITION BY id_a, id_b, pa - pb
                                       ORDER BY pa) AS grp
        FROM m),
runs AS (SELECT id_a, id_b, min(pa) AS off_a, min(pb) AS off_b,
                count(*) + {SUB_MIN - 1} AS lcs_len
         FROM isl GROUP BY id_a, id_b, pa - pb, grp),
best AS (SELECT id_a, id_b, off_a, off_b, lcs_len,
                row_number() OVER (PARTITION BY id_a, id_b
                                   ORDER BY lcs_len DESC, off_a, off_b) AS rn
         FROM runs)"""

# shared CTE for the webtext word/bigram statistics (repetition_stats and
# quality_gate both read `stats` — ONE definition so they cannot drift).
# Tokenizer = webtext.TOKEN_RE (whitespace tokens; CJK per codepoint).
# DuckDB lists are 1-based; range(1, len) is empty for len <= 1, so the
# bigram branch needs no size guard (unlike Spark's sequence()).
_SQL_WORDSTATS = r"""
wsrc AS (
  SELECT doc_id,
         regexp_extract_all(text, '[一-龥]|[^\s一-龥]+') AS ws
  FROM documents
),
wc AS (SELECT doc_id, w, count(*) AS cnt
       FROM (SELECT doc_id, unnest(ws) AS w FROM wsrc) GROUP BY 1, 2),
pw AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_words,
              CAST(count(*) AS BIGINT) AS n_distinct_words,
              CAST(max(cnt) AS BIGINT) AS top_word_cnt
       FROM wc GROUP BY 1),
bc AS (SELECT doc_id, b, count(*) AS cnt
       FROM (SELECT doc_id,
                    unnest(list_transform(range(1, len(ws)),
                                          i -> ws[i] || ' ' || ws[i+1])) AS b
             FROM wsrc) GROUP BY 1, 2),
pb AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
              CAST(max(cnt) AS BIGINT) AS top_bigram_cnt
       FROM bc GROUP BY 1),
stats AS (
  SELECT d.doc_id,
         coalesce(pw.n_words, 0) AS n_words,
         coalesce(pw.n_distinct_words, 0) AS n_distinct_words,
         coalesce(pw.n_words, 0) - coalesce(pw.n_distinct_words, 0)
           AS dup_word_cnt,
         coalesce(pw.top_word_cnt, 0) AS top_word_cnt,
         coalesce(pb.n_bigrams, 0) AS n_bigrams,
         coalesce(pb.top_bigram_cnt, 0) AS top_bigram_cnt
  FROM documents d
  LEFT JOIN pw ON pw.doc_id = d.doc_id
  LEFT JOIN pb ON pb.doc_id = d.doc_id
)
"""

# DuckDB twins of webtext.EMAIL_RE / PHONE_RE / IP_RE (same strings; RE2
# and Java regex agree on this restricted syntax) and of normalize_url
_SQL_PII_AUG = """
a AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@mail.example.com or call +1-555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.7'
           AS aug
  FROM documents
)
"""

ORACLES = {
    "exact_identity": """
WITH d AS (SELECT doc_id, sha256(text) AS text_sha FROM documents),
g AS (SELECT text_sha, min(doc_id) AS rep_id, count(*) AS group_size
      FROM d GROUP BY text_sha)
SELECT d.doc_id, d.text_sha, g.rep_id, g.group_size
FROM d JOIN g USING (text_sha)
""",
    "ngram_jaccard_pairs": _PAIR_SQL,
    # LSH / SimHash channels: the oracle is the EXACT pair set — a value
    # match certifies sketch recall == 1 at this scale.
    "minhash_lsh_pairs": _PAIR_SQL,
    "simhash_pairs": _PAIR_SQL,
    "substring_pairs": f"""
WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= {SUB_MIN}),
w AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), {SUB_MIN}) AS g
      FROM d, unnest(range(1, length(text) - {SUB_MIN} + 2)) t(i)),
p AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM w a JOIN w b ON a.g = b.g AND a.doc_id < b.doc_id)
SELECT id_a, id_b FROM p
""",
    "dedup_clusters": f"""
WITH RECURSIVE
{_SQL_SHINGLES},
pairs AS (SELECT id_a, id_b FROM pairjac WHERE jaccard >= {TAU}),
e(a, b) AS (SELECT id_a, id_b FROM pairs UNION SELECT id_b, id_a FROM pairs),
reach(a, b) AS (
  SELECT a, b FROM e
  UNION
  SELECT reach.a, e.b FROM reach JOIN e ON reach.b = e.a
)
SELECT docs.doc_id,
       least(docs.doc_id, coalesce(min(reach.b), docs.doc_id)) AS cluster_id
FROM documents docs LEFT JOIN reach ON reach.a = docs.doc_id
GROUP BY docs.doc_id
""",
    "lang_id": """
SELECT doc_id,
  CASE
    WHEN length(text) = 0 THEN 'und'
    WHEN len(regexp_extract_all(text, '[一-龥]')) * 1.0 / length(text) > 0.25
      THEN 'zh'
    WHEN len(regexp_extract_all(text, '(sch|ung|ein|der|zeit|und)')) * 1.0
           / length(text) > 0.01
     AND len(regexp_extract_all(text, '(sch|ung|ein|der|zeit|und)')) >
         len(regexp_extract_all(text, '(eau|oir|eux|ille|vous|mont)'))
      THEN 'de'
    WHEN len(regexp_extract_all(text, '(eau|oir|eux|ille|vous|mont)')) * 1.0
           / length(text) > 0.01
      THEN 'fr'
    ELSE 'en'
  END AS lang_pred
FROM documents
""",
    "quality_score": r"""
WITH b AS (
  SELECT doc_id,
    length(text) AS n_chars_calc,
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                              x -> x <> '')) END AS n_tokens,
    CASE WHEN length(text) = 0 THEN 0.0
         ELSE len(regexp_extract_all(text, '[\.,;:!\?]')) * 1.0 / length(text)
    END AS punct_ratio
  FROM documents
),
m AS (
  SELECT *,
    CASE WHEN n_tokens > 0 THEN n_chars_calc * 1.0 / n_tokens ELSE 0.0
    END AS avg_word
  FROM b
)
SELECT doc_id, n_chars_calc, n_tokens, punct_ratio,
  (CASE WHEN n_chars_calc >= 200 AND n_chars_calc <= 50000 THEN 1.0 ELSE 0.3 END) * 0.4
  + (CASE WHEN avg_word >= 3 AND avg_word <= 12 THEN 1.0 ELSE 0.4 END) * 0.3
  + (CASE WHEN punct_ratio > 0.001 AND punct_ratio < 0.2 THEN 1.0 ELSE 0.5 END) * 0.3
  AS quality
FROM m
""",
    "token_counts": r"""
SELECT doc_id,
  CASE WHEN length(trim(text)) = 0 THEN 0
       ELSE len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                            x -> x <> '')) END AS ws_tokens,
  len(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9\s]')) AS bpe_tokens
FROM documents
""",
    "doc_fingerprint": f"""
WITH
{_SQL_SHINGLES}
SELECT d0.doc_id, substr(sha256(d0.text), 1, 16) AS fp,
       coalesce(sizes.sz, 0) AS shingle_cnt
FROM documents d0 LEFT JOIN sizes ON sizes.doc_id = d0.doc_id
""",
    "fixed_blocks": f"""
WITH b AS (
  SELECT doc_id,
         sha256(substr(text, CAST(i * {FIXED_BLK} + 1 AS INT), {FIXED_BLK}))
           AS block_sha
  FROM documents,
       unnest(range(0, CAST(ceil(length(text) / {FIXED_BLK}.0) AS BIGINT))) t(i)
  WHERE length(text) > 0
)
SELECT block_sha, count(*) AS n_blocks, count(DISTINCT doc_id) AS n_docs,
       min(doc_id) AS rep_doc
FROM b GROUP BY block_sha
""",
    # _CDC_SQL replays operators/cdc.chunk_explode's boundary rule verbatim:
    # cut after char i iff sha256 of the 16-char window ending at i starts
    # below hex '04' (DuckDB sha256 == Spark sha2(,256) on identical
    # char-domain substrings).
    "cdc_chunks": """
WITH d AS (
  SELECT doc_id, text,
         list_concat(list_concat([CAST(0 AS BIGINT)],
           list_filter(
             list_transform(range(16, length(text) + 1),
               i -> CASE WHEN substr(sha256(substr(text, CAST(i - 15 AS INT),
                                     16)), 1, 2) < '04'
                         THEN i ELSE -1 END),
             x -> x > 0 AND x < length(text))),
           [CAST(length(text) AS BIGINT)]) AS bounds
  FROM documents WHERE length(text) > 0
),
c AS (
  SELECT doc_id,
         substr(sha256(substr(text, CAST(bounds[CAST(j AS INT)] + 1 AS INT),
                CAST(bounds[CAST(j AS INT) + 1]
                     - bounds[CAST(j AS INT)] AS INT))), 1, 16) AS chunk_sha,
         bounds[CAST(j AS INT) + 1] - bounds[CAST(j AS INT)] AS chunk_len
  FROM d, unnest(range(1, len(bounds))) t(j)
)
SELECT chunk_sha, count(*) AS n_chunks, count(DISTINCT doc_id) AS n_docs,
       min(doc_id) AS rep_doc, CAST(max(chunk_len) AS INT) AS chunk_len
FROM c GROUP BY chunk_sha
""",
    "cdc_stats": """
WITH d AS (
  SELECT doc_id, text,
         list_concat(list_concat([CAST(0 AS BIGINT)],
           list_filter(
             list_transform(range(16, length(text) + 1),
               i -> CASE WHEN substr(sha256(substr(text, CAST(i - 15 AS INT),
                                     16)), 1, 2) < '04'
                         THEN i ELSE -1 END),
             x -> x > 0 AND x < length(text))),
           [CAST(length(text) AS BIGINT)]) AS bounds
  FROM documents WHERE length(text) > 0
),
c AS (
  SELECT doc_id,
         substr(sha256(substr(text, CAST(bounds[CAST(j AS INT)] + 1 AS INT),
                CAST(bounds[CAST(j AS INT) + 1]
                     - bounds[CAST(j AS INT)] AS INT))), 1, 16) AS chunk_sha,
         bounds[CAST(j AS INT) + 1] - bounds[CAST(j AS INT)] AS chunk_len
  FROM d, unnest(range(1, len(bounds))) t(j)
),
per AS (
  SELECT chunk_sha, count(*) AS n, max(chunk_len) AS l FROM c GROUP BY chunk_sha
)
SELECT CAST(sum(n) AS BIGINT) AS total_chunks,
       CAST(count(*) AS BIGINT) AS distinct_chunks,
       CAST(sum(n * l) AS BIGINT) AS total_chars,
       CAST(sum(l) AS BIGINT) AS stored_chars,
       round(CAST(sum(n * l) AS DOUBLE) / sum(l), 6) AS dedup_ratio
FROM per
""",
    "embedding_topk": f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
s AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
    floor((CASE WHEN sqrt(list_dot_product(q.v, q.v)) > 0
                AND sqrt(list_dot_product(n.v, n.v)) > 0
          THEN list_dot_product(q.v, n.v)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v)))
          ELSE 0.0 END) * 1000000 + 0.5) / 1000000 AS cos_sim
  FROM e q JOIN e n ON q.vec_id <> n.vec_id
),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM s)
SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
FROM r WHERE rank <= {TOPK}
""",
    "embedding_near_dup": f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT id_a, id_b, cos_sim FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    floor((CASE WHEN sqrt(list_dot_product(a.v, a.v)) > 0
                AND sqrt(list_dot_product(b.v, b.v)) > 0
          THEN list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
          ELSE 0.0 END) * 1000000 + 0.5) / 1000000 AS cos_sim
  FROM e a JOIN e b ON a.vec_id < b.vec_id
) WHERE cos_sim >= {COS_TAU}
""",
    # embedding_ann_lsh / embedding_ann_ivf: intentionally no oracle
    # (approximate by design; LSH carries the analytic recall certificate
    # embedding_ann_recall instead, IVF recall is measured in tests)
    # the oracle predicts the PLANTED header fields; the Spark side reads
    # them back by parsing the actual binary containers — a value match
    # certifies real magic-byte dispatch + header extraction
    "multimodal_decode": """
WITH p AS (
  SELECT doc_id AS media_id, octet_length(encode(text)) AS n,
         sha256(text) AS sha_hex
  FROM documents
),
k AS (
  SELECT *,
    CASE WHEN n % 3 = 0 THEN 'image'
         WHEN n % 3 = 1 THEN 'audio'
         ELSE 'video' END AS kind
  FROM p
)
SELECT media_id, kind,
  n + CASE kind WHEN 'image' THEN 33 WHEN 'audio' THEN 44 ELSE 88 END AS n_bytes,
  substr(sha_hex, 1, 16) AS sha_prefix,
  CAST(CASE WHEN kind = 'audio' THEN 0 ELSE 32 + n % 608 END AS INT) AS width,
  CAST(CASE WHEN kind = 'audio' THEN 0 ELSE 32 + (n * 7) % 448 END AS INT) AS height,
  CAST(CASE WHEN kind = 'image' THEN 1 ELSE 1 + n % 16 END AS INT) AS n_frames
FROM k
""",
    "reconstruct_audit": """
WITH d AS (SELECT doc_id, text, sha256(text) AS text_sha FROM documents),
g AS (SELECT text_sha, min(doc_id) AS rep_id FROM d GROUP BY text_sha),
m AS (SELECT d.doc_id, d.text_sha, g.rep_id FROM d JOIN g USING (text_sha)),
r AS (SELECT g.rep_id, d.text AS rep_text FROM d JOIN g ON d.doc_id = g.rep_id)
SELECT m.doc_id, m.rep_id, m.doc_id <> m.rep_id AS is_dup,
       substr(sha256(r.rep_text), 1, 16) AS rebuilt_sha_prefix,
       sha256(r.rep_text) = m.text_sha AS sha_ok
FROM m JOIN r USING (rep_id)
""",
    "delta_spans": f"""
WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= {SUB_MIN}),
wp AS (SELECT doc_id, g, min(i) AS pos FROM
        (SELECT doc_id, substr(text, CAST(i AS INT), {SUB_MIN}) AS g, i
         FROM d, unnest(range(1, length(text) - {SUB_MIN} + 2)) t(i))
       GROUP BY doc_id, g),
p AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM wp a JOIN wp b ON a.g = b.g AND a.doc_id < b.doc_id)
SELECT p.id_a, p.id_b,
       CAST(min(a.pos) AS BIGINT) AS off_a,
       CAST(min(b.pos) AS BIGINT) AS off_b,
       count(*) AS n_win,
       count(*) + {SUB_MIN - 1} AS est_span_len
FROM p
JOIN wp a ON a.doc_id = p.id_a
JOIN wp b ON b.doc_id = p.id_b AND b.g = a.g
GROUP BY p.id_a, p.id_b
""",
    "lcs_spans": f"""
{_SQL_LCS_BEST}
SELECT id_a, id_b, CAST(off_a AS BIGINT) AS off_a,
       CAST(off_b AS BIGINT) AS off_b, CAST(lcs_len AS BIGINT) AS lcs_len
FROM best WHERE rn = 1
""",
    "lcs_reconstruct": f"""
{_SQL_LCS_BEST}
SELECT b.id_a, b.id_b, CAST(b.off_a AS BIGINT) AS off_a,
       CAST(b.off_b AS BIGINT) AS off_b, CAST(b.lcs_len AS BIGINT) AS lcs_len,
       sha256(substr(db.text, 1, CAST(b.off_b - 1 AS INT))
              || substr(da.text, CAST(b.off_a AS INT), CAST(b.lcs_len AS INT))
              || substr(db.text, CAST(b.off_b + b.lcs_len AS INT)))
         = sha256(db.text) AS sha_ok
FROM best b
JOIN documents da ON da.doc_id = b.id_a
JOIN documents db ON db.doc_id = b.id_b
WHERE b.rn = 1
""",
    "delta_reconstruct": f"""
WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= {SUB_MIN}),
wp AS (SELECT doc_id, g, min(i) AS pos FROM
        (SELECT doc_id, substr(text, CAST(i AS INT), {SUB_MIN}) AS g, i
         FROM d, unnest(range(1, length(text) - {SUB_MIN} + 2)) t(i))
       GROUP BY doc_id, g),
p AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM wp a JOIN wp b ON a.g = b.g AND a.doc_id < b.doc_id),
sp AS (SELECT p.id_a, p.id_b,
              CAST(min(a.pos) AS BIGINT) AS off_a,
              CAST(min(b.pos) AS BIGINT) AS off_b,
              count(*) + {SUB_MIN - 1} AS est_span_len
       FROM p
       JOIN wp a ON a.doc_id = p.id_a
       JOIN wp b ON b.doc_id = p.id_b AND b.g = a.g
       GROUP BY p.id_a, p.id_b)
SELECT sp.id_a, sp.id_b, sp.off_a, sp.off_b, sp.est_span_len,
       sha256(substr(db.text, 1, CAST(sp.off_b - 1 AS INT))
              || substr(da.text, CAST(sp.off_a AS INT),
                        CAST(sp.est_span_len AS INT))
              || substr(db.text, CAST(sp.off_b + sp.est_span_len AS INT)))
         = sha256(db.text) AS sha_ok
FROM sp
JOIN documents da ON da.doc_id = sp.id_a
JOIN documents db ON db.doc_id = sp.id_b
""",
    "embedding_ann_recall": f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT id_a, id_b, cos_sim, TRUE AS retrieved FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    floor((CASE WHEN sqrt(list_dot_product(a.v, a.v)) > 0
                AND sqrt(list_dot_product(b.v, b.v)) > 0
          THEN list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
          ELSE 0.0 END) * 1000000 + 0.5) / 1000000 AS cos_sim
  FROM e a JOIN e b ON a.vec_id < b.vec_id
) WHERE cos_sim >= {ANN_RECALL_TAU}
""",
    # same strong-pair ground truth as embedding_ann_recall: the oracle
    # asserts retrieved=TRUE for EVERY exact cos>=0.4 pair, so a single
    # Voronoi-straddling miss in the IVF probe is a hash mismatch
    "embedding_ann_ivf_recall": f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT id_a, id_b, cos_sim, TRUE AS retrieved FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    floor((CASE WHEN sqrt(list_dot_product(a.v, a.v)) > 0
                AND sqrt(list_dot_product(b.v, b.v)) > 0
          THEN list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
          ELSE 0.0 END) * 1000000 + 0.5) / 1000000 AS cos_sim
  FROM e a JOIN e b ON a.vec_id < b.vec_id
) WHERE cos_sim >= {ANN_RECALL_TAU}
""",
    "scan_filter_project": """
SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
FROM lineitem WHERE l_quantity >= 45 AND l_returnflag = 'R'
""",
    "join_agg_revenue": """
SELECT n.n_name AS nation,
  CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT))
    AS BIGINT) AS revenue_cents,
  count(*) AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
    "window_rank_orders": """
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rk AS INT) AS rk
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
    row_number() OVER (PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders
) WHERE rk <= 3
""",
    "set_ops_parts": """
(SELECT p_partkey FROM part WHERE p_size >= 40
 UNION
 SELECT p_partkey FROM part WHERE p_retailprice < 950)
EXCEPT
SELECT p_partkey FROM part WHERE p_brand = 'Brand#11'
""",
    "events_hourly": """
SELECT date_trunc('hour', ts) AS hour, event_type,
  count(*) AS n_events,
  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
GROUP BY 1, 2
""",
}


def _webtext_oracles() -> dict[str, str]:
    """Oracles for the webtext curation tier. Built by concatenation (not
    f-strings) because the shared regex constants contain `{2,}` / `%`."""
    from pcompress_spark.analysis import webtext as WT

    rep = (
        "WITH " + _SQL_WORDSTATS + """
SELECT doc_id, n_words, n_distinct_words, dup_word_cnt, top_word_cnt,
  CASE WHEN n_words = 0 THEN 0.0
       ELSE floor(top_word_cnt * 1.0 / n_words * 1000000 + 0.5) / 1000000
  END AS top_word_frac,
  n_bigrams, top_bigram_cnt,
  CASE WHEN n_bigrams = 0 THEN 0.0
       ELSE floor(top_bigram_cnt * 1.0 / n_bigrams * 1000000 + 0.5) / 1000000
  END AS top_bigram_frac
FROM stats
"""
    )

    gate = (
        "WITH " + _SQL_WORDSTATS + """,
g AS (
  SELECT doc_id, n_words, dup_word_cnt, top_word_cnt,
    CASE WHEN n_words < """ + str(WT.GATE_MIN_WORDS) + """ THEN 'too_short'
         WHEN dup_word_cnt * """ + str(WT.GATE_DUP_DEN) + """ >
              n_words * """ + str(WT.GATE_DUP_NUM) + """ THEN 'repetitive'
         WHEN top_word_cnt * """ + str(WT.GATE_TOP_DEN) + """ >
              n_words * """ + str(WT.GATE_TOP_NUM) + """ THEN 'top_word'
         ELSE 'ok' END AS reason
  FROM stats
)
SELECT doc_id, n_words, dup_word_cnt, top_word_cnt, reason,
       CAST(CASE WHEN reason = 'ok' THEN 1 ELSE 0 END AS INT) AS keep
FROM g
"""
    )

    e, p, i = WT.EMAIL_RE, WT.PHONE_RE, WT.IP_RE
    pii = (
        "WITH " + _SQL_PII_AUG + """,
r AS (
  SELECT doc_id, aug,
    regexp_replace(regexp_replace(regexp_replace(aug,
      '""" + e + """', '<EMAIL>', 'g'),
      '""" + p + """', '<PHONE>', 'g'),
      '""" + i + """', '<IP>', 'g') AS red
  FROM a
)
SELECT doc_id,
  CAST(len(regexp_extract_all(aug, '""" + e + """')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(aug, '""" + p + """')) AS BIGINT) AS n_phones,
  CAST(len(regexp_extract_all(aug, '""" + i + """')) AS BIGINT) AS n_ips,
  CAST(length(aug) AS BIGINT) AS orig_len,
  CAST(length(red) AS BIGINT) AS redacted_len,
  sha256(red) AS redacted_sha
FROM r
"""
    )

    url = (
        """
WITH r AS (
  SELECT doc_id,
    CASE CAST(doc_id % 4 AS INT)
      WHEN 0 THEN 'https://example.com/page/' || b
      WHEN 1 THEN 'HTTPS://WWW.Example.COM/page/' || b
      WHEN 2 THEN 'http://example.com/page/' || b || '/'
      ELSE 'https://example.com/page/' || b
           || '?utm_source=feed&utm_medium=rss'
    END AS raw_url
  FROM (SELECT doc_id,
               CAST(CAST((doc_id - doc_id % 4) / 4 AS BIGINT) AS VARCHAR) AS b
        FROM documents)
),
c AS (SELECT doc_id, raw_url, """
        + WT.NORMALIZE_URL_SQL.format(u="raw_url")
        + """ AS canon_url FROM r),
g AS (SELECT canon_url, min(doc_id) AS url_rep, count(*) AS n_variants
      FROM c GROUP BY 1)
SELECT c.doc_id, c.raw_url, c.canon_url, g.url_rep,
       CAST(g.n_variants AS BIGINT) AS n_variants
FROM c JOIN g USING (canon_url)
"""
    )

    tiers = f"""
WITH RECURSIVE
{_SQL_SHINGLES},
pairs AS (SELECT id_a, id_b FROM pairjac WHERE jaccard >= {TAU}),
e(a, b) AS (SELECT id_a, id_b FROM pairs UNION SELECT id_b, id_a FROM pairs),
reach(a, b) AS (
  SELECT a, b FROM e
  UNION
  SELECT reach.a, e.b FROM reach JOIN e ON reach.b = e.a
),
cl AS (SELECT docs.doc_id,
              least(docs.doc_id, coalesce(min(reach.b), docs.doc_id))
                AS cluster_id
       FROM documents docs LEFT JOIN reach ON reach.a = docs.doc_id
       GROUP BY docs.doc_id),
idh AS (SELECT doc_id, sha256(text) AS text_sha FROM documents),
er AS (SELECT text_sha, min(doc_id) AS exact_rep FROM idh GROUP BY 1)
SELECT i.doc_id,
  CASE WHEN er.exact_rep < i.doc_id THEN 'exact'
       WHEN cl.cluster_id < i.doc_id THEN 'near'
       ELSE 'unique' END AS tier,
  CASE WHEN er.exact_rep < i.doc_id THEN er.exact_rep
       WHEN cl.cluster_id < i.doc_id THEN cl.cluster_id
       ELSE i.doc_id END AS rep_id
FROM idh i
JOIN er USING (text_sha)
JOIN cl ON cl.doc_id = i.doc_id
"""

    return {
        "repetition_stats": rep,
        "quality_gate": gate,
        "pii_redact": pii,
        "url_dedup": url,
        "dedup_tiers": tiers,
    }


ORACLES.update(_webtext_oracles())

# decontamination: same tokenizer as the Spark side (lowercased TOKEN_RE),
# grams joined with one space, 8-gram windows, benchmark = doc_id%20==7.
# DuckDB's generate_series(1, k) is empty for k < 1, so short docs need no
# guard here (unlike Spark's sequence()).
ORACLES["decontaminate"] = r"""
WITH toks AS (
  SELECT doc_id,
         regexp_extract_all(lower(text), '[一-龥]|[^\s一-龥]+') AS ws
  FROM documents
),
grams AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(ws) - 7, 0)),
           i -> array_to_string(ws[i:i+7], ' '))) AS gs
  FROM toks
),
bench AS (
  SELECT DISTINCT unnest(gs) AS gram FROM grams WHERE doc_id % 20 = 7
),
corpus AS (SELECT doc_id, gs FROM grams WHERE doc_id % 20 <> 7),
hits AS (
  SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM (SELECT doc_id, unnest(gs) AS gram FROM corpus) e
  JOIN bench USING (gram)
  GROUP BY e.doc_id
)
SELECT c.doc_id,
       CAST(len(c.gs) AS INT) AS n_grams,
       coalesce(h.n_hits, 0) AS n_hits,
       coalesce(h.n_hits, 0) > 0 AS contaminated
FROM corpus c LEFT JOIN hits h USING (doc_id)
"""

# cross-doc line dedup: 12-token blocks, keep = corpus-wide first
# occurrence (min doc_id, then pos). Tokens = '\s+' split of trim(text) —
# both engines yield [''] for empty text, so the degenerate block is
# consistent. DuckDB list slices are 1-based inclusive and clamp at the
# end, matching Spark's slice(ws, start, 12).
ORACLES["paragraph_dedup"] = r"""
WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
           FROM documents),
n AS (SELECT doc_id, ws, CAST(ceil(len(ws) / 12.0) AS INT) AS nblk FROM d),
l AS (SELECT doc_id, CAST(i AS INT) AS pos,
             array_to_string(ws[(CAST(i AS INT)*12+1):((CAST(i AS INT)+1)*12)],
                             ' ') AS line
      FROM n, unnest(range(0, nblk)) t(i)),
k AS (SELECT doc_id, pos, line,
             row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) = 1
               AS keep
      FROM l)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
       coalesce(string_agg(CASE WHEN keep THEN line END, ' ' ORDER BY pos),
                '') AS text_dedup
FROM k GROUP BY doc_id
"""

# mixture reweighting: identical double arithmetic to linedup._frac6
# (divide, then *1e6, +0.5, floor, /1e6 — IEEE-deterministic per row).
ORACLES["mix_weights"] = r"""
WITH per AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(regexp_split_to_array(trim(text), '\s+'))
                  END) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source),
t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS ngroups FROM per)
SELECT source, n_docs, n_tokens,
  CASE WHEN total = 0 THEN 0.0
       ELSE floor(CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE)
                  * 1e6 + 0.5) / 1e6 END AS token_share,
  CASE WHEN ngroups * n_tokens = 0 THEN 0.0
       ELSE floor(CAST(total AS DOUBLE) / CAST(ngroups * n_tokens AS DOUBLE)
                  * 1e6 + 0.5) / 1e6 END AS weight
FROM per, t
"""

# representative policy 'longest': same clusters as dedup_clusters (the
# recursive-CTE transitive closure), rep = row_number ordered by
# length(text) DESC, doc_id ASC — definitionally the Spark window.
ORACLES["cluster_rep_longest"] = f"""
WITH RECURSIVE
{_SQL_SHINGLES},
pairs AS (SELECT id_a, id_b FROM pairjac WHERE jaccard >= {TAU}),
e(a, b) AS (SELECT id_a, id_b FROM pairs UNION SELECT id_b, id_a FROM pairs),
reach(a, b) AS (
  SELECT a, b FROM e
  UNION
  SELECT reach.a, e.b FROM reach JOIN e ON reach.b = e.a
),
cl AS (SELECT docs.doc_id,
              least(docs.doc_id, coalesce(min(reach.b), docs.doc_id))
                AS cluster_id
       FROM documents docs LEFT JOIN reach ON reach.a = docs.doc_id
       GROUP BY docs.doc_id),
m AS (SELECT cl.doc_id, cl.cluster_id, length(d.text) AS _m
      FROM cl JOIN documents d USING (doc_id)),
r AS (SELECT cluster_id, doc_id AS rep_id,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY _m DESC, doc_id ASC) AS rn
      FROM m)
SELECT m.doc_id, m.cluster_id, r.rep_id
FROM m JOIN r ON m.cluster_id = r.cluster_id AND r.rn = 1
"""

# mixture sampling: the same weight arithmetic as mix_weights, then the
# Knuth-hash stochastic rounding. pmod is emulated as ((x % m) + m) % m;
# every intermediate stays under 2^63, i.e. fits signed int64: max is
# (2^31-1)*2654435761 ≈ 5.7e18 < 2^63 ≈ 9.2e18 (no bigint overflow —
# DuckDB raises where Java wraps), and u's numerator < 2^32 makes u
# exact in a double.
ORACLES["mixture_sample"] = r"""
WITH per AS (
  SELECT source,
         CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(regexp_split_to_array(trim(text), '\s+'))
                  END) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source),
t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS ngroups FROM per),
w AS (SELECT source,
  CASE WHEN ngroups * n_tokens = 0 THEN 0.0
       ELSE floor(CAST(total AS DOUBLE) / CAST(ngroups * n_tokens AS DOUBLE)
                  * 1e6 + 0.5) / 1e6 END AS weight
  FROM per, t),
u AS (SELECT doc_id, source,
             CAST((((doc_id % 2147483648) + 2147483648) % 2147483648
                   * 2654435761) % 4294967296 AS DOUBLE)
             / 4294967296.0 AS uval
      FROM documents)
SELECT u.doc_id, u.source, w.weight,
       CAST(floor(w.weight)
            + CASE WHEN u.uval < w.weight - floor(w.weight)
                   THEN 1 ELSE 0 END AS INT) AS n_copies
FROM u JOIN w USING (source)
"""

# domain quota: same synthesized hosts (hot host = even doc_ids), same
# url -> host regex, ONE naive per-host window — the exact answer the
# two-stage Spark plan must reproduce.
ORACLES["domain_quota"] = r"""
WITH p AS (
  SELECT doc_id, text,
         'https://' ||
         CASE WHEN doc_id % 2 = 0 THEN 'hot.example.com'
              ELSE 'h' || CAST(doc_id % 37 AS VARCHAR) || '.example.org'
         END || '/p/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents),
h AS (SELECT doc_id,
             lower(regexp_extract(url,
               '^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/?#@]*@)?([^/?#:]+)',
               1)) AS host,
             length(text) AS _len
      FROM p),
r AS (SELECT host, doc_id,
             CAST(row_number() OVER (PARTITION BY host
                                     ORDER BY _len DESC, doc_id ASC)
                  AS INT) AS rnk
      FROM h)
SELECT host, doc_id, rnk FROM r WHERE rnk <= 5
"""

# vocabulary head: token counts over the lowercased TOKEN_RE stream, head
# by (count desc, token asc), rank + cumulative coverage over the head.
ORACLES["vocab_stats"] = r"""
WITH occ AS (
  SELECT unnest(regexp_extract_all(lower(text), '[一-龥]|[^\s一-龥]+'))
           AS token
  FROM documents),
c AS (SELECT token, CAST(count(*) AS BIGINT) AS n_occ
      FROM occ GROUP BY token),
t AS (SELECT CAST(sum(n_occ) AS BIGINT) AS total FROM c),
head AS (SELECT token, n_occ FROM c
         ORDER BY n_occ DESC, token ASC LIMIT 20),
r AS (SELECT token, n_occ,
             CAST(row_number() OVER (ORDER BY n_occ DESC, token ASC)
                  AS INT) AS "rank",
             sum(n_occ) OVER (ORDER BY n_occ DESC, token ASC
                              ROWS UNBOUNDED PRECEDING) AS _cum
      FROM head)
SELECT token, n_occ, "rank",
       CASE WHEN total = 0 THEN 0.0
            ELSE floor(CAST(n_occ AS DOUBLE) / CAST(total AS DOUBLE)
                       * 1e6 + 0.5) / 1e6 END AS share,
       CASE WHEN total = 0 THEN 0.0
            ELSE floor(CAST(_cum AS DOUBLE) / CAST(total AS DOUBLE)
                       * 1e6 + 0.5) / 1e6 END AS cum_share
FROM r, t
"""

# rare tokens: plant ' junk<doc_id>' on doc_id % 7 == 0 (the synthetic
# vocabulary is ~31 common tokens — without planting, nothing is rare),
# then per-doc fraction of occurrences with corpus count <= 2.
ORACLES["rare_token_stats"] = r"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN text || ' junk' || CAST(doc_id AS VARCHAR)
              ELSE text END AS text
  FROM documents),
occ AS (SELECT doc_id,
               unnest(regexp_extract_all(lower(text),
                                         '[一-龥]|[^\s一-龥]+')) AS token
        FROM d),
c AS (SELECT token, CAST(count(*) AS BIGINT) AS n_occ
      FROM occ GROUP BY token),
p AS (SELECT occ.doc_id,
             CAST(count(*) AS BIGINT) AS n_tok,
             CAST(sum(CASE WHEN c.n_occ <= 2 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_rare
      FROM occ JOIN c USING (token) GROUP BY occ.doc_id)
SELECT d.doc_id,
       coalesce(p.n_tok, 0) AS n_tok,
       coalesce(p.n_rare, 0) AS n_rare,
       CASE WHEN coalesce(p.n_tok, 0) = 0 THEN 0.0
            ELSE floor(CAST(coalesce(p.n_rare, 0) AS DOUBLE)
                       / CAST(p.n_tok AS DOUBLE) * 1e6 + 0.5) / 1e6
       END AS rare_frac
FROM d LEFT JOIN p USING (doc_id)
"""

# text normalization: plant the same corruption, then the shared step
# chain (webtext.normalize_text_sql is generated beside the Spark op so
# the two chains cannot drift).
from pcompress_spark.analysis.webtext import normalize_text_sql as _nts  # noqa: E402

_CORRUPT_SQL = (
    "CASE WHEN doc_id % 5 = 0 "
    "THEN 'Ã©vÃ©nement â€” ' || text || chr(7) ELSE text END"
)
ORACLES["text_normalize"] = f"""
WITH c AS (SELECT doc_id, {_CORRUPT_SQL} AS raw FROM documents)
SELECT doc_id, {_nts('raw')} AS text_norm,
       {_nts('raw')} <> raw AS changed
FROM c
"""

# n-gram novelty: the decontaminate gram domain, corpus-internal; first
# occurrence = min doc_id per gram.
ORACLES["novelty_scores"] = r"""
WITH toks AS (
  SELECT doc_id,
         regexp_extract_all(lower(text), '[一-龥]|[^\s一-龥]+') AS ws
  FROM documents
),
grams AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(ws) - 7, 0)),
           i -> array_to_string(ws[i:i+7], ' '))) AS gs
  FROM toks
),
occ AS (SELECT doc_id, unnest(gs) AS gram FROM grams),
firsts AS (SELECT gram, min(doc_id) AS first_doc FROM occ GROUP BY gram),
p AS (SELECT occ.doc_id,
             CAST(count(*) AS BIGINT) AS n_grams,
             CAST(sum(CASE WHEN occ.doc_id = firsts.first_doc
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
      FROM occ JOIN firsts USING (gram) GROUP BY occ.doc_id)
SELECT d.doc_id,
       coalesce(p.n_grams, 0) AS n_grams,
       coalesce(p.n_novel, 0) AS n_novel,
       CASE WHEN coalesce(p.n_grams, 0) = 0 THEN 0.0
            ELSE floor(CAST(p.n_novel AS DOUBLE)
                       / CAST(p.n_grams AS DOUBLE) * 1e6 + 0.5) / 1e6
       END AS novelty_frac
FROM documents d LEFT JOIN p USING (doc_id)
"""

# cluster-aware split: the dedup_clusters transitive closure, then the
# exact Knuth-hash uniform of cluster_id -> 90/5/5.
ORACLES["cluster_split"] = f"""
WITH RECURSIVE
{_SQL_SHINGLES},
pairs AS (SELECT id_a, id_b FROM pairjac WHERE jaccard >= {TAU}),
e(a, b) AS (SELECT id_a, id_b FROM pairs UNION SELECT id_b, id_a FROM pairs),
reach(a, b) AS (
  SELECT a, b FROM e
  UNION
  SELECT reach.a, e.b FROM reach JOIN e ON reach.b = e.a
),
cl AS (SELECT docs.doc_id,
              least(docs.doc_id, coalesce(min(reach.b), docs.doc_id))
                AS cluster_id
       FROM documents docs LEFT JOIN reach ON reach.a = docs.doc_id
       GROUP BY docs.doc_id),
u AS (SELECT doc_id, cluster_id,
             CAST((((cluster_id % 2147483648) + 2147483648) % 2147483648
                   * 2654435761) % 4294967296 AS DOUBLE)
             / 4294967296.0 AS uval
      FROM cl)
SELECT doc_id, cluster_id,
       CASE WHEN uval < 0.9 THEN 'train'
            WHEN uval < 0.95 THEN 'val'
            ELSE 'test' END AS split
FROM u
"""

# semantic dedup: the exact cosine pair graph's transitive closure, rep =
# component min vec_id, keep = representative rows only.
ORACLES["semantic_dedup"] = f"""
WITH RECURSIVE emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
p AS (
  SELECT id_a, id_b FROM (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      floor((CASE WHEN sqrt(list_dot_product(a.v, a.v)) > 0
                  AND sqrt(list_dot_product(b.v, b.v)) > 0
            THEN list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b.v, b.v)))
            ELSE 0.0 END) * 1000000 + 0.5) / 1000000 AS cos_sim
    FROM emb a JOIN emb b ON a.vec_id < b.vec_id
  ) WHERE cos_sim >= {COS_TAU}
),
e(a, b) AS (SELECT id_a, id_b FROM p UNION SELECT id_b, id_a FROM p),
reach(a, b) AS (
  SELECT a, b FROM e
  UNION
  SELECT reach.a, e.b FROM reach JOIN e ON reach.b = e.a
),
cl AS (SELECT emb.vec_id,
              least(emb.vec_id, coalesce(min(reach.b), emb.vec_id))
                AS sem_cluster
       FROM emb LEFT JOIN reach ON reach.a = emb.vec_id
       GROUP BY emb.vec_id)
SELECT vec_id, sem_cluster, vec_id = sem_cluster AS keep FROM cl
"""

# sessionization: gaps-and-islands with a 30-minute gap; island cumsum
# ordered by (ts, event_id) — equal-ts events land in one session either
# way (gap 0), so the tie-break only pins the cumsum, not semantics.
# A gap of EXACTLY 30 min starts a new session (>=): Spark's session
# window is half-open [start, last+gap), so an event landing exactly on
# the close boundary is outside it. session_end = max(ts) + 30 min ==
# Spark's session_window end.
ORACLES["events_sessionize"] = r"""
WITH o AS (
  SELECT user_id, event_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
),
m AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM o
),
s AS (
  SELECT user_id, ts, value,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS island
  FROM m
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(floor(value * 100 + 0.5)) AS BIGINT) AS value_cents
FROM s GROUP BY user_id, island
"""

# byte-domain fixed blocks: hex(utf8 bytes), 128-hex-char (= 64-byte)
# grid, sha256 per block. DuckDB's sha256 takes VARCHAR/BLOB — the hex
# SUBSTRING is a VARCHAR in both engines, so hashes agree byte-for-byte.
ORACLES["media_blocks"] = r"""
WITH h AS (
  SELECT doc_id, hex(encode(text)) AS hx FROM documents
  WHERE length(text) > 0
),
b AS (
  SELECT doc_id,
         sha256(substring(hx, CAST(i * 128 + 1 AS BIGINT), 128)) AS block_sha
  FROM h, unnest(range(0, CAST(ceil(length(hx) / 128.0) AS BIGINT))) t(i)
)
SELECT block_sha,
       CAST(count(*) AS BIGINT) AS n_blocks,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       min(doc_id) AS rep_doc
FROM b GROUP BY block_sha
"""

# dedup report: per-tier docs/bytes/fraction. Tier rules mirror
# dedup_tiers; line bytes come from the paragraph_dedup line frame.
ORACLES["dedup_report"] = f"""
WITH RECURSIVE
{_SQL_SHINGLES},
pairs AS (SELECT id_a, id_b FROM pairjac WHERE jaccard >= {TAU}),
e(a, b) AS (SELECT id_a, id_b FROM pairs UNION SELECT id_b, id_a FROM pairs),
reach(a, b) AS (
  SELECT a, b FROM e
  UNION
  SELECT reach.a, e.b FROM reach JOIN e ON reach.b = e.a
),
cl AS (SELECT docs.doc_id,
              least(docs.doc_id, coalesce(min(reach.b), docs.doc_id))
                AS cluster_id
       FROM documents docs LEFT JOIN reach ON reach.a = docs.doc_id
       GROUP BY docs.doc_id),
shab AS (SELECT doc_id, octet_length(encode(text)) AS b, sha256(text) AS s
       FROM documents),
repx AS (SELECT s, min(doc_id) AS rep FROM shab GROUP BY s),
exf AS (SELECT shab.doc_id, shab.b, repx.rep < shab.doc_id AS is_exact
       FROM shab JOIN repx USING (s)),
jx AS (SELECT exf.doc_id, exf.b, exf.is_exact, cl.cluster_id
       FROM exf JOIN cl USING (doc_id)),
t AS (SELECT CAST(sum(octet_length(encode(text))) AS BIGINT) AS tot FROM documents),
lw AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
       FROM documents),
ln AS (SELECT doc_id, ws, CAST(ceil(len(ws) / 12.0) AS INT) AS nblk FROM lw),
ll AS (SELECT doc_id, CAST(i AS INT) AS pos,
              array_to_string(ws[(CAST(i AS INT)*12+1):((CAST(i AS INT)+1)*12)],
                              ' ') AS line
       FROM ln, unnest(range(0, nblk)) q(i)),
lk AS (SELECT doc_id, pos, line,
              row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) = 1
                AS keep
       FROM ll),
rows_ AS (
  SELECT 'exact' AS tier,
         CAST(count(*) AS BIGINT) AS docs_affected,
         CAST(coalesce(sum(b), 0) AS BIGINT) AS bytes_saved
  FROM jx WHERE is_exact
  UNION ALL
  SELECT 'near',
         CAST(count(*) AS BIGINT),
         CAST(coalesce(sum(b), 0) AS BIGINT)
  FROM jx WHERE NOT is_exact AND cluster_id < doc_id
  UNION ALL
  SELECT 'line',
         CAST(count(DISTINCT doc_id) AS BIGINT),
         CAST(coalesce(sum(octet_length(encode(line))), 0) AS BIGINT)
  FROM lk WHERE NOT keep
)
SELECT tier, docs_affected, bytes_saved,
       CASE WHEN tot = 0 THEN 0.0
            ELSE floor(CAST(bytes_saved AS DOUBLE) / CAST(tot AS DOUBLE)
                       * 1e6 + 0.5) / 1e6 END AS saved_frac
FROM rows_, t
"""

# per-lang profile: identical interpolated-percentile convention
# (quantile_cont == Spark percentile, verified), frac6-rounded doubles.
ORACLES["corpus_profile"] = r"""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(regexp_split_to_array(trim(text), '\s+'))
                END) AS BIGINT) AS n_tokens,
       CAST(min(length(text)) AS BIGINT) AS min_chars,
       floor(quantile_cont(length(text), 0.5) * 1e6 + 0.5) / 1e6
         AS p50_chars,
       floor(quantile_cont(length(text), 0.95) * 1e6 + 0.5) / 1e6
         AS p95_chars,
       CAST(max(length(text)) AS BIGINT) AS max_chars,
       floor(CAST(sum(length(text)) AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6
         AS avg_chars
FROM documents GROUP BY lang
"""

# PCM sample decode: replay the WAV decode from the document's utf-8
# bytes. Sample i (1-based) = little-endian int16 of blob bytes
# (2i-1, 2i); hex(encode(text)) is uppercase, so each byte is two chars
# decoded via strpos arithmetic (DuckDB cannot index BLOBs). Decoded
# frame count = min(declared 2*(1+n%16) bytes, n available) // 2 —
# the decoder's truncation rule exactly.
ORACLES["media_decode_pcm"] = r"""
WITH a AS (
  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n
  FROM documents WHERE octet_length(encode(text)) % 3 = 1
),
m AS (SELECT media_id, hx, least(2 * (1 + n % 16), n) // 2 AS m FROM a),
s AS (
  SELECT media_id, CAST(i AS BIGINT) AS i,
         raw - CASE WHEN raw >= 32768 THEN 65536 ELSE 0 END AS v
  FROM (
    SELECT media_id, i,
        (strpos('0123456789ABCDEF', substr(hx, CAST(4*i-3 AS INT), 1)) - 1) * 16
      + (strpos('0123456789ABCDEF', substr(hx, CAST(4*i-2 AS INT), 1)) - 1)
      + 256 * (
          (strpos('0123456789ABCDEF', substr(hx, CAST(4*i-1 AS INT), 1)) - 1) * 16
        + (strpos('0123456789ABCDEF', substr(hx, CAST(4*i   AS INT), 1)) - 1))
        AS raw
    FROM m, unnest(range(1, m + 1)) t(i))
)
SELECT m.media_id,
       CAST(m.m AS BIGINT) AS n_samples,
       CAST(coalesce(sum(s.v), 0) AS BIGINT) AS sample_sum,
       CAST(min(s.v) AS INT) AS sample_min,
       CAST(max(s.v) AS INT) AS sample_max,
       CAST(coalesce(sum(s.i * (s.v + 32768)), 0) AS BIGINT) AS pcm_checksum
FROM m LEFT JOIN s USING (media_id)
GROUP BY m.media_id, m.m
"""

# Queries whose Spark answer is INTENTIONALLY approximate (the ANN
# paths): no value oracle BY DESIGN — each is certified instead by its
# own green recall oracle row (`embedding_ann_recall`,
# `embedding_ann_ivf_recall`). The contract guard asserts
# QUERIES == ORACLES ∪ NO_ORACLE exactly, so a future query cannot land
# silently oracle-less or a stale oracle outlive its query (r4 VERDICT
# task #8: intentional vs accidental gaps are machine-distinguished).
NO_ORACLE = frozenset({"embedding_ann_lsh", "embedding_ann_ivf"})
