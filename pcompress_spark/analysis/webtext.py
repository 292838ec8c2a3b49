"""Web-text curation operators: repetition stats, PII scrub, URL dedup,
quality gating.

These are the curation stages a Common-Crawl-style training-data pipeline
runs between extraction and dedup (the reference's per-type analyzer +
filter dispatch, analyzer.c:32-97 + pcompress.c:207-402, generalized to
the web-corpus setting): Gopher-style repetition statistics, C4-style PII
redaction, URL canonicalization (the cheapest dedup tier — no content
reads at all), and a composite keep/drop gate.

Everything is JVM-side column math / relational ops (whole-stage codegen;
the word/bigram counters are explode -> groupBy, i.e. the same
shuffle-bound shape as the shingle pipeline) — no Python in the hot path,
so every operator here survives the 100-TB fan-out unchanged.

Determinism contract (the driver's DuckDB oracle reproduces every output
bit): counts are integers, fractions are integer-ratio comparisons or
round-half-up to 1e-6 (the repo-wide convention, driver_queries.py:9-18),
and thresshold decisions use cross-multiplied integer comparisons so no
cross-engine float drift can flip a keep/drop verdict.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# round-half-up to 1e-6 — identical in Spark and DuckDB (floor on a
# per-row double is IEEE-deterministic)
def _frac6(num: Column, den: Column) -> Column:
    return F.when(den == 0, F.lit(0.0)).otherwise(
        F.floor(num.cast("double") / den.cast("double") * 1e6 + F.lit(0.5)) / 1e6
    )


# token = one CJK codepoint OR a maximal non-space non-CJK run. On
# space-separated text this is exactly whitespace tokenization; on CJK
# text (no word delimiters) each codepoint is its own token — the same
# script dispatch the shingle pipeline applies (functions/hashing.py CJK
# codepoint-domain shingles). Leftmost-first alternation, identical in
# Java regex and RE2.
TOKEN_RE = r"[一-龥]|[^\s一-龥]+"


def word_arrays(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, ws) — ordered token array per doc (TOKEN_RE, codegen)."""
    return docs.select(
        "doc_id",
        F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_RE), 0).alias("ws"),
    )


def repetition_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition statistics per document.

    Rahman et al. "Scaling Language Models" (Gopher) filter on the mass of
    the most frequent n-grams; the reference's analyzer does the byte-level
    analog (analyzer.c dispatches on byte-class histograms). Emitted per
    doc: word totals, distinct counts, the most-frequent-word and
    most-frequent-bigram mass, and their 1e-6-rounded fractions.

    Shape: explode -> groupBy(doc_id, token) -> groupBy(doc_id) — two
    shuffles on (doc_id, token) / doc_id, partial-aggregated map-side;
    the full text never shuffles. Scale-safe at 10^12 docs.
    """
    ws = word_arrays(docs, text_col)
    # per-(doc, word) counts -> per-doc totals
    wc = (
        ws.select("doc_id", F.explode("ws").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    per_word = wc.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct_words"),
        F.max("cnt").alias("top_word_cnt"),
    )
    # word bigrams (ordered): guard size<2 — Spark sequence(0,-1) would
    # generate a DESCENDING sequence, not an empty one
    bg = ws.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(ws) >= 2 THEN"
                " transform(sequence(0, size(ws) - 2),"
                "           i -> concat(ws[i], ' ', ws[i+1]))"
                " ELSE array() END"
            )
        ).alias("b"),
    )
    per_bigram = (
        bg.groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            F.max("cnt").alias("top_bigram_cnt"),
        )
    )
    out = (
        docs.select("doc_id")
        .join(per_word, "doc_id", "left")
        .join(per_bigram, "doc_id", "left")
    )
    z = F.lit(0).cast("long")
    for c in ("n_words", "n_distinct_words", "top_word_cnt", "n_bigrams",
              "top_bigram_cnt"):
        out = out.withColumn(c, F.coalesce(F.col(c), z))
    return out.select(
        "doc_id",
        "n_words",
        "n_distinct_words",
        (F.col("n_words") - F.col("n_distinct_words")).alias("dup_word_cnt"),
        "top_word_cnt",
        _frac6(F.col("top_word_cnt"), F.col("n_words")).alias("top_word_frac"),
        "n_bigrams",
        "top_bigram_cnt",
        _frac6(F.col("top_bigram_cnt"), F.col("n_bigrams")).alias(
            "top_bigram_frac"
        ),
    )


# PII patterns — deliberately restricted to syntax with identical semantics
# in Java regex (Spark) and RE2 (DuckDB): char classes, bounded repeats,
# \b word boundaries; no backrefs, no lookaround.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}"
IP_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def pii_counts(text: Column) -> list[Column]:
    """(n_emails, n_phones, n_ips) — JVM regexp_count columns."""
    return [
        F.regexp_count(text, F.lit(EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(text, F.lit(PHONE_RE)).cast("long").alias("n_phones"),
        F.regexp_count(text, F.lit(IP_RE)).cast("long").alias("n_ips"),
    ]


def pii_redact(text: Column) -> Column:
    """C4-style scrub: emails -> <EMAIL>, then phones -> <PHONE>, then
    IPs -> <IP>. Order matters (phone digits could otherwise feed the IP
    pattern); replacement strings contain no metacharacters in either
    engine. All-JVM regexp_replace — codegen, no Python."""
    r = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    r = F.regexp_replace(r, PHONE_RE, "<PHONE>")
    return F.regexp_replace(r, IP_RE, "<IP>")


# URL canonicalization — the tier-0 dedup key. v1 scope (documented, pinned):
# lowercase; drop http(s) scheme; drop leading www.; drop a query string
# composed entirely of tracking params (utm_*/ref/fbclid/gclid); drop a
# trailing slash. No group backrefs in replacements (Spark uses $1, DuckDB
# \1 — avoided entirely so one pattern set serves both engines).
_TRACKING_Q = (
    r"\?((utm_[a-z]+|ref|fbclid|gclid)=[^&#]*&?)+$"
)


def normalize_url(url: Column) -> Column:
    u = F.lower(url)
    u = F.regexp_replace(u, r"^https?://", "")
    u = F.regexp_replace(u, r"^www\.", "")
    u = F.regexp_replace(u, _TRACKING_Q, "")
    return F.regexp_replace(u, r"/$", "")


# DuckDB twins of the same steps (regexp_replace needs the 'g' flag there;
# single-anchored patterns still get it for safety parity)
NORMALIZE_URL_SQL = (
    "regexp_replace(regexp_replace(regexp_replace(regexp_replace("
    "lower({u}),"
    " '^https?://', '', 'g'),"
    " '^www\\.', '', 'g'),"
    " '\\?((utm_[a-z]+|ref|fbclid|gclid)=[^&#]*&?)+$', '', 'g'),"
    " '/$', '', 'g')"
)


def url_dedup(pages: DataFrame, url_col: str = "url") -> DataFrame:
    """Tier-0 dedup: canonical-URL groups with earliest-doc representative.

    The cheapest dedup tier — a pure-string shuffle on the canonical key,
    no content read. Input needs (doc_id, url)."""
    canon = pages.select(
        "doc_id", normalize_url(F.col(url_col)).alias("canon_url")
    )
    groups = canon.groupBy("canon_url").agg(
        F.min("doc_id").alias("url_rep"),
        F.count(F.lit(1)).alias("n_variants"),
    )
    return canon.join(groups, "canon_url").select(
        "doc_id", "canon_url", "url_rep", "n_variants"
    )


# quality-gate thresholds (documents-table calibration: n_words 10-99,
# distinct/total 0.28-1.0, top_word_frac 0.05-0.30 at sf0.01 — each rule
# fires on a real slice). Integer cross-multiplication only.
GATE_MIN_WORDS = 15           # n_words < 15                -> too_short
GATE_DUP_NUM, GATE_DUP_DEN = 11, 20    # dup_word_cnt/n_words > 0.55 -> repetitive
GATE_TOP_NUM, GATE_TOP_DEN = 1, 6      # top_word_cnt/n_words > 1/6  -> top_word


def curation_gate_pages(pages: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Apply the keep/drop gate to a PAGES frame (url/text/... schema):
    returns (kept_pages, drop_log(reason, n)). `jobs/run_dedup.py --mode
    curate` runs it as its own step ahead of dedup — curating before
    sketching is the order a training-data pipeline wants (no
    sketch budget spent on rejected docs), and drops are logged by
    reason, never silent (the repo-wide cap/drop discipline).

    Duplicate-url rows are dropped FIRST (deterministically: lowest
    sha256(text) wins — the add_batch row_number pattern): doc_id =
    xxhash64(url) collapses same-url rows to one id, so letting both
    reach repetition_stats would merge two texts' token counts into one
    verdict that then fans out to both rows. The dropped copies are
    logged under reason `dup_url`."""
    from pyspark.sql import Window

    d = pages.withColumn("doc_id", F.xxhash64("url"))
    w = Window.partitionBy("doc_id").orderBy(F.sha2(F.col("text"), 256))
    d = d.withColumn("_rn", F.row_number().over(w))
    dup_log = (
        d.filter(F.col("_rn") > 1)
        .groupBy(F.lit("dup_url").alias("reason"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    d = d.filter(F.col("_rn") == 1).drop("_rn")
    g = quality_gate(d)
    j = d.join(g.select("doc_id", "keep", "reason"), "doc_id")
    kept = j.filter(F.col("keep") == 1).drop("doc_id", "keep", "reason")
    log = g.groupBy("reason").agg(F.count(F.lit(1)).alias("n")).unionByName(
        dup_log
    )
    return kept, log


def quality_gate(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite keep/drop verdict with the FIRST failing rule as reason.

    Rules (in order): too_short, repetitive (dup-word mass), top_word
    (single-token domination). All comparisons are integer
    cross-multiplications — bit-identical across engines by construction.
    """
    r = repetition_stats(docs, text_col)
    reason = (
        F.when(F.col("n_words") < GATE_MIN_WORDS, F.lit("too_short"))
        .when(
            F.col("dup_word_cnt") * GATE_DUP_DEN
            > F.col("n_words") * GATE_DUP_NUM,
            F.lit("repetitive"),
        )
        .when(
            F.col("top_word_cnt") * GATE_TOP_DEN
            > F.col("n_words") * GATE_TOP_NUM,
            F.lit("top_word"),
        )
        .otherwise(F.lit("ok"))
    )
    return r.select(
        "doc_id",
        "n_words",
        "dup_word_cnt",
        "top_word_cnt",
        reason.alias("reason"),
    ).withColumn("keep", (F.col("reason") == "ok").cast("int"))


# host = authority of the url minus userinfo and port, lowercased.
# Leftmost match after an optional scheme:// prefix; the character class
# is RE2/Java-identical (no lookarounds, no backrefs). Schemeless urls
# ("example.com/x") resolve their leading segment as the host, matching
# normalize_url's scheme-stripping convention above.
_HOST_RE = r"^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/?#@]*@)?([^/?#:]+)"
HOST_SQL = (
    "lower(regexp_extract({u},"
    " '^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/?#@]*@)?([^/?#:]+)', 1))"
)


def url_host(url: Column) -> Column:
    """Registrable host of a url (lowercased; userinfo/port stripped)."""
    return F.lower(F.regexp_extract(url, _HOST_RE, 1))


# stage-1 salt width for the two-stage per-host top-k. 16 bounds the
# widest stage-1 window to ~1/16 of the hottest host while keeping the
# stage-2 input at <= 16*k rows per host.
_QUOTA_SALT = 16


def domain_quota(
    pages: DataFrame,
    k: int,
    url_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """Per-domain document quota: keep at most k docs per host, longest
    text first (ties to min doc_id). Emits the kept rows only:

      (host, doc_id, rnk)   with rnk in 1..k per host

    This is the reference's bounded-index discipline
    (rabin/global/index.c:539-547 evicts within a slot under a cap)
    applied at the domain tier — a crawl frontier cap that stops one
    mega-host from dominating the training mix.

    EXACT two-stage top-k (the skew defense): a single
    row_number-per-host window would funnel a 10^6-page host into one
    task. Stage 1 ranks within (host, pmod(doc_id, 16)) — 16 bounded
    windows per host — and keeps each salt-group's top k; any true
    host-top-k row is necessarily in its salt-group's top k, so no
    survivor is lost. Stage 2 re-ranks the <= 16k survivors per host in
    one bounded window and keeps the true top k. Both orderings are
    (length(text) desc, doc_id asc) — deterministic ties on both
    engines."""
    from pyspark.sql import Window

    d = pages.select(
        url_host(F.col(url_col)).alias("host"),
        "doc_id",
        F.length(F.col(text_col)).alias("_len"),
    )
    order = [F.col("_len").desc(), F.col("doc_id").asc()]
    w1 = Window.partitionBy(
        "host", F.pmod(F.col("doc_id"), F.lit(_QUOTA_SALT))
    ).orderBy(*order)
    survivors = d.withColumn("_r1", F.row_number().over(w1)).filter(
        F.col("_r1") <= int(k)
    )
    w2 = Window.partitionBy("host").orderBy(*order)
    return (
        survivors.withColumn("rnk", F.row_number().over(w2).cast("int"))
        .filter(F.col("rnk") <= int(k))
        .select("host", "doc_id", "rnk")
    )


# mojibake repair table: the classic UTF-8-bytes-read-as-Windows-1252
# sequences (ftfy's most common fixes, reduced to a fixed deterministic
# list — no charset detection, so both engines apply the identical
# rewrite). Multi-byte punctuation sequences first; no entry is a prefix
# of a later entry's search key.
MOJIBAKE = [
    ("â€™", "’"),   # â€™ -> ’
    ("â€˜", "‘"),   # â€˜ -> ‘
    ("â€œ", "“"),   # â€œ -> “
    ("â€", "”"),        # â€<9d> -> ” (9d is a C1 control)
    ("â€“", "–"),   # â€“ -> –
    ("â€”", "—"),   # â€” -> —
    ("â€¦", "…"),   # â€¦ -> …
    ("Ã©", "é"),         # Ã© -> é
    ("Ã¨", "è"),         # Ã¨ -> è
    ("Ã¡", "á"),         # Ã¡ -> á
    ("Ã³", "ó"),         # Ã³ -> ó
    ("Ãº", "ú"),         # Ãº -> ú
    ("Ã±", "ñ"),         # Ã± -> ñ
    ("Ã¤", "ä"),         # Ã¤ -> ä
    ("Ã¶", "ö"),         # Ã¶ -> ö
    ("Ã¼", "ü"),         # Ã¼ -> ü
    ("ÃŸ", "ß"),         # ÃŸ -> ß
    ("Â«", "«"),         # Â« -> «
    ("Â»", "»"),         # Â» -> »
    ("Â ", " "),              # Â<nbsp> -> space
    (" ", " "),                    # bare nbsp -> space
]

# control chars to strip: C0 minus \t (09) and \n (0a); \r is rewritten
# to \n BEFORE this class applies, and DEL (7f).
_CTRL_RE = "[\\x00-\\x08\\x0b-\\x1f\\x7f]"


def normalize_text(text: Column) -> Column:
    """Deterministic text normalization (the ftfy/clean-text curation
    stage, reduced to engine-exact codegen): newline canonicalization
    (\\r\\n|\\r -> \\n), C0/DEL control-char strip, fixed-table mojibake
    repair, horizontal-whitespace collapse, whitespace trim around
    newlines, blank-run collapse (3+ newlines -> 2), outer trim.

    Reference analog: the per-type content filters normalize input before
    dedup sees it (preproc_compress pcompress.c:207-402); here the filter
    is textual and the invariant is the same — dedup keys are computed
    over the NORMALIZED form so byte-level noise can't split a cluster.
    All steps are plain replaces / RE2-and-Java-identical regexes; no
    Python, no locale, no unicode tables."""
    x = F.regexp_replace(text, "\\r\\n?", "\n")
    x = F.regexp_replace(x, _CTRL_RE, "")
    for bad, good in MOJIBAKE:
        x = F.replace(x, F.lit(bad), F.lit(good))
    x = F.regexp_replace(x, "[ \\t]+", " ")
    x = F.regexp_replace(x, " ?\\n ?", "\n")
    x = F.regexp_replace(x, "\\n{3,}", "\n\n")
    return F.trim(x)


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def normalize_text_sql(expr: str) -> str:
    """DuckDB twin of normalize_text: the same step chain wrapped around
    `expr` (regexp_replace needs the 'g' flag there; replace() is global
    in both engines). Kept beside the op so the chains stay in sync."""
    x = f"regexp_replace({expr}, '\\r\\n?', chr(10), 'g')"
    x = f"regexp_replace({x}, '{_CTRL_RE}', '', 'g')"
    for bad, good in MOJIBAKE:
        x = f"replace({x}, {_sql_quote(bad)}, {_sql_quote(good)})"
    x = f"regexp_replace({x}, '[ \\t]+', ' ', 'g')"
    x = f"regexp_replace({x}, ' ?\\n ?', chr(10), 'g')"
    x = f"regexp_replace({x}, '\\n{{3,}}', chr(10) || chr(10), 'g')"
    return f"trim({x})"
