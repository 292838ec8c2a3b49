"""Text-processing column builders: extraction, quality, lang-id, tokens.

`extract_text` is the analog of the reference's per-type content filters
(preproc_compress, pcompress.c:207-402; analyzer.c:32-97): a typed
transformation from raw fetched bytes to the normalized text column, with a
hard per-row invariant — byte-identical output per url (BASELINE.json).

Everything else here is JVM-side column expressions (whole-stage codegen) —
no Python in the hot path. These are the training-data-pipeline text ops:
quality scoring, language ID heuristic, token counting, fingerprinting.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

@F.pandas_udf(T.StringType())
def extract_text(html: pd.Series) -> pd.Series:
    """html binary -> extracted text. MUST be byte-identical per url.

    Delegates to the PINNED extraction algorithm v1
    (functions/extraction.py): comment/boilerplate-element removal,
    inline-vs-block tag stripping, HTML5 entity decoding, whitespace
    normalization — a real extractor (handles nested markup, attributes,
    entities), not a template regex. Compiled-regex bodies keep the per-doc
    cost C-speed inside the Arrow batch.
    """
    from pcompress_spark.functions.extraction import extract_text_v1

    return html.apply(extract_text_v1)


def token_count(text: Column) -> Column:
    """Whitespace token count — JVM-side."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


def punct_ratio(text: Column) -> Column:
    n = F.length(text)
    p = F.regexp_count(text, F.lit(r"[\.,;:!\?]"))
    return F.when(n == 0, F.lit(0.0)).otherwise(p.cast("double") / n.cast("double"))


def quality_score(text: Column) -> Column:
    """Cheap quality heuristic in [0,1]: length band + word-length sanity +
    punctuation presence. All codegen'd column math (analyzer.c analog)."""
    n = F.length(text).cast("double")
    ntok = token_count(text).cast("double")
    avg_word = F.when(ntok > 0, n / ntok).otherwise(F.lit(0.0))
    len_ok = F.when((n >= 200) & (n <= 50000), F.lit(1.0)).otherwise(F.lit(0.3))
    word_ok = F.when((avg_word >= 3) & (avg_word <= 12), F.lit(1.0)).otherwise(
        F.lit(0.4)
    )
    punct = punct_ratio(text)
    punct_ok = F.when((punct > 0.001) & (punct < 0.2), F.lit(1.0)).otherwise(
        F.lit(0.5)
    )
    return (len_ok * 0.4 + word_ok * 0.3 + punct_ok * 0.3).alias("quality")


def lang_guess(text: Column) -> Column:
    """n-gram-free language ID heuristic — pure SQL CASE over char classes.

    CJK chars -> zh; umlaut density -> de; accent density -> fr; else en.
    Deliberately expressible in ANSI SQL so the DuckDB oracle can replicate
    it exactly (driver correctness gate).
    """
    n = F.length(text).cast("double")
    cjk = F.regexp_count(text, F.lit(r"[一-龥]")).cast("double")
    de_hits = F.regexp_count(text, F.lit("(sch|ung|ein|der|zeit|und)")).cast("double")
    fr_hits = F.regexp_count(text, F.lit("(eau|oir|eux|ille|vous|mont)")).cast("double")
    return (
        F.when(n == 0, F.lit("und"))
        .when(cjk / n > 0.25, F.lit("zh"))
        .when((de_hits / n > 0.01) & (de_hits > fr_hits), F.lit("de"))
        .when(fr_hits / n > 0.01, F.lit("fr"))
        .otherwise(F.lit("en"))
    )


def doc_fingerprint(text: Column) -> Column:
    """64-bit rolling content fingerprint — JVM xxhash64 of the text.

    The cheap whole-doc identity key (reference: XXH-based block
    similarity_hash, rabin_dedup.c:705)."""
    return F.xxhash64(text)
