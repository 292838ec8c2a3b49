"""Webtext curation tier: repetition stats, PII scrub, URL dedup, gate.

Covers the exact arithmetic the driver oracle certifies (known-answer
values on constructed docs), the edge cases the oracle corpus cannot hit
(empty text, single word, exact-dup tier, partial URL groups), and the
pinned v1 scope of the URL normalizer.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from pcompress_spark.analysis import webtext as WT  # noqa: E402


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _by_id(df):
    return {r["doc_id"]: r.asDict() for r in df.collect()}


def test_repetition_stats_known_answers(spark):
    rows = [
        (1, "a a b"),            # words 3, distinct 2, bigrams: "a a","a b"
        (2, ""),                 # empty -> all zeros
        (3, "solo"),             # one word -> no bigrams
        (4, "x x x x"),          # fully repetitive
        (5, "  padded   ws \t"),  # whitespace runs collapse
    ]
    out = _by_id(WT.repetition_stats(_docs(spark, rows)))
    r1 = out[1]
    assert (r1["n_words"], r1["n_distinct_words"], r1["dup_word_cnt"]) == (3, 2, 1)
    assert (r1["top_word_cnt"], r1["n_bigrams"], r1["top_bigram_cnt"]) == (2, 2, 1)
    assert r1["top_word_frac"] == 0.666667  # floor(2/3*1e6+0.5)/1e6
    r2 = out[2]
    assert r2["n_words"] == 0 and r2["top_word_frac"] == 0.0
    assert r2["n_bigrams"] == 0 and r2["top_bigram_frac"] == 0.0
    r3 = out[3]
    assert (r3["n_words"], r3["n_bigrams"]) == (1, 0)
    r4 = out[4]
    assert r4["top_word_frac"] == 1.0 and r4["top_bigram_frac"] == 1.0
    assert r4["dup_word_cnt"] == 3
    assert out[5]["n_words"] == 2


def test_quality_gate_reasons(spark):
    ok_text = " ".join(f"w{i}" for i in range(20))
    rows = [
        (1, ok_text),                          # ok
        (2, "just a few words here"),          # too_short (<15)
        # 21 words, dup mass 12/21 > 0.55 -> repetitive fires before top_word
        (3, " ".join(["dup"] * 13 + [f"u{i}" for i in range(8)])),
        # 21 words, top word 6/21 > 1/6, dup 5/21 < 0.55
        (4, " ".join(["t"] * 6 + [f"v{i}" for i in range(15)])),    # top_word
    ]
    out = _by_id(WT.quality_gate(_docs(spark, rows)))
    assert out[1]["reason"] == "ok" and out[1]["keep"] == 1
    assert out[2]["reason"] == "too_short"
    assert out[3]["reason"] == "repetitive" and out[3]["keep"] == 0
    assert out[4]["reason"] == "top_word"


def test_pii_redact_and_counts(spark):
    rows = [
        (1, "mail me at jo.doe+x@sub.example.org or call +44-201-5550 now"),
        (2, "server at 192.168.10.7 fell over"),
        (3, "no pii here at all"),
        (4, "two mails a@b.co c@d.io and 10.0.0.1 8.8.8.8"),
    ]
    d = _docs(spark, rows)
    out = _by_id(
        d.select(
            "doc_id",
            *WT.pii_counts(F.col("text")),
            WT.pii_redact(F.col("text")).alias("red"),
        )
    )
    assert out[1]["n_emails"] == 1 and out[1]["n_phones"] == 1
    assert out[1]["red"] == "mail me at <EMAIL> or call <PHONE> now"
    assert out[2]["n_ips"] == 1 and "<IP>" in out[2]["red"]
    assert out[3] == {"doc_id": 3, "n_emails": 0, "n_phones": 0, "n_ips": 0,
                      "red": "no pii here at all"}
    assert out[4]["n_emails"] == 2 and out[4]["n_ips"] == 2
    assert out[4]["red"] == "two mails <EMAIL> <EMAIL> and <IP> <IP>"


def test_normalize_url_pinned_v1_scope(spark):
    cases = [
        # (raw, canonical)
        ("https://example.com/a", "example.com/a"),
        ("HTTP://WWW.EXAMPLE.COM/A/", "example.com/a"),
        ("http://example.com/a?utm_source=x", "example.com/a"),
        ("http://example.com/a?utm_source=x&ref=rss&gclid=1", "example.com/a"),
        # real query params survive (v1 drops only all-tracking queries)
        ("http://example.com/a?page=2", "example.com/a?page=2"),
        ("http://example.com/a?page=2&utm_source=x", "example.com/a?page=2&utm_source=x"),
        # www only stripped as a leading label; scheme only at the front
        ("https://notwww.example.com/b", "notwww.example.com/b"),
        ("example.com/plain", "example.com/plain"),
    ]
    df = spark.createDataFrame([(i, c[0]) for i, c in enumerate(cases)],
                               "i long, url string")
    got = {r["i"]: r["c"] for r in
           df.select("i", WT.normalize_url(F.col("url")).alias("c")).collect()}
    for i, (_raw, want) in enumerate(cases):
        assert got[i] == want, (cases[i], got[i])


def test_url_dedup_partial_groups(spark):
    rows = [
        (10, "https://example.com/x"),
        (11, "HTTPS://WWW.example.com/x/"),
        (12, "http://example.com/x?utm_source=a"),
        (20, "https://other.org/y"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = _by_id(WT.url_dedup(df))
    assert out[10]["canon_url"] == out[11]["canon_url"] == out[12]["canon_url"]
    assert out[11]["url_rep"] == 10 and out[11]["n_variants"] == 3
    assert out[20]["n_variants"] == 1 and out[20]["url_rep"] == 20


def test_dedup_tiers_exact_and_near(spark, tmp_path):
    """Plant an exact dup (missing from the oracle corpus) and a near dup;
    run the driver-contract query end-to-end over a temp sf_dir."""
    from pcompress_spark.driver_queries import q_dedup_tiers

    base = ("the quick brown fox jumps over the lazy dog while the band "
            "plays on and the crowd waves along the riverbank at dusk "
            "under a violet sky that slowly fades to black tonight")
    near = base.replace("violet", "purple")
    rows = [(0, base, "en", "s", len(base)),
            (1, base, "en", "s", len(base)),        # exact dup of 0
            (2, near, "en", "s", len(near)),        # near dup of 0
            (3, "a completely different text about spark shuffle plans "
                "partitioning strategies and broadcast joins at scale "
                "with adaptive execution enabled for skewed key relief",
             "en", "s", 150)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf_dir = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")
    out = _by_id(q_dedup_tiers(spark, sf_dir))
    assert out[0]["tier"] == "unique" and out[0]["rep_id"] == 0
    assert out[1]["tier"] == "exact" and out[1]["rep_id"] == 0
    assert out[2]["tier"] == "near" and out[2]["rep_id"] == 0
    assert out[3]["tier"] == "unique"


def test_repetition_cjk_codepoint_tokens(spark):
    """CJK text has no word delimiters: each codepoint is a token (the
    same script dispatch as the shingle pipeline), so the repetition and
    gate statistics stay meaningful for zh docs instead of collapsing to
    one giant 'word'."""
    zh = "春眠不觉晓处处闻啼鸟夜来风雨声花落知多少" * 2  # 40 cp, each repeated 2x
    mixed = "spark 任务 runs on 任务 clusters"
    out = _by_id(WT.repetition_stats(_docs(spark, [(1, zh), (2, mixed)])))
    r1 = out[1]
    assert r1["n_words"] == 40
    assert r1["n_distinct_words"] == 19  # 处 and 多... distinct cp count
    r2 = out[2]
    # tokens: spark, 任, 务, runs, on, 任, 务, clusters -> 8 total, 6 distinct
    assert r2["n_words"] == 8
    assert r2["n_distinct_words"] == 6
    assert r2["top_word_cnt"] == 2


def test_curation_gate_dedups_same_url(spark):
    """Two rows with the same url collapse to one doc_id = xxhash64(url);
    the gate must verdict exactly ONE of them (deterministically: lowest
    sha256(text)) instead of merging both texts' token counts into a
    combined verdict that fans back out to both rows (r3 ADVICE). The
    dropped copy lands in the log under `dup_url`."""
    good = " ".join(f"tok{i} word{i * 7 % 31}" for i in range(30))
    # each copy alone passes the gate; merged counts would make n_words=60
    # with every word duplicated once -> dup fraction 0.5 (still passes)
    # BUT two identical copies of a repetitive-if-merged doc is the sharp
    # case: each alone is 'ok', merged would be 'repetitive'
    half = " ".join(f"w{i}" for i in range(20))
    rows = [
        ("u://dup", half, "en"),
        ("u://dup", half + " tailword", "en"),  # same url, different text
        ("u://solo", good, "en"),
    ]
    pages = spark.createDataFrame(rows, "url string, text string, lang string")
    kept, log = WT.curation_gate_pages(pages)
    kept_rows = kept.collect()
    # exactly one row survives per url
    assert sorted(r["url"] for r in kept_rows) == ["u://dup", "u://solo"]
    # deterministic pick: the kept u://dup text is the min-sha one
    import hashlib

    sha = {t: hashlib.sha256(t.encode()).hexdigest()
           for t in (half, half + " tailword")}
    want = min(sha, key=lambda t: sha[t])
    assert next(r["text"] for r in kept_rows if r["url"] == "u://dup") == want
    logd = {r["reason"]: r["n"] for r in log.collect()}
    assert logd.get("dup_url") == 1 and logd.get("ok") == 2


def test_url_host_extraction(spark):
    """Host extraction: scheme/userinfo/port/path stripped, lowercased;
    schemeless urls resolve their leading segment."""
    rows = [
        (1, "https://WWW.Example.COM/a/b?q=1"),
        (2, "http://user:pw@site.org:8080/x"),
        (3, "example.net/path"),
        (4, "ftp://files.example.io"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {
        r.doc_id: r.host
        for r in df.select("doc_id", WT.url_host(F.col("url")).alias("host"))
        .collect()
    }
    assert got == {
        1: "www.example.com", 2: "site.org", 3: "example.net",
        4: "files.example.io",
    }


def _quota_pages(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, url string, text string")


def test_domain_quota_hot_host_matches_naive(spark):
    """A 200-doc hot host + sparse hosts: the two-stage top-k returns
    EXACTLY the naive single-window answer (longest first, ties to min
    doc_id)."""
    from pyspark.sql import Window

    rows = [(i, "https://hot.com/p/%d" % i, "x " * (i % 23 + 1))
            for i in range(200)]
    rows += [(1000 + i, "https://cold%d.org/p" % i, "y " * 5)
             for i in range(10)]
    pages = _quota_pages(spark, rows)
    got = sorted((r.host, r.doc_id, r.rnk)
                 for r in WT.domain_quota(pages, k=7).collect())
    naive_w = Window.partitionBy("host").orderBy(
        F.length("text").desc(), F.col("doc_id").asc()
    )
    naive = sorted(
        (r.host, r.doc_id, r.rnk)
        for r in pages.select(
            WT.url_host(F.col("url")).alias("host"), "doc_id", "text"
        )
        .withColumn("rnk", F.row_number().over(naive_w).cast("int"))
        .filter(F.col("rnk") <= 7)
        .collect()
    )
    assert got == naive
    assert sum(1 for h, _, _ in got if h == "hot.com") == 7


def test_domain_quota_tie_break_min_doc_id(spark):
    """Equal lengths: rank order is doc_id asc (deterministic)."""
    rows = [(d, "https://t.com/%d" % d, "same len") for d in (9, 3, 7)]
    got = sorted(
        (r.doc_id, r.rnk)
        for r in WT.domain_quota(_quota_pages(spark, rows), k=2).collect()
    )
    assert got == [(3, 1), (7, 2)]


def test_domain_quota_k_exceeds_host_size(spark):
    """k larger than a host's doc count keeps every doc, ranked."""
    rows = [(1, "https://s.com/a", "aa"), (2, "https://s.com/b", "bbbb")]
    got = {(r.doc_id, r.rnk)
           for r in WT.domain_quota(_quota_pages(spark, rows), k=10).collect()}
    assert got == {(2, 1), (1, 2)}


def test_normalize_text_known_answers(spark):
    """Mojibake repair + control strip + whitespace canon, hand-checked."""
    rows = [
        (1, "cafÃ©\x07 rÃ¨gle"),              # mojibake + BEL
        (2, "a\r\nb\rc"),                      # CRLF/CR -> LF
        (3, "x  \t y"),                        # tab/space runs
        (4, "p\n\n\n\nq"),                     # blank-run collapse
        (5, "  said â€œhiâ€¦â€\x9d ok  "),   # quotes/ellipsis + C1 strip
        (6, "keep\nplain text"),               # already clean
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.norm
        for r in df.select(
            "doc_id", WT.normalize_text(F.col("text")).alias("norm")
        ).collect()
    }
    assert got[1] == "café règle"
    assert got[2] == "a\nb\nc"
    assert got[3] == "x y"
    assert got[4] == "p\n\nq"
    assert got[5] == "said “hi…” ok"  # â€<9d> -> ” via the 9d table entry
    assert got[6] == "keep\nplain text"


def test_normalize_text_sql_twin_matches(spark):
    """The generated DuckDB chain produces byte-identical output to the
    Spark op on an adversarial sample (the driver-oracle contract)."""
    import duckdb

    import random

    frags = [
        "Ã©", "Ã", "©", "â€", "â€œ", "â€\x9d", "â€”", "Â«", "Â", "\xa0",
        "Â\xa0", " ", "  ", "\t", "\r\n", "\r", "\n", "\n\n\n", "\x07",
        "\x1f", "\x7f", "word", "ÃŸ", "€", "â", "…", "â€¦",
    ]
    rng = random.Random(42)   # deterministic fuzz corpus
    rows = [
        (1, "cafÃ©\x07\tâ€” x\r\ny  z\n\n\n\nend Â« quoted Â»"),
        (2, "plain"),
        (3, ""),
    ] + [
        (10 + i, "".join(rng.choice(frags) for _ in range(rng.randint(0, 30))))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.norm
        for r in df.select(
            "doc_id", WT.normalize_text(F.col("text")).alias("norm")
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t (doc_id BIGINT, text VARCHAR)"
    )
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    sql = f"SELECT doc_id, {WT.normalize_text_sql('text')} AS norm FROM t"
    want = {int(a): b for a, b in con.execute(sql).fetchall()}
    assert got == want
