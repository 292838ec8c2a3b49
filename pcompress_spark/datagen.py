"""Deterministic synthetic `pages` generator (FIXTURES.md §1).

Mirrors the reference's dedup test-data pattern — a random base block
replicated with unique sections interleaved
(/root/reference/test/integration/test_dedup.sh:36-48) — at document
granularity. Every doc is a pure function of (seed, index): generation is
embarrassingly parallel and byte-identical across runs, partitionings, and
cluster sizes, which is what lets the bench generate 100k+ docs with
`mapInPandas` over a `spark.range` without any driver-side state.

Planted classes per block of 1000 docs (FIXTURES.md):
  [0,550)    unique       — independent random paragraphs
  [550,700)  exact dup    — byte-copy of a base doc, new url
  [700,850)  near-dup hi  — contiguous ~5-10%% token span replaced (J >= 0.6)
  [850,920)  near-dup lo  — contiguous ~30-45%% span replaced (J in [0.4,0.6));
                            every 3rd chains off the previous near-lo doc
                            (a~b~c with a !~ c — transitive-CC test)
  [920,970)  substring    — unique doc embedding a >=2048-char verbatim span
                            of a base doc (suffix/winnowing channel)
  [970,1000) boilerplate  — small unique head + a large globally-shared
                            nav/footer block (hot-LSH-band skew test; forms
                            one giant cluster since pairwise J ~ 0.6)
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd


SEED = 42
BLOCK = 1000
# class boundaries within a block
_UNIQ_END, _EXACT_END, _NEARHI_END, _NEARLO_END, _SUBSTR_END = 550, 700, 850, 920, 970

_EPOCH = datetime(2025, 1, 1, tzinfo=timezone.utc)

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"

_LANGS = ("en", "de", "fr", "zh")

# inline wrappers exercised by the extraction invariant (stripped with no
# separator by extraction.py v1 — mid-token markup must not split words)
_INLINE_WRAPS = (
    ("<b>", "</b>"),
    ("<em>", "</em>"),
    ('<span class="w">', "</span>"),
    ("<strong>", "</strong>"),
    ('<a href="#x">', "</a>"),
    ("<code>", "</code>"),
)


def _mix(*vals: int) -> int:
    """Deterministic 64-bit mix of ints — seeds per-doc RNG streams."""
    x = 0x9E3779B97F4A7C15
    for v in vals:
        x ^= (v + 0x9E3779B97F4A7C15 + (x << 6) + (x >> 2)) & 0xFFFFFFFFFFFFFFFF
        x &= 0xFFFFFFFFFFFFFFFF
    return x


def _rng(*vals: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64(_mix(SEED, *vals)))


def _make_pool(lang: str, size: int = 2400) -> np.ndarray:
    # NB: never python hash() here — it is salted per process (PYTHONHASHSEED)
    lang_key = int.from_bytes(lang.encode("utf-8"), "little")
    rng = _rng(lang_key, 7)
    if lang == "zh":
        cps = rng.integers(0x4E00, 0x9FA5, size=(size, 3))
        words = ["".join(chr(c) for c in row[: 1 + row[0] % 3]) for row in cps]
    else:
        syll = {
            "en": ["an", "ter", "ing", "con", "re", "ment", "sta", "pro", "dis",
                   "ed", "ly", "tion", "al", "ver", "no", "ble", "ful", "ex"],
            "de": ["ge", "schaft", "ung", "ver", "ein", "lich", "heit", "zu",
                   "auf", "der", "ster", "chen", "wirt", "bau", "zeit", "land"],
            "fr": ["le", "mont", "eur", "tion", "ette", "eau", "che", "pre",
                   "vous", "ment", "ille", "oir", "age", "eux", "ard", "con"],
        }[lang]
        idx = rng.integers(0, len(syll), size=(size, 4))
        nsyl = rng.integers(2, 5, size=size)
        words = ["".join(syll[j] for j in idx[i, : nsyl[i]]) for i in range(size)]
    return np.array(words, dtype=object)


_POOLS: dict[str, np.ndarray] = {}


def _pool(lang: str) -> np.ndarray:
    if lang not in _POOLS:
        _POOLS[lang] = _make_pool(lang)
    return _POOLS[lang]


_BOILER: list[str] | None = None


def _boiler_tokens() -> list[str]:
    """Globally shared nav/footer block, ~600 tokens (pure fn of SEED)."""
    global _BOILER
    if _BOILER is None:
        rng = _rng(0xB01E)
        pool = _pool("en")
        _BOILER = list(pool[rng.integers(0, pool.size, size=600)])
    return _BOILER


def _unique_tokens(i: int, lang: str, nmin: int, nmax: int) -> list[str]:
    rng = _rng(i, 1)
    n = int(rng.integers(nmin, nmax))
    pool = _pool(lang)
    toks = list(pool[rng.integers(0, pool.size, size=n)])
    # sprinkle sentence punctuation for the text-quality functions
    for j in range(9, n, 10):
        toks[j] = toks[j] + "."
    return toks


def _lang_of(i: int) -> str:
    r = _mix(i, 3) % 100
    if r < 84:
        return "en"
    if r < 92:
        return "de"
    if r < 98:
        return "fr"
    return "zh"


def _base_index(i: int) -> int:
    """Pick a deterministic base doc (a 'unique'-class doc in same block)."""
    block = i // BLOCK
    return block * BLOCK + (_mix(i, 5) % _UNIQ_END)


def _doc_class(i: int) -> str:
    local = i % BLOCK
    if local < _UNIQ_END:
        return "unique"
    if local < _EXACT_END:
        return "exact"
    if local < _NEARHI_END:
        return "near_hi"
    if local < _NEARLO_END:
        return "near_lo"
    if local < _SUBSTR_END:
        return "substring"
    return "boilerplate"


def _mutate(tokens: list[str], frac: float, i: int, lang: str) -> list[str]:
    """Replace one contiguous span of ~frac of the tokens with fresh words."""
    rng = _rng(i, 2)
    n = len(tokens)
    span = max(1, int(n * frac))
    start = int(rng.integers(0, max(1, n - span)))
    pool = _pool(lang)
    repl = list(pool[rng.integers(0, pool.size, size=span)])
    return tokens[:start] + repl + tokens[start + span :]


def gen_tokens(i: int) -> tuple[list[str], str]:
    """(tokens, lang) for doc index i — pure function, recursion bounded."""
    cls = _doc_class(i)
    if cls == "unique":
        lang = _lang_of(i)
        return _unique_tokens(i, lang, 450, 900), lang
    if cls == "boilerplate":
        lang = "en"
        head = _unique_tokens(i, lang, 150, 250)
        return head + _boiler_tokens(), lang
    b = _base_index(i)
    base_toks, lang = gen_tokens(b)
    if cls == "exact":
        return list(base_toks), lang
    if cls == "near_hi":
        frac = 0.05 + (_mix(i, 6) % 6) / 100.0  # 5-10%
        return _mutate(base_toks, frac, i, lang), lang
    if cls == "near_lo":
        local = i % BLOCK
        if (local - _NEARHI_END) % 3 == 2 and local - 1 >= _NEARHI_END:
            # chain: mutate the previous near_lo doc instead of a base
            prev_toks, lang = gen_tokens(i - 1)
            base_toks = prev_toks
        frac = 0.30 + (_mix(i, 6) % 16) / 100.0  # 30-45%
        return _mutate(base_toks, frac, i, lang), lang
    # substring: embed a >=2048-char verbatim span of base in a unique doc
    rng = _rng(i, 4)
    span_chars = 0
    k0 = int(rng.integers(0, max(1, len(base_toks) - 400)))
    k = k0
    while k < len(base_toks) and span_chars < 2300:
        span_chars += len(base_toks[k]) + 1
        k += 1
    span = base_toks[k0:k]
    own = _unique_tokens(i, lang, 250, 500)
    cut = len(own) // 2
    return own[:cut] + span + own[cut:], lang


def _render_html(i: int, tokens: list[str], lang: str, title: str) -> bytes:
    """Adversarial-but-invariant page markup: nested divs with attributes,
    inline tags inside the token stream, numeric character references,
    comments, plus script/style/header/nav/footer boilerplate — built so
    that `extraction.extract_text_v1(html) == " ".join(tokens)` exactly
    (the BASELINE.json byte-identity invariant). Pure function of
    (i, tokens, lang)."""
    rng = _rng(i, 9)
    n = len(tokens)
    inline_pick = rng.integers(0, 8, size=n)
    ent_pick = rng.integers(0, 16, size=n)
    toks: list[str] = []
    for j, t in enumerate(tokens):
        if ent_pick[j] == 0 and t:
            # first char as a decimal character reference (&#NNN;)
            t = f"&#{ord(t[0])};{t[1:]}"
        if inline_pick[j] == 0:
            o, c = _INLINE_WRAPS[j % len(_INLINE_WRAPS)]
            t = f"{o}{t}{c}"
        toks.append(t)
    paras: list[str] = []
    j = 0
    while j < n:
        k = int(rng.integers(20, 60))
        chunk = " ".join(toks[j : j + k])
        j += k
        style = int(rng.integers(0, 4))
        if style == 0:
            paras.append(f"<p>{chunk}</p>")
        elif style == 1:
            paras.append(
                f'<div class="sec s{j % 7}">\n  <p data-idx="{j}">{chunk}</p>\n</div>'
            )
        elif style == 2:
            paras.append(f"<blockquote>\n  {chunk}\n</blockquote>")
        else:
            paras.append(f"<p>{chunk}</p><!-- para {j} -->")
    body = "\n".join(paras)
    page = (
        f'<!DOCTYPE html><html lang="{lang}"><head><meta charset="utf-8">'
        f"<title>{title}</title><style>body{{margin:0;font:16px serif}}</style>"
        f"</head><body><header><h1>{title}</h1></header>"
        f"<nav>example.org corpus</nav>"
        f'<article id="main">\n{body}\n</article>'
        f"<footer>(c) example.org</footer>"
        f'<script type="text/javascript">var t="{i}"; if (1 < 2) {{ t = t; }}'
        f"</script></body></html>"
    )
    return page.encode("utf-8")


def gen_doc(i: int) -> dict:
    tokens, lang = gen_tokens(i)
    text = " ".join(tokens)
    block = i // BLOCK
    url = f"https://{lang}.example.org/{block:04d}/{i:010d}"
    title = f"doc {i}"
    html = _render_html(i, tokens, lang, title)
    ts = _EPOCH + timedelta(seconds=int((i * 37) % (365 * 24 * 3600)))
    return {
        "url": url,
        "warc_ts": ts,
        "html": html,
        "text": text,
        "lang": lang,
    }


def gen_pages_pandas(n: int, start: int = 0) -> pd.DataFrame:
    """Pandas frame of docs [start, start+n) — used by tests and fixtures."""
    rows = [gen_doc(i) for i in range(start, start + n)]
    df = pd.DataFrame(rows)
    df["warc_ts"] = pd.to_datetime(df["warc_ts"]).dt.tz_localize(None)
    return df


def gen_pages_spark(spark, n: int, partitions: int = 32):
    """Distributed generation: pure function of index, no driver bottleneck.

    At real scale this is the stand-in for `spark.read.format("iceberg")
    .load("pages")` — the pipeline only sees a DataFrame with PAGES_SCHEMA.
    """
    def _gen(batches):
        for pdf in batches:
            idx = pdf["id"].to_numpy()
            out = pd.DataFrame([gen_doc(int(i)) for i in idx])
            out["warc_ts"] = pd.to_datetime(out["warc_ts"]).dt.tz_localize(None)
            yield out

    return (
        spark.range(0, n, 1, partitions)
        .mapInPandas(_gen, schema=PAGES_SCHEMA)
    )
