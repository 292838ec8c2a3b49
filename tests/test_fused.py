"""The one candidate generator (fused.candidates): equivalence with a
brute-force bucket enumeration in plain Python, exact overlap under the
star downgrade, folded-prefilter parity, batch == probe shape, the r>1
overlap floor and its degree-cap ranking."""

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pcompress_spark import datagen  # noqa: E402
from pcompress_spark.config import PipelineConfig  # noqa: E402
from pcompress_spark.operators import exact, fused, verify  # noqa: E402


def _reps(spark, n=400, cfg=PipelineConfig()):
    pages = spark.createDataFrame(datagen.gen_pages_pandas(n))
    sigs = exact.build_sigs(pages, cfg)
    return exact.representatives(sigs, exact.text_groups(sigs)).persist()


def _cands(reps, cfg, min_matches=3, probe_ids=None):
    """fused.candidates over the reps' fused keyed rows."""
    return fused.candidates(
        fused.fused_keyed_rows(reps, cfg),
        reps.select("doc_id", "simhash"),
        cfg,
        probe_ids=probe_ids,
        min_matches=min_matches,
    )


def _as_dict(df):
    out = {}
    for r in df.collect():
        out[(r.id_a, r.id_b)] = (
            tuple(sorted(r.channels)),
            r.mh_overlap,
            bool(r.is_star),
        )
    return out


def _brute_force(reps, cfg):
    """Every pair sharing a (ch, key) bucket of fused_keyed_rows, scored in
    plain Python: minhash if they share a band key, simhash if they share
    a block key AND lie within the hamming ball, winnow if they share an
    anchor; mh_overlap = shared band keys x r. Valid only without over-cap
    buckets (no star downgrade)."""
    buckets = {}
    for r in fused.fused_keyed_rows(reps, cfg).collect():
        buckets.setdefault((r.ch, r.key), set()).add(r.doc_id)
    shared = {}  # (id_a, id_b) -> {ch: number of shared keys}
    for (ch, _key), docs in buckets.items():
        docs = sorted(docs)
        for i, a in enumerate(docs):
            for b in docs[i + 1:]:
                per_ch = shared.setdefault((a, b), {})
                per_ch[ch] = per_ch.get(ch, 0) + 1
    sim = {r.doc_id: r.simhash for r in reps.select("doc_id", "simhash").collect()}
    out = {}
    for (a, b), per_ch in shared.items():
        channels = []
        if fused.CH_MINHASH in per_ch:
            channels.append("minhash")
        hamming = bin((sim[a] ^ sim[b]) & (2**64 - 1)).count("1")
        if fused.CH_SIMHASH in per_ch and hamming <= cfg.simhash_radius:
            channels.append("simhash")
        if fused.CH_WINNOW in per_ch:
            channels.append("winnow")
        if not channels:
            continue
        overlap = per_ch.get(fused.CH_MINHASH)
        out[(a, b)] = (
            tuple(sorted(channels)),
            None if overlap is None else overlap * cfg.lsh_rows,
            False,
        )
    return out


def test_fused_equals_brute_force(spark):
    """fused.candidates with the prefilter gate at 0 (every pair kept)
    must produce exactly the brute-force candidate set, channel tags and
    band-co-occurrence counts, at r=1 and at r=2. Neither corpus has an
    over-cap bucket, so the star downgrade stays covered by the crafted
    corpus tests below."""
    for n, cfg in (
        (400, PipelineConfig()),
        (800, PipelineConfig(lsh_bands=10, lsh_rows=2)),
    ):
        reps = _reps(spark, n, cfg)
        cands, hot, _dropped = _cands(reps, cfg, min_matches=0)
        assert hot.count() == 0
        got, want = _as_dict(cands), _brute_force(reps, cfg)
        assert got == want
        assert len(want) > 0
        reps.unpersist()


def _crafted_reps(spark):
    """8 docs with hand-built minhash signatures (K=20, r=1):
    - docs 1..6 share bands 0..9 (a 6-doc bucket per band -> over the
      cap=4, star-downgraded onto rep doc 1);
    - docs 2,3 additionally share bands 10..13 (2-doc buckets, emitted
      by the small branch);
    - docs 7,8 share exactly band 19 (true overlap 1 — junk).
    Exact signature overlaps: (1,j)=10 for j in 2..6, (2,3)=14, (7,8)=1.
    Simhash values are block-distinct (no simhash pairs); texts are below
    substring_min_len (no winnow rows)."""
    rows = []
    for d in range(1, 9):
        mh = []
        for i in range(20):
            if d <= 6 and i < 10:
                mh.append(1000 + i)                  # hot shared bands
            elif d in (2, 3) and 10 <= i <= 13:
                mh.append(2000 + i)                  # small shared bands
            elif d in (7, 8) and i == 19:
                mh.append(3000)                      # one junk collision
            else:
                mh.append(d * 1_000_000 + i)         # unique
        # distinct 16-bit blocks everywhere -> no simhash buckets
        sim = d * 0x0001_0001_0001_0001
        rows.append((d, f"u{d}", "short text", mh, sim, 100))
    return spark.createDataFrame(
        rows,
        "doc_id long, url string, text string, minhash array<long>,"
        " simhash long, nshingles int",
    )


def test_star_downgrade_counts_are_exact_overlap(spark):
    """An over-cap bucket suppresses member-member emission; the hot-key
    correction (star rows excluded, shared over-cap buckets added back)
    must make mh_overlap the EXACT signature overlap for every emitted
    pair — the r2 ADVICE fix, without the blanket is_star exemption that
    flooded verify with 171k junk pairs at 100k docs."""
    cfg = PipelineConfig(max_bucket_docs=4)
    reps = _crafted_reps(spark).persist()
    expect = {(1, j): 10 for j in range(2, 7)}
    expect[(2, 3)] = 14
    expect[(7, 8)] = 1

    got = {
        (r.id_a, r.id_b): (r.mh_overlap, bool(r.is_star))
        for r in _cands(reps, cfg, min_matches=0)[0].collect()
    }
    assert {k: v[0] for k, v in got.items()} == expect
    # star flag marks pairs EMITTED by the star branch (rep-member);
    # member-member pairs get their hot-bucket counts via the
    # intersect without the flag
    assert got[(1, 2)][1]
    assert not got[(2, 3)][1] and not got[(7, 8)][1]

    # prefilter gates on the exact value: junk (7,8) drops, the rest keep
    kept, dropped = verify.prefilter_candidates(
        _cands(reps, cfg, min_matches=0)[0], min_matches=3
    )
    assert {(r.id_a, r.id_b) for r in kept.collect()} == set(expect) - {(7, 8)}
    assert dropped.count() > 0
    reps.unpersist()


def _prefilter_parity(spark, reps, cfg, min_matches=3):
    """The folded prefilter must equal prefilter_candidates over the
    unfiltered candidates — same kept pairs/columns AND same drop log."""
    kept_f, _hot, drop_f = _cands(reps, cfg, min_matches)
    kept_l, drop_l = verify.prefilter_candidates(
        _cands(reps, cfg, min_matches=0)[0], min_matches=min_matches
    )
    assert _as_dict(kept_f) == _as_dict(kept_l)
    as_map = lambda df: {r.doc_id: r.n_dropped for r in df.collect()}  # noqa: E731
    assert as_map(drop_f) == as_map(drop_l)
    return kept_f


def test_fused_prefiltered_equals_separate_prefilter(spark):
    # 800 docs: the smallest datagen corpus where pairs actually survive
    # the min_matches gate (at 400 everything is band noise)
    cfg = PipelineConfig()
    reps = _reps(spark, 800, cfg)
    kept = _prefilter_parity(spark, reps, cfg)
    assert kept.count() > 0
    reps.unpersist()


def test_fused_prefiltered_hot_paths(spark, monkeypatch):
    """Parity must hold through BOTH hot-key correction join strategies:
    the broadcast fast path and the shuffle fallback (forced by a zero
    broadcast gate), on the crafted over-cap corpus."""
    cfg = PipelineConfig(max_bucket_docs=4)
    reps = _crafted_reps(spark).persist()
    expect = {(1, j) for j in range(2, 7)} | {(2, 3)}  # (7,8) is junk
    for gate in (fused.HOT_DOCS_BROADCAST_MAX, 0):
        monkeypatch.setattr(fused, "HOT_DOCS_BROADCAST_MAX", gate)
        kept = _prefilter_parity(spark, reps, cfg)
        assert {(r.id_a, r.id_b) for r in kept.collect()} == expect
    reps.unpersist()


def test_probe_shape_equals_batch_shape(spark):
    """The incremental probe shape (pairs with >= 1 probe endpoint, no
    member-member join) must yield exactly the batch self-join's rows for
    those pairs — channels, overlap, star flag — through both the in-cap
    and the over-cap star branch, at r=1 (folded prefilter) and r>1.
    With every doc a probe, that is the whole batch shape."""
    for cfg, reps in (
        (PipelineConfig(max_bucket_docs=4), _crafted_reps(spark)),
        (PipelineConfig(), _reps(spark, 400)),
        (PipelineConfig(lsh_bands=10, lsh_rows=2), _reps(spark, 800)),
    ):
        reps = reps.persist()
        for gate in (0, 3):  # unfiltered, then the folded r=1 prefilter
            batch = _as_dict(_cands(reps, cfg, gate)[0])
            for m in (3, 1):  # every third doc a probe, then every doc
                probe = reps.select("doc_id").filter(F.col("doc_id") % m == 0)
                want = {
                    k: v for k, v in batch.items() if k[0] % m == 0 or k[1] % m == 0
                }
                got = _as_dict(_cands(reps, cfg, gate, probe_ids=probe)[0])
                assert got == want
                assert len(want) > 0 or gate
        reps.unpersist()


def test_r_gt_1_overlap_is_band_floor(spark):
    """At r > 1 mh_overlap is the proven floor bands x r (each
    co-occurring band certifies r agreeing signature positions), never
    null for a minhash pair and never above the exact overlap; no
    prefilter runs, so the drop log is empty."""
    cfg = PipelineConfig(lsh_bands=4, lsh_rows=5)
    # plant near-identical pairs (J ~ 0.97) so full 5-row band slices match
    rows = []
    for i in range(8):
        base = f"the quick brown fox number {i} jumps over the lazy dog " * 20
        rows.append((f"u{i}a", base + "ending one", "en"))
        rows.append((f"u{i}b", base + "ending two", "en"))
    pages = spark.createDataFrame(rows, "url string, text string, lang string")
    sigs = exact.build_sigs(pages, cfg)
    reps = exact.representatives(sigs, exact.text_groups(sigs)).persist()
    cands, _hot, dropped = _cands(reps, cfg)
    sig = {r.doc_id: set(r.minhash) for r in reps.collect()}
    mh_rows = cands.filter(F.array_contains("channels", "minhash")).collect()
    assert mh_rows
    for r in mh_rows:
        assert r.mh_overlap is not None and r.mh_overlap % cfg.lsh_rows == 0
        assert cfg.lsh_rows <= r.mh_overlap <= len(sig[r.id_a] & sig[r.id_b])
    assert dropped.count() == 0
    reps.unpersist()


def test_r_gt_1_degree_cap_ranks_by_band_floor(spark, tmp_path):
    """b=10/r=2, verify_degree_cap=2: the true pair (100, 200) shares 5
    bands, and each endpoint's ranking window is saturated with two
    single-band junk partners that sort before it by partner id. Ranked
    by band floor the true pair (10) beats the junk (2) and survives;
    a constant rank would keep the junk and drop it."""
    from pcompress_spark.pipeline import DedupPipeline

    cfg = PipelineConfig(lsh_bands=10, lsh_rows=2, verify_degree_cap=2)
    # band i = signature positions (2i, 2i+1)
    shared = {  # doc -> {band: value tag}, bands shared with a partner
        100: {**{b: 1 for b in range(5)}, 5: 2, 6: 3},
        200: {**{b: 1 for b in range(5)}, 7: 4, 8: 5},
        101: {5: 2},
        102: {6: 3},
        50: {7: 4},
        51: {8: 5},
    }
    rows = []
    for d, bands in shared.items():
        mh = []
        for i in range(20):
            tag = bands.get(i // 2)
            mh.append(tag * 10_000 + i if tag else d * 1_000_000 + i)
        rows.append((d, f"u{d}", "short text", mh, d * 0x0001_0001_0001_0001, 100))
    reps = spark.createDataFrame(
        rows,
        "doc_id long, url string, text string, minhash array<long>,"
        " simhash long, nshingles int",
    ).persist()
    pipe = DedupPipeline(spark, cfg, checkpoint_dir=str(tmp_path / "ck"))
    keys = fused.fused_keyed_rows(reps, cfg)
    kept = {
        (r.id_a, r.id_b): r.mh_overlap
        for r in pipe._candidates(reps, keys).collect()
    }
    assert kept[(100, 200)] == 10
    assert (100, 101) in kept and (50, 200) in kept  # junk kept by the junk side
    reps.unpersist()


def test_null_overlap_ranks_at_floor(spark):
    """Simhash/winnow-only pairs (null overlap) must outrank weak minhash
    pairs in the degree cap (ADVICE r2), not sort at 0."""
    # doc 1 has cap=2 neighbors: two weak minhash pairs (overlap 1) and one
    # simhash-only pair (null). The null pair must be kept.
    cands = spark.createDataFrame(
        [
            (1, 2, ["minhash"], 1),
            (1, 3, ["minhash"], 1),
            (1, 4, ["simhash"], None),
        ],
        "id_a long, id_b long, channels array<string>, mh_overlap int",
    )
    kept, _ = verify.cap_candidate_degree(cands, cap=1)
    got = {(r.id_a, r.id_b) for r in kept.collect()}
    assert (1, 4) in got
