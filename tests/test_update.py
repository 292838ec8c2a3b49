"""Re-crawl upsert (update_batch): full-run parity after content changes.

The contract: after update_batch over a batch containing changed, new, and
unchanged urls, `assignments()` equals a monolithic pipeline run over the
UPDATED corpus — including the hard cases an append-only index must go out
of its way for: delegate promotion (the changed doc anchored an exact-dup
group), cluster splits (the changed doc was the bridge), and label changes
(the changed doc was the component min). Crash semantics are loud: an
interrupted update leaves a marker that fails reads until the update is
re-run (reference analog: pcompress refuses mismatched archive updates)."""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pcompress_spark.config import PipelineConfig  # noqa: E402
from pcompress_spark.operators import incremental  # noqa: E402
from pcompress_spark.operators.incremental import (  # noqa: E402
    IncrementalDedupIndex,
)


def _as_map(df):
    return {r["doc_id"]: r["cluster_id"] for r in df.collect()}


def _pages(spark, rows):
    return spark.createDataFrame(
        [(u, t, "en") for u, t in rows], "url string, text string, lang string"
    )


def _did(spark, url):
    return _pages(spark, [(url, "x")]).select(
        F.xxhash64("url").alias("d")
    ).collect()[0]["d"]


BASE = (
    "the river cuts a slow arc through the valley while herons wade "
    "the shallows and long barges slide beneath the iron bridge past "
    "the flour mill whose wheel has not turned in forty years now"
)


def _chain_texts():
    """a — bridge — c: bridge near-dups both; a and c are unrelated."""
    a = BASE + " " + " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(12))
    c = BASE + " " + " ".join(f"delta{i} epsil{i} zetaa{i}" for i in range(12))
    bridge = (
        BASE
        + " "
        + " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(6))
        + " "
        + " ".join(f"delta{i} epsil{i} zetaa{i}" for i in range(6))
    )
    return a, c, bridge


GARBAGE = (
    "entirely regenerated content after the recrawl with a disjoint "
    "vocabulary of tokens " + " ".join(f"xq{i} wz{i} vy{i}" for i in range(20))
)


@pytest.mark.parametrize(
    "broadcast_max", [None, 0], ids=["broadcast", "shuffle"]
)
def test_update_splits_bridge_and_reclassifies(
    spark, tmp_path, monkeypatch, broadcast_max
):
    """Updating the bridge doc's content must SPLIT the merged cluster
    back into {a} and {c} (labels = their own ids) and classify the new
    content standalone — exactly what a fresh run over the updated corpus
    produces. The "shuffle" case closes the broadcast gate so the
    update's id frames take the shuffle-join side."""
    if broadcast_max is not None:
        monkeypatch.setattr(
            incremental, "_UPDATE_BROADCAST_MAX", broadcast_max
        )
    a, c, bridge = _chain_texts()
    idx = IncrementalDedupIndex(spark, PipelineConfig(), str(tmp_path))
    idx.bootstrap(
        _pages(spark, [("u://a", a), ("u://c", c), ("u://b", bridge)])
    )
    before = _as_map(idx.assignments())
    assert len(set(before.values())) == 1, "precondition: one merged cluster"

    idx.update_batch(_pages(spark, [("u://b", GARBAGE)]))
    res = _as_map(idx.assignments())
    ida, idc, idb = (_did(spark, u) for u in ("u://a", "u://c", "u://b"))
    assert res == {ida: ida, idc: idc, idb: idb}, res


def test_update_splits_cluster_built_by_merge(spark, tmp_path):
    """A cluster bridged by add_batch is held together by a merges/ row.
    Updating the bridge must retire that row with the re-ingested docs,
    or the larger of a/c keeps resolving to the smaller's id. compact()
    then folds the versioned state without losing a re-ingested doc."""
    a, c, bridge = _chain_texts()
    idx = IncrementalDedupIndex(spark, PipelineConfig(), str(tmp_path))
    idx.bootstrap(_pages(spark, [("u://a", a), ("u://c", c)]))
    idx.add_batch(_pages(spark, [("u://b", bridge)]))
    before = _as_map(idx.assignments())
    assert len(set(before.values())) == 1, "precondition: one merged cluster"

    idx.update_batch(_pages(spark, [("u://b", GARBAGE)]))
    res = _as_map(idx.assignments())
    ida, idc, idb = (_did(spark, u) for u in ("u://a", "u://c", "u://b"))
    assert res == {ida: ida, idc: idc, idb: idb}, res
    idx.compact()
    assert _as_map(idx.assignments()) == res


def test_update_to_text_of_existing_delegate(spark, tmp_path):
    """New content that exactly equals another delegate's text joins it
    through the identity tier: the updated doc keeps no live sig/key row
    (its old ones are flipped dead with no replacement) and its live link
    points at that delegate."""
    a, c, _bridge = _chain_texts()
    idx = IncrementalDedupIndex(spark, PipelineConfig(), str(tmp_path))
    idx.bootstrap(_pages(spark, [("u://a", a), ("u://c", c)]))
    ida, idc = _did(spark, "u://a"), _did(spark, "u://c")

    idx.update_batch(_pages(spark, [("u://a", c)]))
    low = min(ida, idc)
    assert _as_map(idx.assignments()) == {ida: low, idc: low}
    for name in ("sigs", "keys"):
        assert idx._live(name).filter(F.col("doc_id") == ida).count() == 0
    links = {
        r["doc_id"]: r["parent_id"] for r in idx._live("links").collect()
    }
    assert links == {ida: idc}


def test_update_promotes_delegate_of_identity_group(spark, tmp_path):
    """Changing the content of an exact-dup group's delegate must hand the
    group to the smallest remaining member (whose text still exists in the
    corpus) — the group survives, relabeled to its new min id."""
    t = (
        "an identity group text long enough to shingle and signature with "
        "its own distinctive tail vocabulary "
        + " ".join(f"idg{i}" for i in range(14))
    )
    urls = ["u://d", "u://c1", "u://c2"]
    idx = IncrementalDedupIndex(spark, PipelineConfig(), str(tmp_path))
    idx.bootstrap(_pages(spark, [(u, t) for u in urls]))
    ids = {u: _did(spark, u) for u in urls}
    deleg = min(ids.values())
    deleg_url = [u for u, d in ids.items() if d == deleg][0]
    others = sorted(d for d in ids.values() if d != deleg)

    idx.update_batch(_pages(spark, [(deleg_url, GARBAGE)]))
    res = _as_map(idx.assignments())
    assert res[others[0]] == min(others)
    assert res[others[1]] == min(others)
    assert res[deleg] == deleg  # new content stands alone
    # the promoted member now owns a live delegate row carrying the OLD
    # text; the updated doc's live row carries the NEW text
    live = {
        r["doc_id"]: r["text"]
        for r in idx._live("sigs").select("doc_id", "text").collect()
    }
    assert live[min(others)] == t
    assert live[deleg] == GARBAGE


def test_update_reassigns_min_label(spark, tmp_path):
    """When the updated doc WAS the cluster min, the survivors must be
    relabeled to the next-smallest member id."""
    a, c, bridge = _chain_texts()
    # a near-dup pair only: a and a2 (a's text with a small tail change)
    a2 = a + " slightly extended tail of the same article body"
    idx = IncrementalDedupIndex(spark, PipelineConfig(), str(tmp_path))
    idx.bootstrap(_pages(spark, [("u://a", a), ("u://a2", a2)]))
    before = _as_map(idx.assignments())
    assert len(set(before.values())) == 1, "precondition: one cluster"
    ida, ida2 = _did(spark, "u://a"), _did(spark, "u://a2")
    low_url = "u://a" if ida < ida2 else "u://a2"
    hi_id = max(ida, ida2)

    idx.update_batch(_pages(spark, [(low_url, GARBAGE)]))
    res = _as_map(idx.assignments())
    assert res[hi_id] == hi_id, "survivor must be relabeled to itself"
    assert res[min(ida, ida2)] == min(ida, ida2)


@pytest.fixture(scope="module")
def mixed_update(spark, pages_df, tmp_path_factory):
    """The golden corpus with ~5% of urls' content mutated: the update
    batch (changed + unchanged + brand-new rows), the number of rows it
    should classify, and a fresh monolithic run's labels over the
    updated corpus."""
    from pcompress_spark.pipeline import DedupPipeline

    base_cols = pages_df.select("url", "text", "lang")
    sel = F.pmod(F.xxhash64("url"), F.lit(20)) == 0  # ~5% of urls
    mutated = base_cols.filter(sel).withColumn(
        "text",
        F.concat(
            F.lit("recrawled and rewritten page body "),
            F.reverse(F.col("text")),
        ),
    )
    unchanged = base_cols.filter(
        F.pmod(F.xxhash64("url"), F.lit(20)) == 1
    )
    fresh_rows = [
        (f"u://brand-new-{i}",
         f"a brand new page number {i} with its own vocabulary "
         + " ".join(f"nv{i}x{j}" for j in range(16)),
         "en")
        for i in range(10)
    ]
    fresh = spark.createDataFrame(
        fresh_rows, "url string, text string, lang string"
    )
    batch = mutated.unionByName(unchanged).unionByName(fresh)

    updated_corpus = (
        base_cols.join(mutated.select("url"), "url", "left_anti")
        .unionByName(mutated)
        .unionByName(fresh)
    )
    ckpt = str(tmp_path_factory.mktemp("upd_mono"))
    mono = DedupPipeline(
        spark, PipelineConfig(), checkpoint_dir=ckpt, resume=False
    ).run(updated_corpus)
    full = {r["doc_id"]: r["cluster_id"] for r in
            mono.select("doc_id", "cluster_id").collect()}
    return batch, mutated.count() + len(fresh_rows), full


@pytest.mark.parametrize("build", ["bootstrap", "bootstrap_add_batch"])
def test_update_mixed_batch_matches_monolithic(
    spark, pages_df, tmp_path_factory, mixed_update, build
):
    """The VERDICT-bar test: index the golden corpus, mutate ~5% of urls'
    content, update with a batch mixing changed + unchanged + brand-new
    rows, and compare assignments() against a fresh monolithic run over
    the updated corpus. The index is built either by one bootstrap or by
    bootstrap(one xxhash half) + add_batch(the other), so that merges/
    rows exist before the update."""
    batch, n_classified, full = mixed_update
    idx_dir = str(tmp_path_factory.mktemp("upd_idx"))
    idx = IncrementalDedupIndex(spark, PipelineConfig(), idx_dir)
    if build == "bootstrap":
        idx.bootstrap(pages_df)
    else:
        half = F.pmod(F.xxhash64("url"), F.lit(2))
        idx.bootstrap(pages_df.filter(half == 0))
        idx.add_batch(pages_df.filter(half == 1))
        assert idx._read("merges") is not None, "precondition: merges"

    out = idx.update_batch(batch)
    # changed + new rows are classified; unchanged are no-ops
    assert out.count() == n_classified

    incr = _as_map(idx.assignments())
    assert len(incr) == len(full)
    diff = {d: (c, full[d]) for d, c in incr.items() if full[d] != c}
    assert not diff, (
        f"{len(diff)} label mismatches after update, "
        f"e.g. {list(diff.items())[:5]}"
    )


def test_update_interrupted_is_loud_and_heals(spark, tmp_path, monkeypatch):
    """A crash before the tombstone commit leaves the inflight marker:
    assignments()/add_batch raise until update_batch is re-run with the
    same pages, after which the result matches the uninterrupted one."""
    a, c, bridge = _chain_texts()
    idx = IncrementalDedupIndex(spark, PipelineConfig(), str(tmp_path))
    idx.bootstrap(
        _pages(spark, [("u://a", a), ("u://c", c), ("u://b", bridge)])
    )

    real_append = IncrementalDedupIndex._append_tombstones

    def boom(self, rows):
        raise RuntimeError("simulated crash before commit")

    monkeypatch.setattr(IncrementalDedupIndex, "_append_tombstones", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        idx.update_batch(_pages(spark, [("u://b", GARBAGE)]))
    monkeypatch.setattr(
        IncrementalDedupIndex, "_append_tombstones", real_append
    )

    with pytest.raises(RuntimeError, match="interrupted update"):
        idx.assignments()
    with pytest.raises(RuntimeError, match="interrupted update"):
        idx.add_batch(_pages(spark, [("u://zz", GARBAGE + " zz")]))

    # heal: same pages, full redo at a higher version
    idx.update_batch(_pages(spark, [("u://b", GARBAGE)]))
    res = _as_map(idx.assignments())
    ida, idc, idb = (_did(spark, u) for u in ("u://a", "u://c", "u://b"))
    assert res == {ida: ida, idc: idc, idb: idb}, res


def test_update_unchanged_batch_is_noop(spark, tmp_path):
    a, c, bridge = _chain_texts()
    idx = IncrementalDedupIndex(spark, PipelineConfig(), str(tmp_path))
    idx.bootstrap(_pages(spark, [("u://a", a), ("u://c", c)]))
    before = _as_map(idx.assignments())
    idx.update_batch(_pages(spark, [("u://a", a), ("u://c", c)]))
    assert _as_map(idx.assignments()) == before
    assert idx._read("tombstones") is None  # nothing was versioned


def test_update_then_add_batch_keeps_working(spark, tmp_path):
    """The versioned index must keep ingesting normally after an update —
    including a new doc that exactly duplicates the UPDATED content."""
    a, c, bridge = _chain_texts()
    idx = IncrementalDedupIndex(spark, PipelineConfig(), str(tmp_path))
    idx.bootstrap(_pages(spark, [("u://a", a), ("u://c", c)]))
    idx.update_batch(_pages(spark, [("u://a", GARBAGE)]))
    idx.add_batch(_pages(spark, [("u://copy", GARBAGE)]))
    res = _as_map(idx.assignments())
    ida, idcopy = _did(spark, "u://a"), _did(spark, "u://copy")
    assert res[ida] == res[idcopy] == min(ida, idcopy)



def _old_format_rows(table, doc):
    """One pandas row of index table `table`, as written before rows
    carried `ver` (merges) or as the pipeline's adopted stages write it
    (sigs, keys)."""
    import pandas as pd

    return pd.DataFrame(
        {
            "merges": {"old_cluster": [doc], "new_cluster": [1]},
            "sigs": {
                "url": [f"u://{doc}"],
                "doc_id": [doc],
                "text_sha": [f"sha{doc}"],
                "lang": ["en"],
                "text": ["text"],
                "nshingles": pd.Series([1], dtype="int32"),
                "minhash": [[doc, doc]],
                "simhash": [doc],
            },
            "keys": {
                "doc_id": [doc],
                "ch": pd.Series([0], dtype="int8"),
                "key": [doc],
            },
        }[table]
    )


@pytest.mark.parametrize("old_name", ["part-0.parquet", "part-2.parquet"])
@pytest.mark.parametrize("table", ["merges", "sigs", "keys"])
def test_old_format_rows_read_as_version_0(spark, tmp_path, table, old_name):
    """A ver-less file reads as version 0 beside a versioned file, whichever
    file name sorts first (Spark otherwise takes the table schema from one
    footer): the ver-less row stays live and the uncommitted ver=1 row (no
    tombstones yet) stays hidden. `keys/` of an index written before it
    went flat also holds ver-less files under shard=*/ directories."""
    import pandas as pd

    idx = IncrementalDedupIndex(spark, PipelineConfig(), str(tmp_path))
    os.makedirs(idx._p(table))
    _old_format_rows(table, 5).to_parquet(os.path.join(idx._p(table), old_name))
    _old_format_rows(table, 7).assign(
        ver=pd.Series([1], dtype="int32")
    ).to_parquet(os.path.join(idx._p(table), "part-1.parquet"))
    want = {5}
    if table == "keys":
        os.makedirs(os.path.join(idx._p(table), "shard=3"))
        _old_format_rows(table, 6).to_parquet(
            os.path.join(idx._p(table), "shard=3", "part-0.parquet")
        )
        want = {5, 6}
    col = "old_cluster" if table == "merges" else "doc_id"
    assert {r[0] for r in idx._live(table).select(col).collect()} == want
