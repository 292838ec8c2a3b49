"""Golden E2E gate (BASELINE.json north_rule):

- dup-pair recall >= 0.99 vs golden pairs at the reference config
- cluster assignments exact-match vs golden components
- emitted edges are precise (endpoints truly co-members)
"""

import pandas as pd

from pcompress_spark import metrics


def test_pair_recall_ge_099(assignments_run, golden_pairs):
    assignments, _, _ = assignments_run
    recall = metrics.pair_recall(assignments, golden_pairs)
    assert recall >= 0.99, f"dup-pair recall {recall:.4f} < 0.99"


def test_cluster_assignments_exact_match(assignments_run, golden_clusters):
    assignments, _, _ = assignments_run
    bad, total = metrics.cluster_exact_match(assignments, golden_clusters)
    assert bad == 0, f"{bad}/{total} docs assigned to wrong cluster"


def test_representative_semantics(assignments_run, golden_clusters):
    """representative = earliest/min doc_id member (backward-ref semantics)."""
    assignments, _, _ = assignments_run
    g = golden_clusters.set_index("url")
    a = assignments.set_index("url")
    merged = a.join(g, rsuffix="_g")
    assert (merged["representative_url"] == merged["representative_url_g"]).all()


def test_edge_precision(assignments_run, assignments_run_r2, golden_clusters):
    """Verified edges are true duplicates at r=1 and at r>1, where band
    co-occurrence is no signature overlap and no prefilter runs."""
    for r, ckpt in ((1, assignments_run[1]), (2, assignments_run_r2[1])):
        edges = pd.read_parquet(f"{ckpt}/edges")
        prec = metrics.edge_precision(edges, golden_clusters)
        assert prec >= 0.999, f"r={r} edge precision {prec:.4f}"


def test_verified_jaccards_match_oracle(assignments_run, golden_pairs, golden_clusters):
    """Exact-Jaccard verification must agree with the oracle's values."""
    _, ckpt, _ = assignments_run
    edges = pd.read_parquet(f"{ckpt}/edges")
    id2url = dict(zip(golden_clusters["doc_id"], golden_clusters["url"]))
    edges["url_a"] = edges.apply(
        lambda r: min(id2url[r["src"]], id2url[r["dst"]]), axis=1
    )
    edges["url_b"] = edges.apply(
        lambda r: max(id2url[r["src"]], id2url[r["dst"]]), axis=1
    )
    m = edges.merge(golden_pairs, on=["url_a", "url_b"], suffixes=("_p", "_g"))
    assert len(m) > 0
    diffs = (m["jaccard_p"] - m["jaccard_g"]).abs()
    assert diffs.max() < 1e-12


def test_pair_recall_r_gt_1_banding(assignments_run_r2, golden_pairs):
    """First-class r>1 banding (VERDICT r3 task #6): at b=10/r=2 band
    co-occurrence is NOT signature overlap, so no signature prefilter
    runs — banding is the precision screen, mh_overlap carries the proven
    band floor (bands x r) into the degree cap, and every kept pair is
    exact-Jaccard verified. Dup-pair recall must still clear the golden
    gate (simhash + winnow channels cover the LSH-curve recall dip at the
    tau boundary)."""
    recall = metrics.pair_recall(assignments_run_r2[0], golden_pairs)
    assert recall >= 0.99, f"r>1 dup-pair recall {recall:.4f} < 0.99"


def test_assignments_invariant_to_input_partitioning(spark, pages_df,
                                                     assignments_run,
                                                     tmp_path):
    """North-rule determinism: the SAME corpus arriving in a different
    physical layout (repartitioned 5-way vs the fixture's layout) yields
    byte-identical cluster assignments — doc_id = xxhash64(url) and all
    sketch seeds are content-derived, never partition- or order-derived."""
    from pcompress_spark.config import PipelineConfig
    from pcompress_spark.pipeline import DedupPipeline

    full_pdf, _ckpt, _pipe = assignments_run
    want = dict(zip(full_pdf["doc_id"], full_pdf["cluster_id"]))
    out = DedupPipeline(
        spark, PipelineConfig(), checkpoint_dir=str(tmp_path / "ck"),
        resume=False,
    ).run(pages_df.repartition(5, "lang"))
    got = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    assert got == want
