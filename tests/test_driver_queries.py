"""Driver-contract queries: fast sanity at sf0.001 + ANN recall + plans.

The full Spark-vs-DuckDB oracle comparison (driver's correctness gate)
lives in scripts/check_oracles.py and runs at sf0.01; these tests keep the
contract importable, the plans pushdown-clean, the approximate channel
measurably close to the exact baseline, and the three sketch pair queries
equal to their DuckDB oracles at sf0.01.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from pcompress_spark import driver_queries as DQ  # noqa: E402
from pcompress_spark.analysis import embeddings as E  # noqa: E402
from tests.conftest import TESTDATA  # noqa: E402

SF = os.path.join(TESTDATA, "sf0.001")
SF01 = os.path.join(TESTDATA, "sf0.01")

pytestmark = pytest.mark.skipif(
    not os.path.exists(os.path.join(SF, "documents.parquet")),
    reason="driver testdata not present",
)


def test_contract_shape():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(qs) >= 15
    # every oracle key must have a query
    assert set(oracles) <= set(qs)
    # approximate ANN is the only intentionally oracle-less query
    assert set(qs) - set(oracles) == {
        "embedding_ann_lsh",
        "embedding_ann_ivf",
    }


def test_minhash_lsh_equals_exact_pairs(spark):
    """LSH recall == 1 at this scale: sketch pair set matches brute force."""
    exact = {
        (r.id_a, r.id_b)
        for r in DQ.q_ngram_jaccard_pairs(spark, SF).collect()
    }
    lsh = {
        (r.id_a, r.id_b) for r in DQ.q_minhash_lsh_pairs(spark, SF).collect()
    }
    assert lsh == exact
    assert len(exact) > 0


@pytest.mark.skipif(
    not os.path.exists(os.path.join(SF01, "documents.parquet")),
    reason="sf0.01 testdata not present",
)
@pytest.mark.parametrize(
    "name", ["minhash_lsh_pairs", "simhash_pairs", "substring_pairs"]
)
def test_pair_query_equals_duckdb_oracle(spark, name):
    """At the driver gate's scale (sf0.01) each sketch channel's verified
    pair set, with candidates from fused.candidates, equals the DuckDB
    oracle's exact pair set: recall 1 and no false pair."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM"
        f" read_parquet('{SF01}/documents.parquet')"
    )
    want = {
        (int(a), int(b))
        for a, b in con.execute(DQ.ORACLES[name]).df()[["id_a", "id_b"]].values
    }
    got = {(r.id_a, r.id_b) for r in DQ.QUERIES[name](spark, SF01).collect()}
    assert got == want
    assert len(want) > 0


def test_ann_lsh_recall_vs_brute_force(spark):
    """Multi-table hyperplane-LSH ANN keeps >=80% top-5 recall on the
    test embeddings (4 bits x 16 tables — the recall/cost point is config,
    the contract is that recall is measured, never assumed)."""
    emb = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
    exact = E.brute_force_topk(emb, emb, k=5).collect()
    approx = E.lsh_ann_topk(emb, k=5, bits=4, tables=16).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.8, f"ANN recall {recall:.3f}"


def test_scan_filter_pushdown_plan(spark):
    """Filter + projection must reach the parquet scan."""
    plan = DQ.q_scan_filter_project(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "l_quantity" in plan.split("PushedFilters")[1][:200]
    # projection pruning: scanned schema must not include unused columns
    read_schema = plan.split("ReadSchema")[1][:300]
    assert "l_shipdate" not in read_schema


def test_join_agg_uses_broadcast(spark):
    plan = DQ.q_join_agg_revenue(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_embedding_paths_never_nested_loop(spark):
    """The n² embedding comparisons must be distributed as shuffle
    equi-joins (block grid) — a BroadcastNestedLoopJoin or a corpus-sized
    broadcast is the 100-TB failure mode the round-1 version had."""
    for df in (
        DQ.q_embedding_near_dup(spark, SF),
        DQ.q_embedding_topk(spark, SF),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]
        assert "CartesianProduct" not in plan, plan[:1500]
        assert ("ShuffledHashJoin" in plan) or ("SortMergeJoin" in plan), plan[:1500]


def test_multimodal_decode_deterministic(spark):
    a = DQ.q_multimodal_decode(spark, SF).orderBy("media_id").collect()
    b = DQ.q_multimodal_decode(spark, SF).orderBy("media_id").collect()
    assert a == b
    assert all(r.n_bytes > 0 and len(r.sha_prefix) == 16 for r in a[:20])
    assert {r.kind for r in a} <= {"image", "audio", "video"}


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.columns == ["doc_id", "cluster_id", "cluster_size", "is_representative"]
    n = df.count()
    assert n == 500


def test_cluster_split_is_leakage_free(spark):
    """Every member of a near-dup cluster lands in the SAME split (no
    train/val contamination through duplicates), the split covers all
    docs, and multi-member clusters exist so the property is non-vacuous."""
    out = DQ.q_cluster_split(spark, SF).collect()
    assert len(out) == 500
    assert {r.split for r in out} <= {"train", "val", "test"}
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r.cluster_id, set()).add(r.split)
    assert all(len(s) == 1 for s in by_cluster.values())
    assert any(
        len([r for r in out if r.cluster_id == c]) > 1 for c in by_cluster
    )
    # deterministic: same corpus -> same splits
    again = {r.doc_id: r.split for r in DQ.q_cluster_split(spark, SF).collect()}
    assert all(again[r.doc_id] == r.split for r in out)


def test_media_blocks_byte_domain(spark):
    """Byte-grid semantics: block count == sum(ceil(utf8_bytes/64)) on
    the sf corpus, and on REAL multi-byte text (the synthetic corpus is
    ASCII throughout, lang labels notwithstanding) the byte grid emits
    more blocks than the char grid and dedups identical byte streams."""
    from pyspark.sql import functions as F

    mb = DQ.q_media_blocks(spark, SF).agg(
        F.sum("n_blocks").cast("long").alias("n")
    ).collect()[0].n
    want = DQ._docs(spark, SF).filter(F.length("text") > 0).agg(
        F.sum(F.ceil(F.octet_length("text") / 64.0)).cast("long").alias("n")
    ).collect()[0].n
    assert mb == want > 0

    # constructed CJK: 60 chars = 180 utf-8 bytes -> 1 char-block but 3
    # byte-blocks; two identical docs share every block (dedup works)
    zh = "深" * 60
    docs = spark.createDataFrame(
        [(1, zh), (2, zh), (3, "ascii " * 10)], "doc_id long, text string"
    )
    out = DQ.byte_blocks(docs).collect()
    zh_blocks = [r for r in out if r.n_docs == 2]
    assert len(zh_blocks) == 3          # 180 bytes / 64 -> 3 blocks
    assert all(r.n_blocks == 2 and r.rep_doc == 1 for r in zh_blocks)


def test_dedup_report_tiers(spark):
    """Exact/near/line rows present; exact+near affected counts equal the
    dedup_tiers verdicts; saved fractions are sane and line savings are
    nonzero (the fixture plants cross-doc duplication)."""
    rep = {r.tier: r for r in DQ.q_dedup_report(spark, SF).collect()}
    assert set(rep) == {"exact", "near", "line"}
    tiers = DQ.q_dedup_tiers(spark, SF).collect()
    n_exact = sum(1 for r in tiers if r.tier == "exact")
    n_near = sum(1 for r in tiers if r.tier == "near")
    assert rep["exact"].docs_affected == n_exact
    assert rep["near"].docs_affected == n_near
    assert rep["line"].bytes_saved > 0
    for r in rep.values():
        assert 0.0 <= r.saved_frac < 1.0


def test_corpus_profile_shape(spark):
    """One row per lang; percentile ordering and count mass sanity."""
    rows = DQ.q_corpus_profile(spark, SF).collect()
    assert len(rows) == 5
    assert sum(r.n_docs for r in rows) == 500
    for r in rows:
        assert r.min_chars <= r.p50_chars <= r.p95_chars <= r.max_chars
        assert r.min_chars <= r.avg_chars <= r.max_chars
