"""Hot-band skew: a boilerplate block shared by many docs must not explode
the candidate join; the cap downgrades hot buckets to star-connections
(logged), preserving cluster connectivity (SURVEY §7 hard parts)."""

import pandas as pd
from pyspark.sql import functions as F

from pcompress_spark import datagen
from pcompress_spark.config import PipelineConfig
from pcompress_spark.pipeline import DedupPipeline


def test_hot_band_completes_under_cap_with_connectivity(spark, tmp_path):
    # 1000-doc block has 30 boilerplate docs sharing a dominant shingle block.
    # Force the hot path by setting the bucket cap *below* the bucket size.
    pdf = datagen.gen_pages_pandas(1000)
    pages = spark.createDataFrame(pdf)
    cfg = PipelineConfig(max_bucket_docs=8)
    pipe = DedupPipeline(spark, cfg, checkpoint_dir=str(tmp_path / "ckpt_skew"))
    assignments = pipe.run(pages).toPandas()

    # hot buckets must be logged, not silently dropped
    hot = pd.read_parquet(f"{tmp_path}/ckpt_skew/_hot_buckets_lsh")
    assert len(hot) > 0
    assert (hot["n_docs"] > 8).all()

    # the boilerplate docs (index 970-999 of the block) still one cluster
    boiler_urls = pdf.iloc[970:1000]["url"]
    cl = assignments.set_index("url").loc[boiler_urls, "cluster_id"]
    assert cl.nunique() == 1


def test_bucket_pairs_in_cap_and_star_exactly_once(spark):
    """Both fused.bucket_pairs regimes — the in-cap self-join and the
    over-cap star — must emit each (pair, bucket) EXACTLY once (the fused
    channels count band co-occurrence from these rows; a duplicate
    emission would corrupt signature overlap), and the hot log must list
    exactly the over-cap buckets with their widths."""
    from pcompress_spark.operators.fused import bucket_pairs

    rows = (
        [(i, 1) for i in range(4)]                # in-cap: 4 <= cap
        + [(100 + i, 2) for i in range(64)]       # in-cap: 64 == cap
        + [(1000 + i, 3) for i in range(70)]      # star: 70 > cap
        + [(1000, 4), (1001, 4)]  # a star pair sharing an in-cap bucket too
    )
    keyed = spark.createDataFrame(rows, "doc_id long, k2 long")
    pairs, hot = bucket_pairs(keyed, cap=64)
    got = [(r.id_a, r.id_b, r.k2, bool(r.is_star)) for r in pairs.collect()]
    assert len(got) == len(set(got)), "duplicate pair emission"

    def clique(lo, n, k2):
        return {
            (lo + i, lo + j, k2, False) for i in range(n) for j in range(i + 1, n)
        }

    assert set(got) == (
        clique(0, 4, 1)
        | clique(100, 64, 2)
        # star bucket: only rep-member edges, flagged
        | {(1000, 1000 + j, 3, True) for j in range(1, 70)}
        | {(1000, 1001, 4, False)}
    )
    assert [(r.k2, r.n_docs) for r in hot.collect()] == [(3, 70)]
