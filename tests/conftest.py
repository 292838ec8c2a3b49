import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pcompress_spark import datagen  # noqa: E402
from pcompress_spark.session import get_spark  # noqa: E402

FIXTURES = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures")
TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pages_pdf() -> pd.DataFrame:
    return datagen.gen_pages_pandas(1000)


@pytest.fixture(scope="session")
def pages_df(spark, pages_pdf):
    df = spark.createDataFrame(pages_pdf)
    df.persist()
    df.count()
    return df


@pytest.fixture(scope="session")
def golden_pairs() -> pd.DataFrame:
    return pd.read_parquet(os.path.join(FIXTURES, "golden_pairs_n1000.parquet"))


@pytest.fixture(scope="session")
def golden_clusters() -> pd.DataFrame:
    return pd.read_parquet(os.path.join(FIXTURES, "golden_clusters_n1000.parquet"))


@pytest.fixture(scope="session")
def assignments_run(spark, pages_df, tmp_path_factory):
    """One full pipeline run shared by the golden/recall/resume tests."""
    from pcompress_spark.config import PipelineConfig
    from pcompress_spark.pipeline import DedupPipeline

    ckpt = str(tmp_path_factory.mktemp("ckpt_golden"))
    pipe = DedupPipeline(spark, PipelineConfig(), checkpoint_dir=ckpt)
    assignments = pipe.run(pages_df)
    return assignments.toPandas(), ckpt, pipe


@pytest.fixture(scope="session")
def assignments_run_r2(spark, pages_df, tmp_path_factory):
    """One b=10/r=2 pipeline run shared by the r>1 golden and incremental
    tests: (assignments as pandas, checkpoint dir)."""
    from pcompress_spark.config import PipelineConfig
    from pcompress_spark.pipeline import DedupPipeline

    ckpt = str(tmp_path_factory.mktemp("ckpt_r2"))
    assignments = DedupPipeline(
        spark,
        PipelineConfig(lsh_bands=10, lsh_rows=2),
        checkpoint_dir=ckpt,
        resume=False,
    ).run(pages_df)
    return assignments.toPandas(), ckpt
