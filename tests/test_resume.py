"""Checkpoint/resume semantics (S7): mid-pipeline restart must produce the
identical final snapshot, and completed stages must be skipped."""

import shutil

import pandas as pd

from pcompress_spark.config import PipelineConfig
from pcompress_spark.pipeline import DedupPipeline


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    return df.sort_values("url").reset_index(drop=True)


def test_resume_after_partial_run_identical(spark, pages_df, assignments_run, tmp_path):
    first, ckpt_dir, pipe = assignments_run

    # simulate a crash after the candidates stage, then one after the keys
    # stage: wipe everything downstream, resume, compare
    for wiped in (("edges", "assignments"), ("candidates", "edges", "assignments")):
        for stage in wiped:
            shutil.rmtree(f"{ckpt_dir}/{stage}", ignore_errors=True)
        resumed = DedupPipeline(
            spark, PipelineConfig(), checkpoint_dir=ckpt_dir, resume=True
        ).run(pages_df)
        second = resumed.toPandas()
        pd.testing.assert_frame_equal(_norm(pd.DataFrame(first)), _norm(second))


def test_resume_skips_completed_stages(spark, pages_df, assignments_run):
    _, ckpt_dir, _ = assignments_run
    import time

    t0 = time.time()
    DedupPipeline(spark, PipelineConfig(), checkpoint_dir=ckpt_dir, resume=True).run(
        pages_df
    )
    # a fully-checkpointed rerun does no UDF/shuffle work
    assert time.time() - t0 < 30


def test_rerun_from_scratch_deterministic(spark, pages_df, assignments_run, tmp_path):
    first, _, _ = assignments_run
    fresh = DedupPipeline(
        spark, PipelineConfig(), checkpoint_dir=str(tmp_path / "ckpt2"), resume=False
    ).run(pages_df)
    pd.testing.assert_frame_equal(
        _norm(pd.DataFrame(first)), _norm(fresh.toPandas())
    )


def test_lineage_recorded(assignments_run):
    _, ckpt_dir, pipe = assignments_run
    lineage = pipe.ckpt.lineage()
    stages = {r["stage"] for r in lineage}
    assert {"sigs", "candidates", "edges", "assignments"} <= stages
    for r in lineage:
        assert r["wall_ms"] >= 0
        if "bytes" in r:  # checkpointed stage (note() rows carry no table)
            assert r["rows"] >= 0 and r["bytes"] > 0


def test_lineage_per_partition_detail(assignments_run):
    """North rule: checkpoints carry PER-PARTITION lineage (one entry per
    written file with rows/bytes, summing to the stage totals) plus a
    dup-ratio metric at the stages where it is defined."""
    _, ckpt_dir, pipe = assignments_run
    by_stage = {
        r["stage"]: r for r in pipe.ckpt.lineage() if "partitions" in r
    }
    assert {"sigs", "candidates", "edges", "assignments"} <= set(by_stage)
    for stage, r in by_stage.items():
        parts = r["partitions"]
        assert r["n_partitions"] == len(parts) >= 1
        assert sum(p["rows"] for p in parts) == r["rows"]
        assert all(p["bytes"] > 0 for p in parts)
        assert sum(p["bytes"] for p in parts) <= r["bytes"]
    # exact-dup ratio at sigs; all-channel cluster ratio at assignments
    assert 0.0 < by_stage["sigs"]["dup_ratio"] < 1.0
    assert (
        by_stage["sigs"]["dup_ratio"]
        <= by_stage["assignments"]["dup_ratio"]
        < 1.0
    )
    assert "dup_ratio" not in by_stage["edges"]
    # both ratios are derived without a distinct count (reps footers, an
    # observed sum on the assignments write) and must equal it exactly
    for stage, col in (("sigs", "text_sha"), ("assignments", "cluster_id")):
        vals = pd.read_parquet(f"{ckpt_dir}/{stage}", columns=[col])[col]
        assert by_stage[stage]["dup_ratio"] == round(
            1.0 - vals.nunique() / len(vals), 6
        ), stage


def test_run_actions_are_the_gates_only(spark, pages_df, tmp_path, monkeypatch):
    """Beyond its six checkpoint writes and the drop-log writes, a run
    issues exactly three DataFrame actions: the hot-doc broadcast gate in
    fused.candidates, the eager pair-Jaccard count in verify_edges and the
    bounded edge collect in cluster_labels. Row counts, dup ratios and
    cache warm-ups ride on the writes."""
    import sys

    cls = type(pages_df)
    calls = []
    for name in ("count", "collect", "toPandas"):

        def wrapped(self, *a, _orig=getattr(cls, name), _name=name, **k):
            calls.append((_name, sys._getframe(1).f_code.co_name))
            return _orig(self, *a, **k)

        monkeypatch.setattr(cls, name, wrapped)
    DedupPipeline(
        spark, PipelineConfig(), checkpoint_dir=str(tmp_path / "ck"), resume=False
    ).run(pages_df)
    monkeypatch.undo()
    assert sorted(calls) == [
        ("collect", "cluster_labels"),
        ("count", "candidates"),
        ("count", "verify_edges"),
    ]


def test_checkpoint_probes_through_hadoop_fs_scheme(spark, tmp_path):
    """The checkpoint layer must work through a URI scheme (file://...),
    not bare os.path probes — the storage posture of the S3/HDFS + Iceberg
    deployment the module targets. Mirrors the r2 streaming fix."""
    from pcompress_spark.checkpoint import CheckpointManager

    base = f"file://{tmp_path}/ck_uri"
    ck = CheckpointManager(spark, base, resume=True)
    assert not ck.exists("stage1")
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(10).selectExpr("id", "id * 2 AS twice")

    out1 = ck.materialize("stage1", build)
    assert out1.count() == 10 and calls["n"] == 1
    # a FRESH manager on the same URI must see the committed stage (resume)
    ck2 = CheckpointManager(spark, base, resume=True)
    assert ck2.exists("stage1")
    out2 = ck2.materialize("stage1", build)
    assert out2.count() == 10 and calls["n"] == 1  # build skipped
    # lineage survives through the scheme too (loaded from storage)
    stages = {r["stage"] for r in ck2.lineage()}
    assert "stage1" in stages
    rec = [r for r in ck2.lineage() if r["stage"] == "stage1"][0]
    assert rec["rows"] == 10 and rec["bytes"] > 0
    assert ck.rows("stage1") == 10  # footer metadata, no Spark job
    # clear() removes through the scheme
    ck2.clear("stage1")
    assert not ck2.exists("stage1")
