"""Small-operator coverage: size parsing (F13), driver heap default,
CRC32 (F5), sorted source (S5), fixed-block projection (P2)."""

import os
import sys
import zlib

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from pcompress_spark.config import PipelineConfig, parse_size  # noqa: E402
from pcompress_spark.operators.locality import sorted_source  # noqa: E402
from pcompress_spark.session import driver_memory  # noqa: E402


def test_parse_size_suffixes():
    assert parse_size("8k") == 8192
    assert parse_size("8K") == 8192
    assert parse_size("2m") == 2 * 1024 * 1024
    assert parse_size("1G") == 1 << 30
    assert parse_size("3t") == 3 << 40
    assert parse_size("512") == 512
    assert parse_size(512) == 512
    for bad in ("", "k", "1.5m", "m1", "12x"):
        with pytest.raises(ValueError):
            parse_size(bad)


def test_driver_memory_default_fits_machine(monkeypatch):
    # a heap cap above physical memory lets the shared test JVM grow until
    # it is OOM-killed; the default must fit the box, an override must win
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    heap = parse_size(driver_memory())
    assert 1 << 30 <= heap <= max(1 << 30, phys // 2)
    monkeypatch.setenv("SPARK_DRIVER_MEM", "6g")
    assert driver_memory() == "6g"


def test_config_from_args_routes_size_fields():
    cfg = PipelineConfig.from_args(substring_min_len="2k", max_bucket_docs=64)
    assert cfg.substring_min_len == 2048
    assert cfg.max_bucket_docs == 64
    # non-size fields pass through untouched
    cfg2 = PipelineConfig.from_args(tau_extra=0.5)
    assert cfg2.tau_extra == 0.5


def test_every_config_field_is_read():
    """A PipelineConfig field nothing reads is a silent no-op: a
    --conf-override for it is accepted and ignored. Every field must be
    read as an attribute in code (comments and docstrings do not count)
    somewhere under pcompress_spark/ or jobs/ outside config.py —
    directly, or through a public PipelineConfig method read there."""
    import ast
    import dataclasses
    import inspect
    import pathlib
    import textwrap

    def attrs(tree) -> set[str]:
        return {n.attr for n in ast.walk(tree) if isinstance(n, ast.Attribute)}

    root = pathlib.Path(__file__).resolve().parents[1]
    config_py = root / "pcompress_spark" / "config.py"
    read = set()
    for d in ("pcompress_spark", "jobs"):
        for p in (root / d).rglob("*.py"):
            if p != config_py:
                read |= attrs(ast.parse(p.read_text()))
    for name, fn in vars(PipelineConfig).items():
        if inspect.isfunction(fn) and not name.startswith("_") and name in read:
            read |= attrs(ast.parse(textwrap.dedent(inspect.getsource(fn))))
    unread = [
        f.name for f in dataclasses.fields(PipelineConfig) if f.name not in read
    ]
    assert not unread, f"PipelineConfig fields nothing reads: {unread}"


def test_rest_timestamps_parse_to_naive_utc():
    """scripts/incr_profile.py: an offset-carrying ISO timestamp must come
    back naive UTC, so it subtracts from the UI's GMT form instead of
    raising TypeError (aware minus naive)."""
    import importlib.util
    import pathlib
    from datetime import datetime

    path = pathlib.Path(__file__).resolve().parents[1] / "scripts" / "incr_profile.py"
    spec = importlib.util.spec_from_file_location("incr_profile", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    aware = mod._parse_rest_ts("2026-01-01T02:00:00.500+02:00")
    gmt = mod._parse_rest_ts("2026-01-01T00:00:01.500GMT")
    assert aware == datetime(2026, 1, 1, 0, 0, 0, 500_000)
    assert (gmt - aware).total_seconds() == 1.0


def test_crc32_matches_zlib(spark):
    """F5: Spark's crc32 is the same CRC-32 the reference's chunk headers
    use (pcompress.c:2079-2094) — known-answer vs zlib."""
    rows = ["", "hello world", "the quick brown fox" * 10]
    df = spark.createDataFrame([(s,) for s in rows], "s string")
    got = {
        r.s: r.c
        for r in df.select("s", F.crc32(F.col("s").cast("binary")).alias("c")).collect()
    }
    for s in rows:
        assert got[s] == zlib.crc32(s.encode()), s


def test_sorted_source_reorders_not_drops(spark):
    from pcompress_spark.datagen import gen_pages_spark

    pages = gen_pages_spark(spark, 400, partitions=8)
    out = sorted_source(pages, num_partitions=4)
    # row set preserved exactly
    assert out.count() == 400
    assert out.select("url").subtract(pages.select("url")).count() == 0
    # partitions are internally sorted by the locality key
    def check_sorted(it):
        prev = None
        for row in it:
            key = (row.lang, len(row.text) // 256, row.url)
            assert prev is None or key >= prev, (prev, key)
            prev = key
        yield None

    out.select("lang", "text", "url").rdd.mapPartitions(
        lambda it: check_sorted(it)
    ).count()


def test_fixed_blocks_groups_shared_blocks(spark):
    """Two docs sharing an identical aligned 64-char block meet in one
    block_sha group with the earlier doc as representative."""
    from pcompress_spark.driver_queries import FIXED_BLK

    shared = "x" * FIXED_BLK
    df = spark.createDataFrame(
        [(1, shared + "a" * 10), (2, shared + "b" * 10), (3, "c" * 70)],
        "doc_id long, text string",
    )
    blocks = df.filter(F.length("text") > 0).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, cast(ceil(length(text) / {FIXED_BLK}.0)"
                f" as int) - 1), i -> sha2(substring(text, i * {FIXED_BLK} + 1,"
                f" {FIXED_BLK}), 256))"
            )
        ).alias("block_sha"),
    )
    agg = blocks.groupBy("block_sha").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.min("doc_id").alias("rep_doc"),
    )
    multi = [r for r in agg.collect() if r.n_docs > 1]
    assert len(multi) == 1
    assert multi[0].n_docs == 2 and multi[0].rep_doc == 1


def test_scaling_bench_keeps_the_fuller_artifact(tmp_path):
    """scripts/scaling_bench.py must not overwrite a scaling artifact that
    holds more legs than the new result (a lost 2->8 record)."""
    import importlib.util
    import json
    import pathlib

    path = pathlib.Path(__file__).resolve().parents[1] / "scripts" / "scaling_bench.py"
    spec = importlib.util.spec_from_file_location("scaling_bench", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    art = tmp_path / "BENCH_SCALING.json"
    two = {"docs": 200_000, "legs": [{"from": 2, "to": 8}, {"from": 8, "to": 32}]}
    assert mod.write_artifact(str(art), two)  # no artifact yet
    assert not mod.write_artifact(str(art), {"docs": 1, "legs": []})
    assert not mod.write_artifact(str(art), {"docs": 2, "legs": two["legs"][:1]})
    assert json.loads(art.read_text()) == two
    three = {"docs": 3, "legs": two["legs"] + [{"from": 32, "to": 64}]}
    assert mod.write_artifact(str(art), three)
    assert json.loads(art.read_text()) == three
