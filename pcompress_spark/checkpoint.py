"""Durable stage checkpoints + per-stage lineage metrics (S7/S8/A4).

Reference analogs: the segcache spill file (rabin/global/index.c:335-453)
and ordered chunk writer + trailer commit (pcompress.c:2101-2153,
:2909-2917). Ours: each stage lands in a table; a run resumes by skipping
stages whose table already committed. On a real cluster the format is
Iceberg (atomic snapshot commit); the sandbox writes parquet directories,
whose `_SUCCESS` marker plays the role of the snapshot commit.

Storage-agnostic: every probe/mutation goes through the Hadoop FileSystem
API resolved from the checkpoint URI's scheme (file://, hdfs://, s3a://,
...), never os.path/shutil — a local-FS probe on an object-store
deployment would silently degrade resume to never-resume and lose lineage
(the exact bug class round 2 fixed in streaming via `_try_read_seen`,
streaming/ingest.py). The reference's commit machinery is likewise
storage-real (index.c:335-453, pcompress.c:2909-2917).

Lineage (metadata stream analog, meta_stream.c): one row per stage with
rows / bytes / dup_ratio / wall_ms AND a per-partition breakdown (one
entry per written data file with its rows/bytes — north-rule "per-
partition lineage"). Records accumulate driver-side and the
`_lineage.json` file is atomically rewritten through the filesystem on
each append — append() is not supported on object stores, full rewrite of
a small metadata file is.

A stage costs exactly its write: rows and bytes come from parquet
footers, the read-back carries the written schema (no inference job), and
dup_ratio comes either from footers of a stage holding one row per
distinct unit (`set_dup_ratio`) or from an aggregate observed on the
write itself (`materialize(distinct=...)`) — never from a separate
Spark job.
"""

from __future__ import annotations

import json
import threading
import time

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType


def _nullable(t: DataType) -> DataType:
    """`t` with every field, element and value nullable — the schema a
    parquet write stores and a read infers."""
    if isinstance(t, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in t]
        )
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


class _HadoopFs:
    """Thin wrapper over org.apache.hadoop.fs.FileSystem for the scheme of
    `base_uri` (py4j; driver-side metadata ops only — data moves through
    Spark reads/writes, never through this class)."""

    def __init__(self, spark: SparkSession, base_uri: str) -> None:
        jvm = spark._jvm
        self._jPath = jvm.org.apache.hadoop.fs.Path
        self._fs = self._jPath(base_uri).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )
        self._jvm = jvm

    def exists(self, uri: str) -> bool:
        return self._fs.exists(self._jPath(uri))

    def delete(self, uri: str) -> None:
        self._fs.delete(self._jPath(uri), True)

    def mkdirs(self, uri: str) -> None:
        self._fs.mkdirs(self._jPath(uri))

    def rename(self, src: str, dst: str) -> bool:
        return bool(self._fs.rename(self._jPath(src), self._jPath(dst)))

    def size(self, uri: str) -> int:
        return int(self._fs.getContentSummary(self._jPath(uri)).getLength())

    def list_files(self, uri: str) -> dict[str, int]:
        """{file_name: bytes} for the direct children of `uri` (data files
        only — hidden/_SUCCESS/_lineage entries skipped)."""
        out: dict[str, int] = {}
        for st in self._fs.listStatus(self._jPath(uri)):
            if not st.isFile():
                continue
            name = st.getPath().getName()
            if name.startswith(("_", ".")):
                continue
            out[name] = int(st.getLen())
        return out

    def write_text(self, uri: str, data: str) -> None:
        out = self._fs.create(self._jPath(uri), True)
        try:
            out.write(bytearray(data.encode("utf-8")))
        finally:
            out.close()

    def read_text(self, uri: str) -> str:
        stream = self._fs.open(self._jPath(uri))
        try:
            return self._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()


class CheckpointManager:
    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        resume: bool = True,
    ) -> None:
        self.spark = spark
        self.base_dir = base_dir.rstrip("/")
        self.resume = resume
        self.fs = _HadoopFs(spark, self.base_dir)
        self.fs.mkdirs(self.base_dir)
        self._lineage_path = f"{self.base_dir}/_lineage.json"
        self._lineage_lock = threading.Lock()
        # resume case: a prior run's lineage is the prefix of this one
        self._lineage_rows: list[dict] = self._load_lineage()

    # -- paths / existence ------------------------------------------------
    def path(self, name: str) -> str:
        return f"{self.base_dir}/{name}"

    def exists(self, name: str) -> bool:
        return self.fs.exists(f"{self.path(name)}/_SUCCESS")

    def clear(self, name: str | None = None) -> None:
        if name is None:
            self.fs.delete(self.base_dir)
            self.fs.mkdirs(self.base_dir)
            self._lineage_rows = []
        else:
            self.fs.delete(self.path(name))

    # -- save / load -------------------------------------------------------
    def load(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self.path(name))

    def materialize(
        self,
        name: str,
        build,
        distinct: Column | None = None,
    ) -> DataFrame:
        """Run `build()` unless `name` is already checkpointed; always return
        the checkpointed DataFrame (read back from storage, so downstream
        stages re-plan from a scan — lineage is truncated at every stage).

        The write is the stage's only Spark action. The read-back declares
        the written schema (every field nullable, as parquet stores it),
        so no schema-inference job follows the write; a resumed stage
        still infers from its files.

        distinct: an aggregate Column counting the stage's distinct units
        (e.g. representatives among assignments). It is observed on the
        write, and the lineage row then carries dup_ratio =
        1 - distinct/rows.
        """
        if self.resume and self.exists(name):
            return self.load(name)
        t0 = time.time()
        df = build()
        obs = None
        if distinct is not None:
            obs = Observation()
            df = df.observe(obs, distinct.alias("n"))
        df.write.mode("overwrite").parquet(self.path(name))
        wall_ms = int((time.time() - t0) * 1000)
        self._record(name, wall_ms)
        if obs is not None:
            self.set_dup_ratio(name, obs.get["n"] or 0)
        return self.spark.read.schema(_nullable(df.schema)).parquet(
            self.path(name)
        )

    def note(self, stage: str, wall_ms: int, rows: int = -1, **extra) -> None:
        """Record a sub-stage lineage row (no table of its own) — used for
        the in-memory intermediates (channels, prefilter, verify) so the
        per-stage wall budget is observable without extra barriers."""
        self._append_lineage(
            {"stage": stage, "rows": rows, "wall_ms": wall_ms, **extra}
        )

    def set_dup_ratio(self, stage: str, n_distinct: int) -> None:
        """Set dup_ratio = 1 - n_distinct/rows on committed stage `stage`'s
        latest lineage row (no-op when it has none). The pipeline passes
        rows("reps") for sigs: reps holds one row per distinct text."""
        with self._lineage_lock:
            rec = next(
                (
                    r
                    for r in reversed(self._lineage_rows)
                    if r["stage"] == stage and "n_partitions" in r
                ),
                None,
            )
            if rec is None:
                return
            rows = rec["rows"]
            rec["dup_ratio"] = round(1.0 - n_distinct / rows, 6) if rows else 0.0
            self._write_lineage()

    # -- lineage -----------------------------------------------------------
    def _record(self, stage: str, wall_ms: int) -> None:
        """Stage lineage row with PER-PARTITION detail (north rule): one
        entry per written data file (file == output partition) with its
        rows and bytes, plus stage totals.

        Cost discipline: per-file rows come from the parquet FOOTERS
        (driver-side metadata reads through the Hadoop FileSystem — the
        same bytes `df.count()` would consult, no Spark job, no data
        scan; an earlier rollup-scan variant cost ~10 s per pipeline at
        200k docs and visibly dented the 2→8 scaling leg)."""
        partitions = self._partitions(stage)
        rows = sum(p["rows"] for p in partitions)
        rec = {
            "stage": stage,
            "rows": rows,
            # data bytes from the listing already in hand — a second
            # recursive getContentSummary walk is one more object-store
            # LIST round-trip per stage for the same answer
            "bytes": sum(p["bytes"] for p in partitions),
            "wall_ms": wall_ms,
            "n_partitions": len(partitions),
            "partitions": partitions,
        }
        self._append_lineage(rec)

    def rows(self, name: str) -> int:
        """Row count of committed stage `name` from its parquet footers (no
        Spark job; equally right for a stage a resumed run skipped)."""
        return sum(p["rows"] for p in self._partitions(name))

    def _partitions(self, name: str) -> list[dict]:
        """{file, rows, bytes} per data file of stage `name`."""
        d = self.path(name)
        return [
            {"file": f, "rows": self._footer_rows(f"{d}/{f}"), "bytes": n}
            for f, n in sorted(self.fs.list_files(d).items())
        ]

    def _footer_rows(self, file_uri: str) -> int:
        """Row count of one parquet file from its footer metadata
        (ParquetFileReader via py4j; storage-agnostic — goes through the
        same Hadoop FileSystem as every other probe here)."""
        jvm = self.spark._jvm
        conf = self.spark._jsc.hadoopConfiguration()
        in_file = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            jvm.org.apache.hadoop.fs.Path(file_uri), conf
        )
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(in_file)
        try:
            return int(reader.getRecordCount())
        finally:
            reader.close()

    def _append_lineage(self, rec: dict) -> None:
        # lock: a CheckpointManager may be shared by worker threads that
        # note() concurrently; the rewrite must serialize (atomic full rewrite, not append — append
        # is unsupported on object stores, a small metadata rewrite is not)
        with self._lineage_lock:
            self._lineage_rows.append(rec)
            self._write_lineage()

    def _write_lineage(self) -> None:
        self.fs.write_text(
            self._lineage_path,
            "\n".join(json.dumps(r) for r in self._lineage_rows) + "\n",
        )

    def _load_lineage(self) -> list[dict]:
        if not self.fs.exists(self._lineage_path):
            return []
        text = self.fs.read_text(self._lineage_path)
        return [json.loads(line) for line in text.splitlines() if line.strip()]

    def lineage(self) -> list[dict]:
        return list(self._lineage_rows)
