"""Per-stage / per-partition lineage and metrics tables.

North rule: "resumable from checkpoint with per-partition lineage +
metrics". Stage outputs are materialized tables (parquet here; Iceberg
snapshots on a real cluster — the sandbox has no Iceberg runtime jar, see
SURVEY.md §7.5, so the writer abstracts over both). Lineage rows record one
entry per output partition (Spark partition id → row count), appended
atomically AFTER the stage's data write succeeds, so a killed run re-executes
any stage whose lineage is missing — stage-level idempotent resume.

Each write of a stage first appends a ``started`` row, and every lineage
row carries ``input_fp``, the ``fingerprint`` of the input the stage was
built from: ``materialize``, the one write-once-and-reuse path of the
pipeline's stages and the entry module's stores, reuses a stage only when
its latest write committed, from the same input (``done_fingerprint``).

Schemas (SURVEY.md §1.2):
  _lineage: run_id, stage, part_id, rows_out, started_at, finished_at, status, input_fp
  _metrics: run_id, stage, key, value
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..partitioning import local_path

LINEAGE_SCHEMA = (
    "run_id string, stage string, part_id int, rows_out long, "
    "started_at double, finished_at double, status string, input_fp string"
)
METRICS_SCHEMA = "run_id string, stage string, key string, value double"


def _file_stamp(df: DataFrame) -> str | None:
    """Each file's size and mtime_ns folded in path order, when ``df`` is a
    bare scan of local files (``DataFrame.inputFiles``, no Spark job); None
    for any other plan, since a filter, limit or union over the same files
    reads other rows."""
    if df._jdf.queryExecution().analyzed().getClass().getSimpleName() != "LogicalRelation":
        return None
    paths = [local_path(f) for f in sorted(df.inputFiles())]
    if not paths or None in paths:
        return None
    stamp = 0
    for path in paths:
        st = os.stat(path)
        stamp = (stamp * 1_000_003 + st.st_size + st.st_mtime_ns) % (1 << 60)
    return f"{stamp:x}"


def _content_fold(df: DataFrame) -> list:
    """The row count, the xor of one row hash and the sum of a second
    (order-insensitive; xor alone cancels across multisets)."""
    cols = [F.col(c) for c in df.columns]
    return [
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*cols)).alias("x"),
        # decimal accumulator: a bigint sum of 64-bit hashes overflows under ANSI mode
        F.sum(F.xxhash64(F.lit("fold"), *cols).cast("decimal(38,0)")).alias("s"),
    ]


def _fold_hex(fold) -> str:
    return f"rows{fold['n']}_{(fold['x'] or 0) & ((1 << 64) - 1):x}_{int(fold['s'] or 0) % (1 << 64):x}"


def fingerprint(df: DataFrame) -> str:
    """The identity of the input ``df`` reads, for reuse decisions: a
    materialized store or a resumed stage is valid only while its input's
    fingerprint is unchanged. A bare scan of local files is stamped by its
    files, so a file rewritten in place gets a new fingerprint; any other
    frame folds its content in one aggregate job."""
    return _file_stamp(df) or _fold_hex(df.agg(*_content_fold(df)).first())


def observed_fingerprint(df: DataFrame) -> tuple[DataFrame, Callable[[], str]]:
    """``df`` and a getter of its ``fingerprint`` that costs no job of its
    own: a file stamp is taken now, a content fold rides the first action
    on the returned frame (``DataFrame.observe``), and the getter waits for
    that action."""
    stamp = _file_stamp(df)
    if stamp is not None:
        return df, lambda: stamp
    obs = Observation()
    return df.observe(obs, *_content_fold(df)), lambda: _fold_hex(obs.get)


def _data_files(path: str) -> list[str]:
    """Parquet data files under ``path``, through partition subdirs;
    hidden/_ files skipped."""
    return [
        os.path.join(root, n)
        for root, _dirs, names in os.walk(path)
        for n in names
        if n.endswith(".parquet") and not n.startswith(("_", "."))
    ]


class StageWriter:
    def __init__(self, spark: SparkSession, workdir: str, run_id: str):
        self.spark = spark
        self.workdir = workdir
        self.run_id = run_id

    def _stage_path(self, stage: str) -> str:
        return os.path.join(self.workdir, stage)

    def done_fingerprint(self, stage: str) -> str | None:
        """The ``input_fp`` of the stage's latest write if that write
        committed, else None. The latest write is the one with the latest
        ``started_at``; a kill between its data write and its ``done`` rows
        leaves only its ``started`` row, so data of an uncommitted write is
        never vouched for by an older commit. Read with pyarrow: no Spark
        job."""
        import pyarrow.parquet as pq

        lineage = os.path.join(self.workdir, "_lineage")
        success = os.path.join(self._stage_path(stage), "_SUCCESS")
        if not (os.path.exists(success) and os.path.isdir(lineage)):
            return None
        rows = [r for r in pq.read_table(lineage).to_pylist() if r["stage"] == stage]
        if not rows:
            return None
        latest = max(r["started_at"] for r in rows)
        done = [r for r in rows if r["started_at"] == latest and r["status"] == "done"]
        return done[0].get("input_fp") if done else None

    def materialize(
        self, stage: str, reuse: bool, compute: Callable[[], DataFrame],
        input_fp: Callable[[], str], partition_by: list[str] | None = None,
    ) -> DataFrame:
        """The stage table: read back when ``reuse`` is set and its latest
        write committed from an input of fingerprint ``input_fp()``, else
        ``compute()`` written by ``write_stage``."""
        if reuse and self.done_fingerprint(stage) == input_fp():
            return self.read_stage(stage)
        return self.write_stage(stage, compute(), partition_by, input_fp)

    def compact_stage(self, stage: str, target_file_bytes: int) -> dict:
        """Small-file compaction of a stage table — the Iceberg
        ``rewriteDataFiles`` maintenance analog: many small part files
        (the residue of low-volume stages and wide partitioned writes) are
        rewritten into ~``target_file_bytes`` files, preserving the
        partition layout, so readers see identical rows throughout.

        The rewrite is crash-safe: the new table is written into
        ``.compact_tmp`` (data, then the schema manifest — no window where
        the live table lacks its schema), then base→``.compact_old``,
        tmp→base, old deleted. Every crash point leaves either the old table
        or a COMPLETE new one on disk, recovered by ``_recover_compaction``.

        Returns {"rewritten": bool, "files_before": n, "files_after": n}.
        """
        import math
        import shutil

        if target_file_bytes <= 0:
            raise ValueError(f"target_file_bytes must be positive, got {target_file_bytes}")
        self._recover_compaction(stage)
        base = self._stage_path(stage)
        files = _data_files(base)
        total = sum(os.path.getsize(f) for f in files)
        part_cols = self._detect_partition_cols(base)
        target_n = max(1, math.ceil(total / target_file_bytes))
        # floor below which a rewrite cannot help: target_n files for a
        # flat layout, one file per live partition dir for a partitioned one
        floor = len({os.path.dirname(f) for f in files}) if part_cols else target_n
        if len(files) <= floor:
            return {
                "rewritten": False,
                "files_before": len(files),
                "files_after": len(files),
            }
        df = self.read_stage(stage)
        df = df.repartition(*part_cols) if part_cols else df.repartition(target_n)
        tmp, old = base + ".compact_tmp", base + ".compact_old"
        writer = df.write.mode("overwrite")
        if part_cols:
            writer = writer.partitionBy(*part_cols)
        writer.parquet(tmp)
        with open(os.path.join(tmp, "_stage_schema.json"), "w") as f:
            f.write(df.schema.json())
        os.rename(base, old)
        os.rename(tmp, base)
        shutil.rmtree(old)
        return {
            "rewritten": True,
            "files_before": len(files),
            "files_after": len(_data_files(base)),
        }

    def _recover_compaction(self, stage: str) -> None:
        """Finish or roll back a compaction swap a crash left half-done.

        States (see ``compact_stage``): tmp carries its schema manifest
        only once it is a COMPLETE new table (data then manifest are written
        before any rename). If ``base`` is missing, the crash landed
        mid-swap — promote the complete tmp, else restore ``.compact_old``.
        If ``base`` exists, any leftover tmp/old dir is stale and is
        removed. Called before every compaction and read (``read_stage``)."""
        import shutil

        base = self._stage_path(stage)
        tmp, old = base + ".compact_tmp", base + ".compact_old"
        if not os.path.isdir(base):
            if os.path.isdir(tmp) and os.path.exists(
                os.path.join(tmp, "_stage_schema.json")
            ):
                os.rename(tmp, base)
            elif os.path.isdir(old):
                os.rename(old, base)
        for p in (tmp, old):
            if os.path.isdir(base) and os.path.isdir(p):
                shutil.rmtree(p)

    def _detect_partition_cols(self, base: str) -> list[str]:
        """Partition columns of an existing stage dir (from `col=value`
        subdir names) so compaction preserves the layout."""
        for name in sorted(os.listdir(base)):
            if "=" in name and os.path.isdir(os.path.join(base, name)):
                return [name.split("=", 1)[0]]
        return []

    def read_stage(self, stage: str) -> DataFrame:
        """The stage table, read with its persisted schema (a zero-row
        partitioned write leaves no file to infer one from), after
        ``_recover_compaction`` has finished any half-done swap."""
        self._recover_compaction(stage)
        base = self._stage_path(stage)
        schema_path = os.path.join(base, "_stage_schema.json")
        if not os.path.exists(schema_path):
            return self.spark.read.parquet(base)
        import json

        from pyspark.sql.types import StructType

        with open(schema_path) as f:
            schema = StructType.fromJson(json.load(f))
        return self.spark.read.schema(schema).parquet(base)

    def write_stage(
        self,
        stage: str,
        df: DataFrame,
        partition_by: list[str] | None,
        input_fp: Callable[[], str],
    ) -> DataFrame:
        """Materialize a stage between a ``started`` lineage row and its
        per-partition ``done`` rows. ``input_fp`` is called after the data
        write, so it may return a fingerprint that write observed."""
        started = time.time()
        started_row = (self.run_id, stage, -1, 0, started, started, "started", None)
        self._append_rows("_lineage", [started_row], LINEAGE_SCHEMA)
        path = self._stage_path(stage)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        # persist the stage schema in the manifest: a zero-row partitioned
        # write leaves no data files, so later schema inference would fail
        # (hit by pipelines whose scorer links no entities → zero triples)
        with open(os.path.join(path, "_stage_schema.json"), "w") as f:
            f.write(df.schema.json())
        out = self.spark.read.schema(df.schema).parquet(path)
        # per-partition row counts come from the parquet FOOTERS, read
        # driver-side — the manifest-stats analog of Iceberg's per-file
        # counts. The previous groupBy(spark_partition_id).count() RE-READ
        # the entire just-written stage (at crawl scale: a second full scan
        # of every stage output per run); footers cost one metadata read per
        # file. part_id = file ordinal in sorted path order (one file per
        # write task, stable).
        per_part = self._per_file_counts(path)
        fp = input_fp()
        finished = time.time()
        self._append_rows(
            "_lineage",
            [(self.run_id, stage, pid, int(n), started, finished, "done", fp) for pid, n in per_part]
            or [(self.run_id, stage, 0, 0, started, finished, "done", fp)],
            LINEAGE_SCHEMA,
        )
        total = sum(n for _pid, n in per_part)
        self.log_metrics(
            stage,
            {"rows_out": float(total), "seconds": finished - started},
        )
        return out

    def _per_file_counts(self, path: str) -> list[tuple[int, int]]:
        """(part_id, rows) per written parquet data file, from the parquet
        footers (pyarrow metadata read — no Spark job, no data scan)."""
        import pyarrow.parquet as pq

        return [
            (i, pq.ParquetFile(f).metadata.num_rows)
            for i, f in enumerate(sorted(_data_files(path)))
        ]

    def _append_rows(self, table: str, rows: list[tuple], schema: str) -> None:
        """Append a handful of driver-side bookkeeping rows as ONE parquet
        file written with pyarrow — no Spark job at all. The previous
        ``createDataFrame(...).write.mode("append")`` launched a
        default-parallelism job per append (4 lineage + 6 metrics appends ≈
        3 s of pure scheduler/commit overhead per pipeline run; at 1000
        executors the same rows would still ride a full job). The file is
        written to a hidden temp name and os.rename'd in (atomic), so a
        concurrent Spark read of the table dir never sees a partial file;
        Spark reads the pyarrow files transparently: their columns are the
        ``schema`` DDL (``LINEAGE_SCHEMA``/``METRICS_SCHEMA``)."""
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        type_map = {"string": pa.string(), "int": pa.int32(), "long": pa.int64(), "double": pa.float64()}
        fields = [f.split() for f in schema.split(", ")]
        cols = list(zip(*rows)) if rows else [[] for _ in fields]
        table_pa = pa.table(
            {
                name: pa.array(list(col), type=type_map[t])
                for (name, t), col in zip(fields, cols)
            }
        )
        d = os.path.join(self.workdir, table)
        os.makedirs(d, exist_ok=True)
        fname = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(d, f".{fname}.tmp")
        pq.write_table(table_pa, tmp)
        os.rename(tmp, os.path.join(d, fname))

    def log_metrics(self, stage: str, kv: dict[str, float]) -> None:
        rows = [(self.run_id, stage, k, float(v)) for k, v in kv.items()]
        self._append_rows("_metrics", rows, METRICS_SCHEMA)

    def read_metrics(self) -> DataFrame | None:
        path = os.path.join(self.workdir, "_metrics")
        if not os.path.exists(path):
            return None
        return self.spark.read.parquet(path)
