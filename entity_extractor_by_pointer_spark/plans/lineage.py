"""Per-stage / per-partition lineage and metrics tables.

North rule: "resumable from checkpoint with per-partition lineage +
metrics". Stage outputs are materialized tables (parquet here; Iceberg
snapshots on a real cluster — the sandbox has no Iceberg runtime jar, see
SURVEY.md §7.5, so the writer abstracts over both). Lineage rows record one
entry per output partition (Spark partition id → row count), appended
atomically AFTER the stage's data write succeeds, so a killed run re-executes
any stage whose lineage is missing — stage-level idempotent resume.

Schemas (SURVEY.md §1.2):
  _lineage: run_id, stage, part_id, rows_out, started_at, finished_at, status
  _metrics: run_id, stage, key, value
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LINEAGE_SCHEMA = (
    "run_id string, stage string, part_id int, rows_out long, "
    "started_at double, finished_at double, status string"
)
METRICS_SCHEMA = "run_id string, stage string, key string, value double"


class StageWriter:
    def __init__(self, spark: SparkSession, workdir: str, run_id: str):
        self.spark = spark
        self.workdir = workdir
        self.run_id = run_id

    def _stage_path(self, stage: str) -> str:
        return os.path.join(self.workdir, stage)

    def is_done(self, stage: str) -> bool:
        path = self._stage_path(stage)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            return False
        lineage = self.read_lineage()
        if lineage is None:
            return False
        return (
            lineage.where(
                (F.col("stage") == stage) & (F.col("status") == "done")
            ).limit(1).count()
            > 0
        )

    def _seq_path(self, inc_id: str) -> str:
        return os.path.join(self.workdir, "pages_inc", inc_id, "_commit_seq")

    def _read_seq(self, inc_id: str) -> int | None:
        try:
            with open(self._seq_path(inc_id)) as f:
                import json

                return int(json.load(f)["seq"])
        except (OSError, ValueError, KeyError):
            return None

    def assign_commit_seq(self, inc_id: str) -> int:
        """Persist a monotonic commit sequence number for a committed
        increment (idempotent). Filesystem mtime is NOT a reliable snapshot
        order (two commits within mtime granularity, dir copies, clock skew
        can swap it and silently change what ``read_stage(as_of=...)``
        includes), so the writer stamps an explicit sequence at commit time —
        the parquet analog of Iceberg's snapshot log ordinal.

        Before allocating, any OTHER committed-but-unstamped dir (a crash
        landed between its pages commit and its stamp) is healed first, in
        mtime order — so a new commit can never be ordered before an
        increment that truly committed earlier (round-3 ADVICE)."""
        existing = self._read_seq(inc_id)
        if existing is not None:
            return existing
        root = os.path.join(self.workdir, "pages_inc")
        unstamped_others = [
            d
            for d in self._committed_dirs()
            if d != inc_id and self._read_seq(d) is None
        ]
        for d in sorted(
            unstamped_others,
            key=lambda d: os.path.getmtime(os.path.join(root, d, "_SUCCESS")),
        ):
            self._assign_next_seq(d)
        return self._assign_next_seq(inc_id)

    def _assign_next_seq(self, inc_id: str) -> int:
        """Stamp ``inc_id`` with max(existing seq)+1 — no healing, no
        idempotence check (callers guarantee both)."""
        seqs = [
            s
            for s in (self._read_seq(d) for d in self._committed_dirs())
            if s is not None
        ]
        seq = (max(seqs) + 1) if seqs else 1
        import json

        with open(self._seq_path(inc_id), "w") as f:
            json.dump({"seq": seq, "committed_at": time.time()}, f)
        return seq

    def _committed_dirs(self) -> list[str]:
        root = os.path.join(self.workdir, "pages_inc")
        if not os.path.exists(root):
            return []
        return [
            d
            for d in os.listdir(root)
            if os.path.exists(os.path.join(root, d, "_SUCCESS"))
        ]

    def list_snapshots(self) -> list[str]:
        """Committed increment snapshot ids in commit order.

        An increment is committed once its *pages* snapshot (written LAST by
        ``run_incremental``) has a ``_SUCCESS`` marker; order is the explicit
        ``_commit_seq`` stamp. A committed dir missing its stamp (crash in
        the tiny window between the pages write and the stamp) is healed
        here: assigned the next sequence in mtime order — idempotent, and
        strictly after every stamped snapshot, which matches true commit
        order because the stamp is written immediately at commit."""
        done = self._committed_dirs()
        unstamped = [d for d in done if self._read_seq(d) is None]
        if unstamped:
            root = os.path.join(self.workdir, "pages_inc")
            for d in sorted(
                unstamped,
                key=lambda d: os.path.getmtime(os.path.join(root, d, "_SUCCESS")),
            ):
                self.assign_commit_seq(d)
        return sorted(done, key=lambda d: self._read_seq(d) or 0)

    def expire_snapshots(
        self,
        keep_last: int,
        stages: tuple[str, ...] = ("mentions", "triples", "pages"),
    ) -> dict[str, list[str]]:
        """Retention: compact all but the last ``keep_last`` committed
        increments into each stage's base table, then delete their snapshot
        dirs — plus any orphaned (un-committed) increment dirs. The Iceberg
        ``expireSnapshots`` maintenance analog; run it from the single
        writer, not concurrently with other writers.

        Post-conditions (pytest-pinned): ``read_stage()`` and
        ``read_stage(as_of=retained_id)`` return exactly the same rows as
        before (expired data now lives in the base table, which every as_of
        read includes); expired ids are no longer valid ``as_of`` targets;
        orphaned dirs (no ``_SUCCESS``, or no pages commit) are removed."""
        import shutil

        for stage in stages:
            self._recover_compaction(stage)
        snaps = self.list_snapshots()
        expired = snaps[:-keep_last] if keep_last > 0 else list(snaps)
        committed = set(snaps)
        # 1) fold each expired committed increment into the stage base tables
        #    (pages LAST: its dir is the commit marker). Crash-safety within
        #    a stage: the new base carries a _folded.json manifest naming the
        #    increments it already contains, written BEFORE the swap — a
        #    crash after the swap but before the increment dirs are deleted
        #    would otherwise leave read_stage double-counting those rows and
        #    a retry re-folding them permanently (round-4 ADVICE, medium);
        #    _purge_folded finishes the deletion on every recover/read
        for stage in stages:
            inc_root = os.path.join(self.workdir, f"{stage}_inc")
            dirs = [
                os.path.join(inc_root, d)
                for d in expired
                if os.path.isdir(os.path.join(inc_root, d))
                and os.path.exists(os.path.join(inc_root, d, "_SUCCESS"))
            ]
            if not dirs:
                continue
            base = self._stage_path(stage)
            df = self._read_root(base)
            for p in dirs:
                df = df.unionByName(self._read_root(base, p))
            self._swap_base(
                stage, df, folded_ids=[os.path.basename(p) for p in dirs]
            )
            self._purge_folded(stage)
        # 2) remove orphans: snapshot dirs that are not committed (their own
        #    _SUCCESS missing, or the pages commit marker never landed)
        orphans: list[str] = []
        for stage in stages:
            inc_root = os.path.join(self.workdir, f"{stage}_inc")
            if not os.path.isdir(inc_root):
                continue
            for d in os.listdir(inc_root):
                p = os.path.join(inc_root, d)
                if not os.path.isdir(p):
                    continue
                if d not in committed or not os.path.exists(
                    os.path.join(p, "_SUCCESS")
                ):
                    shutil.rmtree(p)
                    orphans.append(f"{stage}_inc/{d}")
        return {"expired": expired, "orphans_removed": orphans}

    def _swap_base(
        self,
        stage: str,
        df,
        part_cols: list[str] | None = None,
        folded_ids: list[str] | None = None,
    ) -> None:
        """THE crash-safe base-table rewrite, shared by ``expire_snapshots``
        (increment folding) and ``compact_stage`` (small-file rewrite) — a
        single copy so a future crash-window fix cannot silently miss one
        caller. Sequence: write the new base into ``.compact_tmp`` (data,
        then the schema manifest — round-3 ADVICE: no window where the live
        base lacks its schema — then the optional ``_folded.json``
        increment manifest), then rename base→old, tmp→base, delete old.
        Every crash point leaves either the old base or a COMPLETE new base
        on disk, recoverable by ``_recover_compaction``."""
        import shutil

        base = self._stage_path(stage)
        if part_cols is None:
            part_cols = self._detect_partition_cols(base)
        tmp = base + ".compact_tmp"
        if os.path.isdir(tmp):  # stale tmp from an aborted attempt
            shutil.rmtree(tmp)
        writer = df.write.mode("overwrite")
        if part_cols:
            writer = writer.partitionBy(*part_cols)
        writer.parquet(tmp)
        with open(os.path.join(tmp, "_stage_schema.json"), "w") as f:
            f.write(df.schema.json())
        if folded_ids is not None:
            import json

            with open(os.path.join(tmp, "_folded.json"), "w") as f:
                json.dump({"folded": folded_ids}, f)
        old = base + ".compact_old"
        if os.path.isdir(old):
            shutil.rmtree(old)
        os.rename(base, old)
        os.rename(tmp, base)
        shutil.rmtree(old)

    def compact_stage(
        self, stage: str, target_file_bytes: int = 128 << 20
    ) -> dict:
        """Small-file compaction of a stage BASE table — the Iceberg
        ``rewriteDataFiles`` maintenance analog: many small part files
        (the residue of incremental folds and low-volume stages) are
        rewritten into ~``target_file_bytes`` files, preserving the
        partition layout. Uses the SAME crash-safe tmp/old swap as
        ``expire_snapshots`` (every crash point recoverable by
        ``_recover_compaction``); increment snapshot dirs are untouched,
        so readers see identical rows throughout.

        Returns {"rewritten": bool, "files_before": n, "files_after": n}.
        """
        import math

        if target_file_bytes <= 0:
            raise ValueError(f"target_file_bytes must be positive, got {target_file_bytes}")
        self._recover_compaction(stage)
        base = self._stage_path(stage)

        def data_files() -> list[str]:
            out = []
            for root, _dirs, names in os.walk(base):
                for n in names:
                    if n.endswith(".parquet") and not n.startswith(("_", ".")):
                        out.append(os.path.join(root, n))
            return out

        files = data_files()
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
        df = self._read_root(base)
        df = df.repartition(*part_cols) if part_cols else df.repartition(target_n)
        self._swap_base(stage, df, part_cols=part_cols)
        return {
            "rewritten": True,
            "files_before": len(files),
            "files_after": len(data_files()),
        }

    def _recover_compaction(self, stage: str) -> None:
        """Finish or roll back a compaction swap a crash left half-done.

        States (see ``expire_snapshots``): tmp carries its schema manifest
        only once it is a COMPLETE new base (data then manifest are written
        before any rename). If ``base`` is missing, the crash landed mid-swap — promote
        the complete tmp, else restore ``.compact_old``. If ``base`` exists,
        any leftover tmp/old dir is stale and is removed. Called on every
        retry (``expire_snapshots``) and read (``read_stage``)."""
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
        self._purge_folded(stage)

    def _purge_folded(self, stage: str) -> None:
        """Delete increment dirs the live base records as already folded
        into it (the ``_folded.json`` manifest written before the compaction
        swap), then drop the manifest. Idempotent: re-deleting missing dirs
        is a no-op, and a crash between the deletions and the manifest
        unlink just retries both. Closes the window where a crash after the
        swap left folded increments still committed on disk — double-counted
        by ``read_stage`` and permanently re-folded by a retry (round-4
        ADVICE, medium)."""
        import json
        import shutil

        base = self._stage_path(stage)
        manifest = os.path.join(base, "_folded.json")
        if not os.path.exists(manifest):
            return
        try:
            with open(manifest) as f:
                folded = json.load(f).get("folded", [])
        except (OSError, ValueError):
            # unreadable manifest: LEAVE it in place so a later call can
            # retry — deleting it here would permanently re-expose the
            # double-count window the manifest exists to close
            return
        inc_root = base + "_inc"
        for d in folded:
            p = os.path.join(inc_root, d)
            if os.path.isdir(p):
                shutil.rmtree(p)
        try:
            os.remove(manifest)
        except OSError:
            pass  # increments are gone (idempotent); next call retries

    def _detect_partition_cols(self, base: str) -> list[str]:
        """Partition columns of an existing stage dir (from `col=value`
        subdir names) so compaction preserves the layout."""
        for name in sorted(os.listdir(base)):
            if "=" in name and os.path.isdir(os.path.join(base, name)):
                return [name.split("=", 1)[0]]
        return []

    def _read_root(self, base: str, path: str | None = None):
        """Read one parquet root with the stage's persisted schema."""
        schema_path = os.path.join(base, "_stage_schema.json")
        if os.path.exists(schema_path):
            import json

            from pyspark.sql.types import StructType

            with open(schema_path) as f:
                schema = StructType.fromJson(json.load(f))
            return self.spark.read.schema(schema).parquet(path or base)
        return self.spark.read.parquet(path or base)

    def read_stage(self, stage: str, as_of: str | None = None) -> DataFrame:
        """Base stage table ∪ committed increment snapshots (optionally
        time-traveled).

        Increments (``run_incremental``) live under ``<stage>_inc/<inc_id>``.
        A snapshot becomes visible only once its own ``_SUCCESS`` marker AND
        the same increment's pages commit marker exist (pages is written
        last), so readers never observe a partially-written or uncommitted
        increment — the parquet emulation of Iceberg snapshot isolation.
        ``as_of=<inc_id>`` reads the table as of that committed snapshot
        (inclusive), Iceberg-time-travel style; ``None`` reads latest.
        Roots are read separately and unioned by name so partition-column
        layouts stay per-root."""
        self._recover_compaction(stage)
        base = self._stage_path(stage)
        schema_path = os.path.join(base, "_stage_schema.json")
        if os.path.exists(schema_path):
            import json

            from pyspark.sql.types import StructType

            with open(schema_path) as f:
                schema = StructType.fromJson(json.load(f))
            reader = self.spark.read.schema(schema)
        else:
            reader = self.spark.read
        df = reader.parquet(base)
        snapshots = self.list_snapshots()
        if as_of is not None:
            if as_of not in snapshots:
                raise ValueError(f"unknown or uncommitted snapshot {as_of!r}")
            snapshots = snapshots[: snapshots.index(as_of) + 1]
        inc_root = base + "_inc"
        for d in snapshots:
            p = os.path.join(inc_root, d)
            if os.path.isdir(p) and os.path.exists(os.path.join(p, "_SUCCESS")):
                df = df.unionByName(reader.parquet(p))
        return df

    def write_stage(
        self,
        stage: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        """Materialize a stage, then append per-partition lineage rows."""
        started = time.time()
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
        finished = time.time()
        rows = [
            (self.run_id, stage, pid, int(n), started, finished, "done")
            for pid, n in per_part
        ] or [(self.run_id, stage, 0, 0, started, finished, "done")]
        self._append_rows(
            "_lineage",
            rows,
            [
                ("run_id", "string"),
                ("stage", "string"),
                ("part_id", "int32"),
                ("rows_out", "int64"),
                ("started_at", "double"),
                ("finished_at", "double"),
                ("status", "string"),
            ],
        )
        total = sum(n for _pid, n in per_part)
        self.log_metrics(
            stage,
            {"rows_out": float(total), "seconds": finished - started},
        )
        return out

    def _per_file_counts(self, path: str) -> list[tuple[int, int]]:
        """(part_id, rows) per written parquet data file, from the parquet
        footers (pyarrow metadata read — no Spark job, no data scan).
        Recurses through partition subdirs; hidden/_ files skipped."""
        import pyarrow.parquet as pq

        files: list[str] = []
        for root, _dirs, names in os.walk(path):
            for n in names:
                if n.endswith(".parquet") and not n.startswith(("_", ".")):
                    files.append(os.path.join(root, n))
        return [
            (i, pq.ParquetFile(f).metadata.num_rows)
            for i, f in enumerate(sorted(files))
        ]

    def _append_rows(self, table: str, rows: list[tuple], fields) -> None:
        """Append a handful of driver-side bookkeeping rows as ONE parquet
        file written with pyarrow — no Spark job at all. The previous
        ``createDataFrame(...).write.mode("append")`` launched a
        default-parallelism job per append (4 lineage + 6 metrics appends ≈
        3 s of pure scheduler/commit overhead per pipeline run; at 1000
        executors the same rows would still ride a full job). The file is
        written to a hidden temp name and os.rename'd in (atomic), so a
        concurrent Spark read of the table dir never sees a partial file;
        Spark reads the pyarrow files transparently (schema matches
        LINEAGE_SCHEMA/METRICS_SCHEMA exactly, pytest-pinned)."""
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        type_map = {
            "string": pa.string(),
            "int32": pa.int32(),
            "int64": pa.int64(),
            "double": pa.float64(),
        }
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
        self._append_rows(
            "_metrics",
            rows,
            [
                ("run_id", "string"),
                ("stage", "string"),
                ("key", "string"),
                ("value", "double"),
            ],
        )

    def read_lineage(self) -> DataFrame | None:
        path = os.path.join(self.workdir, "_lineage")
        if not os.path.exists(path):
            return None
        return self.spark.read.parquet(path)

    def read_metrics(self) -> DataFrame | None:
        path = os.path.join(self.workdir, "_metrics")
        if not os.path.exists(path):
            return None
        return self.spark.read.parquet(path)
