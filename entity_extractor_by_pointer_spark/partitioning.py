"""Scan-parallelism guard for CPU-heavy map stages.

The benchmark tables are written as SINGLE-row-group parquet files, and a
row group is the unit Spark can actually split a parquet scan at — so a
scan of e.g. ``documents.parquet`` delivers rows through ONE task no
matter how many byte-range splits the planner makes (Spark sizes planned
splits off ``defaultParallelism``/``maxPartitionBytes``, but only the
split containing a row-group midpoint yields rows), and every expression
pipelined onto that scan (regex normalization, shingle hashing, md5
signatures, vector folds) runs on one core while the rest idle.
(Round-5 code mostly dodged this by accident: early shuffles like
``dropDuplicates`` spread the data before the heavy work. Removing those
shuffles exposed the single-task scans.)

:func:`spread_small_scan` repartitions ONLY when the frame's effective
parallelism is below the session's default parallelism — the
unsplittable-input fix of guide §2.5 ("one huge unsplittable file …
repartition immediately after the read"). Two gates:

1. planned partition count below target (cheap, metadata-only) — catches
   small files;
2. for LOCAL parquet scans backed by FEW files, the total row-group count
   from the parquet footers — catches the large single-row-group file
   whose planned byte-splits look parallel but deliver rows through one
   task (planned splits ≥ target while row groups ≪ target).

At production scale a 100 TB corpus scans as tens of thousands of files/
row groups: gate 1 is false and gate 2 short-circuits on the file count
before reading any footer — the call is a plan no-op. This is explicitly
NOT a local-mode constant baked into operators (the target tracks
``defaultParallelism``, i.e. the cluster size).

Call it on a NARROW projection (id + the columns the stage needs) so the
exchange ships only those bytes.
"""

from __future__ import annotations

from urllib.parse import urlparse
from urllib.request import url2pathname

from pyspark.sql import DataFrame


def local_path(uri: str) -> str | None:
    """The filesystem path of a ``file:`` URI as ``DataFrame.inputFiles``
    returns it (percent-encoded); None for any other scheme."""
    parsed = urlparse(uri)
    return url2pathname(parsed.path) if parsed.scheme == "file" else None


def _effective_row_groups(df: DataFrame, target: int) -> int | None:
    """Total parquet row groups behind ``df`` when it is a local-file scan
    with fewer than ``target`` files; None when unknowable cheaply (non-file
    source, remote scheme, many files) — callers treat None as 'parallel
    enough'."""
    try:
        files = df.inputFiles()
    except Exception:  # non-file-backed plans
        return None
    if not files or len(files) >= target:
        return None
    total = 0
    for f in files:
        path = local_path(f)
        if path is None:
            return None
        try:
            import pyarrow.parquet as pq

            total += pq.ParquetFile(path).metadata.num_row_groups
        except Exception:  # not parquet / unreadable — don't guess
            return None
        if total >= target:
            return total
    return total


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition ``df`` up to ``defaultParallelism``
    partitions iff its effective parallelism is lower — a no-op on
    well-split inputs."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    rgs = _effective_row_groups(df, target)
    if rgs is not None and rgs < target:
        return df.repartition(target)
    return df
