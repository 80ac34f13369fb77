"""North-rule enforcement: no per-row Python UDFs anywhere in the package
(SURVEY.md §4 item 4) — only pandas_udf / mapInPandas / built-in exprs."""

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "entity_extractor_by_pointer_spark"


def test_no_row_at_a_time_udfs():
    bad = []
    for path in PKG.rglob("*.py"):
        src = path.read_text(encoding="utf-8")
        # F.udf( / udf( as a call, excluding pandas_udf
        for m in re.finditer(r"(?<!pandas_)\budf\s*\(", src):
            line = src[: m.start()].count("\n") + 1
            bad.append(f"{path.name}:{line}")
        # .rdd is banned as a ROW-processing API; the one sanctioned use is
        # the metadata-only partition-count read that partitioning.py's
        # spread_small_scan gates its repartition on (no rows ever cross
        # the RDD boundary)
        if re.search(r"\.rdd\b(?!\.getNumPartitions\(\))", src):
            bad.append(f"{path.name}: uses .rdd")
        if re.search(r"\bmapPartitions\b", src):
            bad.append(f"{path.name}: uses RDD mapPartitions")
    assert not bad, f"row-at-a-time/RDD API found: {bad}"


def test_no_collect_in_operator_hot_paths():
    """Driver-side collect loops mean an operator isn't distributed. The only
    sanctioned collects: canonicalize's convergence COUNT (an aggregate),
    lineage bookkeeping, and the pipeline's invariant check (an aggregate)."""
    allowed = {
        "canonicalize.py",  # convergence count + small-graph union-find collect
        "lineage.py",  # per-partition bookkeeping rows
        "pipeline.py",  # invariant-check aggregate
        "evaluate.py",  # final metrics rows
        "__main__.py",  # CLI result display (top-10 limit)
        "skew.py",  # hot-key detection collects a ≤top_k aggregate
        "similarity.py",  # k-means iteration fetches the k*dim centroid
        # means (fixed-size model state from an aggregate — scale-free)
    }
    bad = []
    for path in PKG.rglob("*.py"):
        if path.name in allowed:
            continue
        src = path.read_text(encoding="utf-8")
        if re.search(r"\.collect\(\)", src):
            bad.append(path.name)
    assert not bad, f"unexpected .collect() in: {bad}"


def test_row_group_count_reads_a_percent_encoded_path(spark, tmp_path):
    """``inputFiles`` percent-encodes a space in the path; the row-group
    gate of ``spread_small_scan`` must still open the file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from entity_extractor_by_pointer_spark.partitioning import _effective_row_groups

    path = tmp_path / "a b" / "documents.parquet"
    path.parent.mkdir()
    pq.write_table(pa.table({"doc_id": [1, 2, 3, 4]}), path, row_group_size=2)
    df = spark.read.parquet(str(path))
    assert "%20" in df.inputFiles()[0]
    assert _effective_row_groups(df, target=8) == 2
