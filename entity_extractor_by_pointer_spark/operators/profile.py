"""One-pass table profiling — the data-quality census an ingest pipeline
runs before trusting a new crawl drop or table snapshot.

``profile_table`` computes per-column row counts, null counts, exact
distinct counts, and min/max in ONE job: a union of independent
single-column aggregate branches, which the scheduler runs as concurrent
stages over column-pruned scans. Distincts are exact so the result equals
the DuckDB oracle's ``COUNT(DISTINCT ...)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def profile_table(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """(col_name, n_rows, n_nulls, n_distinct, min_val, max_val) — one row per
    profiled column; min/max rendered as strings so heterogeneous column
    types share one schema (timestamps/dates via ISO cast, floats via
    plain string cast — deterministic and SQL-mirrorable)."""
    cols = columns or df.columns
    # one single-distinct aggregate branch PER COLUMN, unioned. The fused
    # multi-DISTINCT aggregate re-expands the input once per profiled
    # column (Expand: cols x rows through one pipeline — 6.4s on 6M rows x
    # 5 cols), while the union's branches are independent stages of one
    # job that the scheduler runs CONCURRENTLY, each over a single
    # column-pruned scan (1-2s for the same profile; columnar input means
    # total I/O is unchanged).
    out = None
    for c in cols:
        branch = (
            df.select(F.col(c))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.count(F.when(F.col(c).isNull(), F.lit(1)))
                .cast("long")
                .alias("n_nulls"),
                F.countDistinct(c).cast("long").alias("n_distinct"),
                # min/max on the NATIVE type (string-cast first would
                # compare lexicographically — "10" < "9"), rendered after
                F.min(F.col(c)).cast("string").alias("min_val"),
                F.max(F.col(c)).cast("string").alias("max_val"),
            )
            .select(
                F.lit(c).alias("col_name"),
                "n_rows",
                "n_nulls",
                "n_distinct",
                "min_val",
                "max_val",
            )
        )
        out = branch if out is None else out.unionAll(branch)
    return out
