"""Hot-key detection: the observable first step of explicit skew handling.

AQE's skew-join splitting (enabled globally in ``session.get_spark``) covers
skewed joins at runtime, and the hot (subj, pred, obj) count in
``triples.triple_counts`` is a combinable aggregate: its map-side partial
reduces each hot key to one row per input partition before the shuffle.
``detect_hot_keys`` makes the skew itself visible: the pipeline logs the
keys it finds to ``_metrics`` on every run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def detect_hot_keys(df: DataFrame, key: str) -> list[tuple[str, int]]:
    """First-pass hot-key detection (SURVEY.md §4 item 1): the top 10 keys
    holding at least 2% of all rows, by exact count-by-key (map-side
    combined — one row per key per partition crosses the shuffle). The
    pipeline logs these to ``_metrics`` so skew is observable per run."""
    total = df.count()
    if total == 0:
        return []
    rows = (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= total * 0.02)
        .orderBy(F.desc("n"), F.asc(key))
        .limit(10)
        .collect()
    )
    return [(r[key], int(r["n"])) for r in rows]
