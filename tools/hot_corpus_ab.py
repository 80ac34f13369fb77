#!/usr/bin/env python3
"""A/B proof that the df-capped blocking path WINS at scale, not just ties
(round-4 verdict item 5).

Builds a synthetic hot-shingle corpus shaped like a boilerplate-heavy crawl
slice — N docs of unique filler text, a fixed boilerplate sentence stamped
on every ``hot_period``-th doc (so its internal 3-gram shingles reach
df = N/hot_period ≈ 10³–10⁴), and one true near-dup twin per
``twin_period`` docs (jaccard ≈ 0.913 through low-df shingles) — then runs
``ngram_jaccard_pairs`` with exact blocking vs the df-16 cap on the SAME
corpus and asserts identical output. Each side is forced by setting
``dedup.JACCARD_AUTO_DOCS``, the corpus size the strategy census compares
against, below or above ``n_docs``.

Why the exact path explodes: each hot shingle contributes C(df, 2)
candidate rows to the blocking self-join — at df 4,000 that is 8M rows per
shingle × 6 boilerplate shingles, all aggregated then discarded (the
boilerplate-only pairs sit at jaccard ≈ 0.11, far below threshold). The
capped path anti-joins the 6 stop-shingles out of blocking, bounds the
unseen intersection with the PPJoin-style ``rare + min(hot_a, hot_b)``
prune, and exact-verifies only survivors — so it reports the same pairs
with the same scores while never materializing the quadratic block.

Usage:  python tools/hot_corpus_ab.py [n_docs] [hot_period]
Prints one JSON line: {"n_docs":..., "hot_df":..., "exact_sec":...,
"capped_sec":..., "speedup":..., "pairs":..., "identical": true}
"""

from __future__ import annotations

import json
import os
import sys
import time

for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BOILER = "all rights reserved contact us terms of service today"  # 8 words
FILLER_WORDS = 24


def hot_corpus(spark, n_docs: int, hot_period: int, twin_period: int = 1000):
    """Deterministic corpus, built entirely with Catalyst expressions (no
    driver-side rows): unique filler per doc, boilerplate on every
    hot_period-th doc, a near-dup twin (last filler word replaced) for every
    twin_period-th doc."""
    from pyspark.sql import functions as F

    filler = (
        f"concat_ws(' ', transform(sequence(1, {FILLER_WORDS}),"
        " i -> concat('w', id, 'x', i)))"
    )
    base = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.when(F.col("id") % hot_period == 0, F.lit(BOILER)).otherwise(F.lit("")),
            F.expr(filler),
        ).alias("text"),
    )
    twin_filler = (
        f"concat_ws(' ', transform(sequence(1, {FILLER_WORDS - 1}),"
        " i -> concat('w', id, 'x', i)))"
    )
    twins = (
        spark.range(n_docs)
        .where((F.col("id") % twin_period == 7) & (F.col("id") % hot_period != 0))
        .select(
            (F.col("id") + n_docs).alias("doc_id"),
            F.concat(F.expr(twin_filler), F.lit(" zz")).alias("text"),
        )
    )
    return base.unionAll(twins)


def run_ab(spark, n_docs: int, hot_period: int) -> dict:
    from entity_extractor_by_pointer_spark.cache import release_all
    from entity_extractor_by_pointer_spark.operators import dedup

    docs = hot_corpus(spark, n_docs, hot_period)
    # materialize the corpus once so neither side pays generation cost
    path = os.path.join(os.environ.get("TMPDIR", "/tmp"), f"hotab_{n_docs}_{hot_period}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        docs.write.mode("overwrite").parquet(path)
    docs = spark.read.parquet(path)

    results = {}
    timings = {}
    auto_docs = dedup.JACCARD_AUTO_DOCS
    try:
        for label, threshold in (("capped", -1), ("exact", sys.maxsize)):
            dedup.JACCARD_AUTO_DOCS = threshold
            release_all()
            spark.catalog.clearCache()
            t0 = time.time()
            rows = sorted(tuple(r) for r in dedup.ngram_jaccard_pairs(docs).collect())
            timings[label] = round(time.time() - t0, 2)
            results[label] = rows
    finally:
        dedup.JACCARD_AUTO_DOCS = auto_docs
    assert results["capped"] == results["exact"], (
        len(results["capped"]),
        len(results["exact"]),
    )
    return {
        "n_docs": n_docs,
        "hot_df": n_docs // hot_period,
        "exact_sec": timings["exact"],
        "capped_sec": timings["capped"],
        "speedup": round(timings["exact"] / timings["capped"], 2),
        "pairs": len(results["capped"]),
        "identical": True,
    }


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    hot_period = int(sys.argv[2]) if len(sys.argv) > 2 else 50
    from entity_extractor_by_pointer_spark.session import get_spark

    spark = get_spark(app_name="hot-corpus-ab")
    spark.sparkContext.setLogLevel("ERROR")
    print(json.dumps(run_ab(spark, n_docs, hot_period)))
    spark.stop()


if __name__ == "__main__":
    main()
