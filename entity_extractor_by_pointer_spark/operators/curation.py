"""Corpus curation: the composite filter a training-data pipeline actually
ships — exact dedup + language filter + quality floor in ONE narrow pass
plus a single fingerprint aggregation.

Verdict precedence (first matching reason wins, so every doc gets exactly
one row and the policy is order-deterministic):
  1. ``exact_dup``  — another doc with the same normalized-text fingerprint
     has a smaller doc_id (keep-first-by-id, same rule as ``dedup_exact``)
  2. ``lang``       — document language not in ``CURATE_LANGS``
  3. ``quality``    — quality_score below ``CURATE_QUALITY_FLOOR``
  4. ``kept``

Scale shape: fingerprint keep-ids come from ONE map-side-combined groupBy
(min(doc_id) per fingerprint); everything else is per-row expressions. The
join back is on the fingerprint — at crawl scale this is the same shuffle
the exact-dedup operator already pays, so curation is dedup + free filters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import cached
from ..functions.textstats import fingerprint64, quality_score

# the keep set and the floor the curation query runs at; the DuckDB oracle
# in __spark_entry__ reads the same names
CURATE_LANGS = ("en", "de", "fr")
CURATE_QUALITY_FLOOR = 0.5


def curate_corpus(docs: DataFrame) -> DataFrame:
    """(doc_id, verdict) — one row per input document."""
    from ..partitioning import spread_small_scan

    # one narrow spread projection feeds both the fingerprint and the
    # quality branches (single-row-group inputs otherwise run the regex
    # scoring on one core); the fingerprint frame is cached because the
    # keep-id aggregate AND the join-back both read it
    base = spread_small_scan(docs.select("doc_id", "text", "lang"))
    fp = cached(
        base.select(F.col("doc_id"), fingerprint64(F.col("text")).alias("_fp"))
    )
    keep_ids = fp.groupBy("_fp").agg(F.min("doc_id").alias("_keep_id"))
    with_keep = fp.join(keep_ids, "_fp").select("doc_id", "_keep_id")
    scored = base.select(
        F.col("doc_id"),
        F.col("lang"),
        quality_score(F.col("text")).alias("_q"),
    )
    verdict = (
        F.when(F.col("doc_id") != F.col("_keep_id"), F.lit("exact_dup"))
        .when(~F.col("lang").isin(*CURATE_LANGS), F.lit("lang"))
        .when(F.col("_q") < F.lit(CURATE_QUALITY_FLOOR), F.lit("quality"))
        .otherwise(F.lit("kept"))
    )
    return (
        scored.join(with_keep, "doc_id")
        .select(F.col("doc_id"), verdict.alias("verdict"))
    )


BOILERPLATE_MIN_DF = 4


def boilerplate_stats(docs: DataFrame) -> DataFrame:
    """Per-document boilerplate census: how much of each doc is made of
    passages repeated across the corpus (the repeated-passage signal behind
    C4/RefinedWeb-style boilerplate removal — nav bars, cookie banners,
    license footers all surface as high-df shingles).

    Returns (doc_id, n_shingles, n_boiler, boiler_ratio) where ``n_boiler``
    counts the doc's distinct word-3-gram shingles whose corpus document
    frequency is ≥ ``BOILERPLATE_MIN_DF`` and ``boiler_ratio = n_boiler/n_shingles``
    (0.0 for shingle-less short docs).

    Scale shape: ONE shingle scan feeds both the corpus df census (map-side
    combined groupBy) and the per-doc counts. The hot-shingle set is
    semi-joined plain: the planner broadcasts it from its real size under
    ``autoBroadcastJoinThreshold`` (a byte ceiling no hint can override)
    and shuffles only (shingle) keys above it.

    This census only ever compares shingles for equality, so it runs on
    the 8-byte xxhash64 shingle rows (same deduped sets, collision-free on
    every test corpus, ~3x cheaper to build than string shingles) and the
    per-doc totals come straight off the cached per-doc ARRAY table (one
    size() per row) instead of a distinct over the exploded occurrence
    rows."""
    from .dedup import _hashed_shingle_arrays

    arr = _hashed_shingle_arrays(docs)
    sh = arr.select("doc_id", F.explode("sharr").alias("shingle"))
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= BOILERPLATE_MIN_DF)
        .select("shingle")
    )
    # per-doc totals are an O(1) size() off the cached array rows (vs the
    # former distinct over the 2.6M exploded occurrence rows); the
    # distinct here is over the tiny one-row-per-doc frame and keeps the
    # old duplicate-id tolerance — without it a doc_id appearing twice in
    # the input would fan out the docs left join below
    per_doc = arr.select("doc_id", F.size("sharr").alias("n_shingles")).distinct()
    boiler = (
        sh.select("doc_id", "shingle")
        .join(hot, "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_boiler"))
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .join(boiler, "doc_id", "left")
        .fillna(0, subset=["n_shingles", "n_boiler"])
        .select(
            "doc_id",
            F.col("n_shingles").cast("int").alias("n_shingles"),
            F.col("n_boiler").cast("int").alias("n_boiler"),
            F.when(F.col("n_shingles") == 0, F.lit(0.0))
            .otherwise(F.round(F.col("n_boiler") / F.col("n_shingles"), 6))
            .alias("boiler_ratio"),
        )
    )


CONTAM_N = 8  # shingle width of the contamination check (the oracle reads it)


def contamination_flags(docs: DataFrame, benchmark: DataFrame) -> DataFrame:
    """(doc_id, n_contam, contaminated) — benchmark DECONTAMINATION, the
    train/test-leak check every serious LLM data pipeline runs (GPT-3
    appendix C / PaLM-style n-gram collision): a document is contaminated
    when it shares a word-``CONTAM_N``-gram shingle with ANY benchmark
    item; ``n_contam`` counts the doc's distinct shared shingles. Docs too
    short to emit a shingle are clean by definition (n_contam = 0).

    Scale shape: both sides read the cached per-doc xxhash64 shingle
    arrays of ``dedup._hashed_shingle_arrays(…, CONTAM_N)`` — the same
    normalized tokenization and the same 8-byte equality the pair engine
    and the boilerplate census compare. The corpus side is ONE explode of
    its array table, semi-joined plain against the benchmark shingle dim —
    benchmark suites are tiny next to a crawl, so the planner broadcasts
    the dim from its real size and shuffles it only past
    ``autoBroadcastJoinThreshold``; the hit count is a map-side-combined
    groupBy on doc_id. Nothing about the corpus is ever collected or
    re-scanned."""
    from .dedup import _hashed_shingle_arrays

    # a shingle shared across benchmark items appears once per item here;
    # the left-semi join below reads only whether a key is present
    bench_sh = _hashed_shingle_arrays(
        benchmark.select(F.lit(0).alias("doc_id"), F.col("text")), CONTAM_N
    ).select(F.explode("sharr").alias("shingle"))
    doc_sh = _hashed_shingle_arrays(docs, CONTAM_N).select(
        "doc_id", F.explode("sharr").alias("shingle")
    )
    hits = (
        doc_sh.join(bench_sh, "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contam"))
    )
    return (
        docs.select("doc_id")
        .join(hits, "doc_id", "left")
        .fillna(0, subset=["n_contam"])
        .select(
            "doc_id",
            F.col("n_contam").cast("int").alias("n_contam"),
            # the benchmark_contamination oracle SQL repeats the >= 1
            (F.col("n_contam") >= 1).alias("contaminated"),
        )
    )


def source_stats(docs: DataFrame) -> DataFrame:
    """(source, n_docs, mean_quality, dup_ratio, mean_tokens) — the
    per-SOURCE curation census (RefinedWeb/C4 filter decisions are made
    per-domain, not per-document): document count, mean heuristic quality,
    the share of docs whose exact fingerprint appears more than once in the
    WHOLE corpus (cross-source duplicates count against every source
    carrying them), and mean whitespace token count.

    Scale shape: one fingerprint groupBy (the same shuffle exact dedup
    pays) feeds a dup-fingerprint dim joined back on the fingerprint; all
    the per-source moments ride a single map-side-combined aggregation.
    Quality/token expressions are pure Catalyst."""
    from ..functions.textstats import fingerprint64, quality_score, ws_token_count
    from ..partitioning import spread_small_scan

    # cached: the dup-count aggregate and the join-back both consume this
    # frame — uncached, the quality/fingerprint regex work runs twice (and
    # on a single core for single-row-group inputs without the spread)
    fp = cached(
        spread_small_scan(docs.select("doc_id", "source", "text")).select(
            F.col("doc_id"),
            F.col("source").alias("source"),
            quality_score(F.col("text")).alias("_q"),
            ws_token_count(F.col("text")).alias("_tok"),
            fingerprint64(F.col("text")).alias("_fp"),
        )
    )
    dup_counts = fp.groupBy("_fp").agg(F.count(F.lit(1)).alias("_n_fp"))
    return (
        fp.join(dup_counts, "_fp")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("_q"), 4).alias("mean_quality"),
            F.round(
                F.avg(F.when(F.col("_n_fp") > 1, 1.0).otherwise(0.0)), 4
            ).alias("dup_ratio"),
            F.round(F.avg("_tok"), 2).alias("mean_tokens"),
        )
    )


# per-source share ceiling for domain balancing, in integer percent so the
# keep-threshold arithmetic is exact integer math on both engines
BALANCE_MAX_SHARE_PCT = 20


def balance_sources(docs: DataFrame) -> DataFrame:
    """(doc_id, source, keep) — DOMAIN BALANCING, the C4/RefinedWeb-style
    downsampling of over-represented sources: any source holding more than
    ``BALANCE_MAX_SHARE_PCT`` % of the corpus is thinned to (approximately) that
    cap by a DETERMINISTIC content-hash draw, so the decision is stable
    across runs, partitionings and engines — no RNG, no resample drift
    between pipeline stages.

    Exact integer arithmetic end to end (engine-mirrorable): with
    ``cap = n·pct/100`` (integer division) a source of ``c`` docs keeps
    bucket values below ``min(10^6, cap·10^6 / c)`` where the bucket is
    ``md5-int64(doc_id) mod 10^6`` — so under-cap sources keep everything
    and over-cap sources keep ≈ cap docs, uniformly by hash.

    Scale shape: one map-side-combined per-source count + a 1-row total,
    joined back plain as a per-source dim the planner broadcasts from its
    real size; the draw itself is a pure per-row expression."""
    from ..functions.textstats import md5_int64

    base = docs.select(F.col("doc_id"), F.col("source").alias("source"))
    totals = base.groupBy("source").agg(F.count(F.lit(1)).alias("_c"))
    n_total = base.count()
    cap = (n_total * BALANCE_MAX_SHARE_PCT) // 100
    # DIV (integer division on longs), not `/`: double division loses
    # precision once cap·10^6 passes 2^53 (a 10^10-doc corpus) and the
    # truncated cast would disagree with the oracle's exact integer result
    thr = totals.select(
        "source",
        F.least(
            F.lit(1_000_000).cast("long"),
            F.expr(f"CAST({cap}L * 1000000L DIV _c AS BIGINT)"),
        ).alias("_thr"),
    )
    bucket = F.pmod(md5_int64(F.col("doc_id").cast("string")), F.lit(1_000_000))
    return base.join(thr, "source").select(
        "doc_id", "source", (bucket < F.col("_thr")).alias("keep")
    )


ADAPTIVE_QUALITY_PCT = 0.25


def adaptive_quality_flags(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, quality, q_floor, keep) — per-LANGUAGE adaptive
    quality filtering: a single global floor (``curate_corpus``) is biased
    against languages the heuristic scores systematically lower (the
    stopword term is English-centric), so each language gets its own floor:
    the quality value at deterministic rank ``max(ceil(pct·n), 1)`` in
    ascending (quality, doc_id) order — i.e. the exact lower
    ``pct = ADAPTIVE_QUALITY_PCT`` quantile with integer-rank tie-breaks
    that hash identically across engines. ``keep = quality ≥ q_floor``
    drops just under ``pct`` of each language's docs (ties at the floor
    survive).

    Scale shape: NO per-language sort. ``quality_score`` rounds to 4 dp, so
    a (lang, quality) HISTOGRAM has ≤ ~10⁴ rows per language no matter the
    corpus size — the rank-``ceil(pct·n)`` value (the doc_id tie-break
    cannot change WHICH quality value sits at a rank, only which doc) is
    read off the histogram's cumulative counts with one map-side-combined
    aggregation plus windows over the tiny histogram. A naive
    ``row_number().over(partitionBy(lang))`` would funnel a dominant
    language (90% of a crawl is one language) through a single task."""
    from pyspark.sql import Window

    from ..partitioning import spread_small_scan

    # cached: the histogram and the final join both read the scored frame —
    # uncached, the quality regexes run twice (single-core on one-row-group
    # scans without the spread)
    scored = cached(
        spread_small_scan(docs.select("doc_id", "text", "lang")).select(
            F.col("doc_id"),
            F.col("lang").alias("lang"),
            quality_score(F.col("text")).alias("quality"),
        )
    )
    hist = scored.groupBy("lang", "quality").agg(F.count(F.lit(1)).alias("_c"))
    w = Window.partitionBy("lang").orderBy("quality")
    cum = hist.withColumn("_cume", F.sum("_c").over(w)).withColumn(
        "_n", F.sum("_c").over(Window.partitionBy("lang"))
    )
    target = F.greatest(F.ceil(F.lit(ADAPTIVE_QUALITY_PCT) * F.col("_n")), F.lit(1))
    floors = (
        cum.where(F.col("_cume") >= target)
        .groupBy("lang")
        .agg(F.min("quality").alias("q_floor"))
    )
    return (
        scored.join(F.broadcast(floors), "lang")
        .select(
            "doc_id",
            "lang",
            "quality",
            "q_floor",
            (F.col("quality") >= F.col("q_floor")).alias("keep"),
        )
    )
