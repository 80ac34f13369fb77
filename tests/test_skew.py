"""Skew handling (SURVEY.md §4 item 1 / §5 invariant 4): the combinable
aggregates over hot keys (triple counts, PageRank inflow) must be correct
under a pathological hot key and must reduce it map-side, before their one
Exchange."""

import re

from pyspark.sql import functions as F

from entity_extractor_by_pointer_spark.operators.triples import triple_counts


def _skewed(spark, hot=50_000, cold=50):
    hot_df = spark.range(hot).select(
        F.lit("中国").alias("subj"), F.lit("near").alias("pred"), F.lit("北京").alias("obj")
    )
    cold_df = spark.range(cold).select(
        F.concat(F.lit("e"), F.col("id")).alias("subj"),
        F.lit("near").alias("pred"),
        F.lit("x").alias("obj"),
    )
    return hot_df.union(cold_df)


def test_triple_counts_correct_under_skew(spark):
    """The hot key's count is exact, and the plan is one two-phase
    aggregate: ``partial_count`` runs below exactly one Exchange, so the
    hot key crosses the shuffle as at most one row per input partition."""
    df = _skewed(spark)
    counts = triple_counts(df)
    # the initial adaptive plan (read before execution adds the final one)
    plan = counts._jdf.queryExecution().executedPlan().toString()
    exchanges = set(re.findall(r"Exchange .*?\[plan_id=(\d+)\]", plan))
    assert len(exchanges) == 1, plan
    assert "partial_count" in plan.split("Exchange ", 1)[1], plan
    assert dict(counts.dtypes)["n_docs"] == "bigint"
    got = {(r["subj"], r["pred"], r["obj"]): r["n_docs"] for r in counts.collect()}
    assert got[("中国", "near", "北京")] == 50_000
    assert got[("e7", "near", "x")] == 1
    assert len(got) == 51


def test_pagerank_inflow_absorbs_hub_skew(spark, monkeypatch):
    """Round-4 verdict item 8: PageRank's per-iteration inflow aggregation
    (groupBy(obj).sum) under a 10⁵-in-degree hub. sum is combinable, so the
    partial (map-side) aggregate must collapse the hub's stream to at most
    one row per map partition BEFORE the exchange — the hub's reducer then
    receives O(#partitions) rows, not O(in-degree): no straggler, no
    salting needed. Proven two ways: the physical plan carries a
    partial_sum below the Exchange, and an explicit per-map-partition
    replay of phase 1 bounds the hub's post-combine row count."""
    from entity_extractor_by_pointer_spark.cache import release_all
    from entity_extractor_by_pointer_spark.operators import graph
    from entity_extractor_by_pointer_spark.operators.graph import pagerank

    monkeypatch.setattr(graph, "PAGERANK_ITERS", 2)
    n_hub = 100_000
    tr = (
        spark.range(n_hub)
        .select(
            F.concat(F.lit("u"), F.col("id")).alias("subj"),
            F.lit("links").alias("pred"),
            F.lit("HUB").alias("obj"),
        )
        .repartition(8)
    )
    try:
        ranks = pagerank(tr)
        # 1) plan proof: the inflow aggregate is two-phase (partial_sum
        #    before the exchange, final sum after)
        plan = ranks._jdf.queryExecution().executedPlan().toString()
        assert "partial_sum" in plan, plan
        # 2) behavioral proof: replay phase 1 of the hub iteration — one
        #    combined row per (map partition, key); the hub's reducer-side
        #    input is bounded by the partition count, 4 orders of magnitude
        #    below its in-degree
        contrib_rows = tr.select(F.col("obj").alias("entity"), F.lit(1.0).alias("contrib"))
        partials = (
            contrib_rows.groupBy(
                F.spark_partition_id().alias("p"), "entity"
            ).count()
        ).where(F.col("entity") == "HUB")
        n_partials = partials.count()
        assert 1 <= n_partials <= contrib_rows.rdd.getNumPartitions()
        assert n_partials <= 8, n_partials
        # 3) result sanity: the hub dominates and collects the damped
        #    teleport-mass inflow of its 10⁵ sources (the hub is dangling,
        #    so total mass is NOT conserved — expected for plain PageRank)
        vals = {r["entity"]: r["rank"] for r in ranks.collect()}
        assert vals["HUB"] == max(vals.values())
        assert vals["HUB"] > 0.1
    finally:
        release_all()

