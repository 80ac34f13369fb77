"""Structured Streaming variant of the mention pipeline.

Continuous-crawl mode: new page files land in a directory (stand-in for a
Kafka/WARC feed), mention detection runs as the same stateless mapInPandas
stage used in batch, and a watermarked tumbling-window aggregation counts
mentions per entity type over ``warc_ts`` (late pages beyond the watermark
are dropped, exactly-once per micro-batch via the checkpoint dir).

The stateless stage is shared with batch — Structured Streaming reuses the
incremental Catalyst plan, so batch/stream parity is a test assertion, not a
hope (`tests/test_streaming.py` runs both on the same input).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.gazetteer import PAGES_GAZETTEER, TokenAhoCorasick
from ..sources.pages import PAGES_SCHEMA

STREAM_MENTIONS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("type", T.StringType(), False),
        T.StructField("entity", T.StringType(), False),
    ]
)


def _mention_stage(df: DataFrame, gazetteer, max_tokens: int) -> DataFrame:
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        match = TokenAhoCorasick(gazetteer).spans
        for pdf in batches:
            rows = []
            for url, ts, text in zip(pdf["url"], pdf["warc_ts"], pdf["text"]):
                for etype, surface, _s, _e in match(text or "", max_tokens):
                    rows.append((url, ts, etype, surface))
            yield pd.DataFrame(rows, columns=["url", "warc_ts", "type", "entity"])

    return df.select("url", "warc_ts", "text").mapInPandas(run, STREAM_MENTIONS_SCHEMA)


def read_pages_stream(spark: SparkSession, pages_dir: str, max_files_per_trigger: int = 4) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(pages_dir)
    )


def windowed_type_counts(
    pages: DataFrame,
    gazetteer=None,
    window: str = "1 hour",
    watermark: str = "30 minutes",
    max_tokens: int = 200,
) -> DataFrame:
    """pages (batch OR stream) → mention counts per (window, type)."""
    mentions = _mention_stage(pages, gazetteer or PAGES_GAZETTEER, max_tokens)
    return (
        mentions.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "type")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
        .select(
            F.col("w.start").alias("window_start"),
            "type",
            "n_mentions",
        )
    )


def run_stream_once(
    spark: SparkSession,
    pages_dir: str,
    checkpoint_dir: str,
    out_table: str = "stream_counts",
    **kwargs,
) -> None:
    """Drain everything currently in ``pages_dir`` (availableNow trigger)
    into an in-memory sink named ``out_table``; resumable via checkpoint.

    Complete output mode: every drain emits the full windowed state, so a
    resumed query's output includes windows whose input files were processed
    (and checkpointed) by earlier drains without re-reading them. Append
    mode + watermark is the production choice for an unbounded sink; for a
    drain-and-stop crawl ingest, complete mode gives exact batch parity.
    """
    stream = read_pages_stream(spark, pages_dir)
    counts = windowed_type_counts(stream, **kwargs)
    q = (
        counts.writeStream.outputMode("complete")
        .format("memory")
        .queryName(out_table)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_stream_append(
    spark: SparkSession,
    pages_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    max_files_per_trigger: int = 1,
    **kwargs,
):
    """Append-mode production sink: watermarked windowed counts land in a
    parquet FILE sink (the unbounded-sink choice — a window row is written
    exactly once, when the watermark passes its end, and late rows beyond
    the watermark are DROPPED, never retro-counted).

    Contrast with ``run_stream_once``'s complete-mode memory sink (the
    drain-and-stop batch-parity harness). Resumable: re-invoking with the
    same checkpoint continues the watermark/state from where the last drain
    stopped. NOTE (measured on this Spark): the watermark advances with a
    one-micro-batch delay WITHIN an availableNow drain, so a late row is
    only guaranteed dropped once the watermark covering it has been
    committed by an earlier batch — across drain boundaries it always has
    (the checkpoint carries it); the cross-drain drop is pinned in
    tests/test_streaming.py. Returns the finished query (for progress
    inspection, e.g. numRowsDroppedByWatermark)."""
    stream = read_pages_stream(spark, pages_dir, max_files_per_trigger)
    counts = windowed_type_counts(stream, **kwargs)
    q = (
        counts.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def run_triples_stream_once(
    spark: SparkSession,
    pages_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    config=None,
    max_files_per_trigger: int = 4,
) -> None:
    """Streaming KG construction: drain new page files into the (subj, pred,
    obj) graph table, exactly once per micro-batch.

    ``foreachBatch`` runs the SAME fused batch stages
    (``plans.pipeline.triples_for_pages``: extract → mentions → link →
    canonicalize → triples) on each micro-batch — exact because every stage
    through triples is per-document independent, the property the batch
    incremental path also leans on. Each micro-batch lands in its own
    ``mb=<batch_id>`` partition directory with mode=overwrite, so a batch
    retried after a crash REPLACES itself instead of duplicating (foreachBatch
    is at-least-once; idempotent-by-batch-id is the standard exactly-once
    recipe). ``spark.read.parquet(out_dir)`` unions all micro-batches via
    partition discovery. Mirrors ``KgPipeline.run_incremental`` for the
    continuous-ingest case; batch ≡ stream equality across ≥2 drains is
    pinned in tests/test_streaming.py.
    """
    import os

    from ..plans.pipeline import PipelineConfig, triples_for_pages

    cfg = config or PipelineConfig()
    stream = read_pages_stream(spark, pages_dir, max_files_per_trigger)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        triples = triples_for_pages(batch_df, cfg)
        triples.write.mode("overwrite").parquet(os.path.join(out_dir, f"mb={batch_id}"))

    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
