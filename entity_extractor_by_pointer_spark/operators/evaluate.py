"""Span-set evaluation — distributed rebuild of ``Train.validate``
(reference ``engines/train.py:237-284``).

Semantics reproduced exactly:

- gold sets are built with the SAME tokenizer-alignment filter the reference
  applies at collate time (``engines/data.py:55-60``), read from the batch
  tokenizer the mention stage uses: a gold span survives only if its char
  start is a token start and its char end an (inclusive) token end within
  the truncated encoding; surviving spans collapse to per-(doc, class)
  surface-form sets (``data.py:62``);
- per class: A = |pred ∩ gold|, B = |pred|, C = |gold| — accumulated ONLY
  over documents where the gold set has that class (``train.py:263-267``
  iterates gold classes per doc: predictions for classes absent from a doc's
  gold do not count toward B — a reference quirk we keep);
- smoothing: B and C start at 1e-10 (``train.py:241``);
  P = A/B, R = A/C, F1 = 2A/(B+C) (``train.py:268-274``);
- macro-F1 averages over ALL configured classes, including ones never seen
  (``train.py:276-283`` initializes every class).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.tokenizer import tokenize_batch

GOLD_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("type", T.StringType(), False),
        T.StructField("entity", T.StringType(), False),
    ]
)


def gold_mention_sets(pages_with_gold: DataFrame) -> DataFrame:
    """Explode the ``gold_entities`` spans of (url, text, gold_entities)
    pages with the reference's alignment filter + set semantics. Narrow
    mapInPandas stage + a distinct. A document's token starts and inclusive
    token ends come from one ``tokenize_batch`` pass per Arrow batch,
    truncated like the ``truncation=True`` encoding the reference filters
    against (``[CLS]`` + L−2 tokens + ``[SEP]``, L = the model's
    ``MAX_SEQUENCE_LENGTH``)."""
    from ..functions.model import MAX_SEQUENCE_LENGTH

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            doc, start, end, _ids = tokenize_batch(
                pdf["text"].fillna("").tolist(), MAX_SEQUENCE_LENGTH - 2
            )
            bounds = np.searchsorted(doc, np.arange(len(pdf) + 1)).tolist()
            start, last = start.tolist(), (end - 1).tolist()
            for d, (rid, entities) in enumerate(zip(pdf["url"], pdf["gold_entities"])):
                if entities is None or len(entities) == 0:
                    continue
                starts = set(start[bounds[d] : bounds[d + 1]])
                ends = set(last[bounds[d] : bounds[d + 1]])
                for ent in entities:  # a dict, or a Row (it indexes by name too)
                    if ent["start_idx"] in starts and ent["end_idx"] in ends:  # data.py:60
                        rows.append((rid, ent["type"], ent["entity"]))
            yield pd.DataFrame(rows, columns=["url", "type", "entity"])

    exploded = pages_with_gold.select("url", "text", "gold_entities").mapInPandas(run, GOLD_SCHEMA)
    return exploded.dropDuplicates(["url", "type", "entity"])


def span_f1(
    spark: SparkSession,
    pred_sets: DataFrame,  # (url, type, entity) distinct
    gold_sets: DataFrame,  # (url, type, entity) distinct
    classes: list[str],
) -> tuple[DataFrame, float]:
    """Per-class precision/recall/F1 + macro-F1."""
    eps = 1e-10
    gold_classes_per_doc = gold_sets.select("url", "type").distinct()
    pred_r = pred_sets.join(gold_classes_per_doc, ["url", "type"], "left_semi")
    a = pred_r.join(gold_sets, ["url", "type", "entity"], "inner").groupBy("type").agg(
        F.count(F.lit(1)).alias("A")
    )
    b = pred_r.groupBy("type").agg(F.count(F.lit(1)).alias("B"))
    c = gold_sets.groupBy("type").agg(F.count(F.lit(1)).alias("C"))
    dim = spark.createDataFrame([(cl,) for cl in classes], "type string")
    m = (
        dim.join(a, "type", "left")
        .join(b, "type", "left")
        .join(c, "type", "left")
        .fillna(0, subset=["A", "B", "C"])
    )
    metrics = m.select(
        "type",
        (F.col("A") / (F.col("B") + eps)).alias("precision"),
        (F.col("A") / (F.col("C") + eps)).alias("recall"),
        (2 * F.col("A") / (F.col("B") + F.col("C") + 2 * eps)).alias("f1"),
    )
    macro_f1 = metrics.agg(F.avg("f1")).first()[0]
    return metrics, float(macro_f1 or 0.0)
