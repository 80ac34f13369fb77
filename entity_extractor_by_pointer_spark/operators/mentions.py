"""Mention detection: pages → mentions, as one fused mapInPandas stage.

SURVEY.md §3.1: tokenize → encode → pointer head → span decode are fused per
Arrow batch; mention detection is embarrassingly parallel per page, so the
stage induces **no shuffle** — the plan is Scan → (whole-stage project) →
MapInPandas. GlobalPointer span scores live only inside the UDF (never
serialized, SURVEY.md §4 row 1).

Output schema (SURVEY.md §1.2 ``mentions``):
``(url, type, entity, start_idx, end_idx, score, model)`` — one row per
decoded span occurrence. The reference's per-(doc, class) surface-form SET
semantics (``engines/data.py:105,114``) is applied by downstream views via
``dropDuplicates`` (operator D3), keeping positions available for triples.

Two scorers, each tokenizing an Arrow batch in one ``tokenize_batch`` pass:
- model path (``detect_mentions``): deterministic pointer-NER model
  (SeededTinyEncoder + GP/BP head) — exercised by the pytest parity suite;
- gazetteer path (``detect_mentions_gazetteer``): ``GazetteerMatcher``, the
  closed-form token-aligned matcher sharing the decode char conventions —
  used where the output must be semantically meaningful *and*
  SQL-oracle-checkable (driver contract).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..functions.gazetteer import GazetteerMatcher
from ..functions.model import MODEL_CACHE, NerConfig

MENTIONS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("type", T.StringType(), False),
        T.StructField("entity", T.StringType(), False),
        T.StructField("start_idx", T.IntegerType(), False),
        T.StructField("end_idx", T.IntegerType(), False),
        T.StructField("score", T.DoubleType(), False),
        T.StructField("model", T.StringType(), False),
    ]
)

_COLS = [f.name for f in MENTIONS_SCHEMA.fields]


def detect_mentions(df: DataFrame, config: NerConfig) -> DataFrame:
    """Model-path mention detection over (url, text) rows. Narrow stage, no
    shuffle."""
    classes = list(config.classes)
    model_tag = config.model_type

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = MODEL_CACHE.get(config)  # one model per executor worker
        for pdf in batches:
            texts = pdf["text"].fillna("").tolist()
            ids = pdf["url"].tolist()
            rows = []
            for rid, spans in zip(ids, model.predict_batch(texts)):
                for sp in spans:
                    rows.append(
                        (rid, classes[sp.class_id], sp.entity, sp.start_idx, sp.end_idx, sp.score, model_tag)
                    )
            yield pd.DataFrame(rows, columns=_COLS)

    return df.select("url", "text").mapInPandas(run, MENTIONS_SCHEMA)


def detect_mentions_gazetteer(
    df: DataFrame,
    gazetteer: list[tuple[str, str, str]],
    id_col: str = "url",
    max_tokens: int | None = None,
) -> DataFrame:
    """Gazetteer-path mention detection over the ``text`` column
    (deterministic, oracle-checkable).

    The id column keeps its input name (``id_col``) and type."""
    schema = T.StructType(
        [T.StructField(id_col, df.schema[id_col].dataType, False)] + list(MENTIONS_SCHEMA.fields[1:])
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        match = GazetteerMatcher(gazetteer)  # built once per task, not per batch
        for pdf in batches:
            doc, etype, surface, start, end = match(pdf["text"].fillna("").tolist(), max_tokens)
            cols = (pdf[id_col].to_numpy()[doc], etype, surface, start, end, 1.0, "gazetteer")
            yield pd.DataFrame(dict(zip(schema.fieldNames(), cols)))

    return df.select(id_col, "text").mapInPandas(run, schema)


def mention_sets(mentions: DataFrame, id_col: str = "url") -> DataFrame:
    """Reference set semantics: distinct surface per (doc, class)
    (operator D3, ``engines/data.py:105,114``)."""
    return mentions.select(id_col, "type", "entity").dropDuplicates([id_col, "type", "entity"])
