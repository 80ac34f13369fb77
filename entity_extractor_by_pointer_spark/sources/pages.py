"""Synthetic Common-Crawl-style pages table + reference-dataset adapters.

Input-table shape per BASELINE.json:input_hint:
``(url string, warc_ts timestamp, html binary, text string, lang string)``.

The generator is fully distributed — ``spark.range(n)`` fans out and each
partition synthesizes its rows inside ``mapInPandas`` from a per-row seeded
RNG, so the same (seed, n) produces byte-identical tables at any
parallelism. At the 10^12-row design point this is how you'd smoke-test a
cluster without reading real WARC files; real runs replace this source with
an Iceberg scan of the crawl table.

The per-row invariant required by the driver contract — byte-identical
``extract_text(html) == text`` per url — holds by construction and is
asserted in tests (operator tests also check the extraction UDF).
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..functions.gazetteer import PAGES_GAZETTEER

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
    ]
)

_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

_TEMPLATES = [
    "{p}在{l}的{o}担任工程师。",
    "{o}宣布将在{l}设立新的研究院，由{p}负责。",
    "据报道，{p}与{p2}共同出席了{l}的行业峰会。",
    "{o}与{o2}达成战略合作，覆盖{l}等城市。",
    "{p} joined {o} last year and now lives in {l}.",
    "总部位于{l}的{o}聘请了{p}。",
]

_FILLER = [
    "这是一个没有命名实体的句子。",
    "市场分析显示行业整体保持稳定增长。",
    "The quick brown fox jumps over the lazy dog.",
    "数据处理流水线需要可扩展的架构设计。",
]


def _synth_text(idx: int, min_sents: int = 2, extra_sents: int = 3) -> str:
    """Deterministic page text for row ``idx`` (pure function, no RNG state)."""
    persons = [n for n, t, _ in PAGES_GAZETTEER if t == "person"]
    locs = [n for n, t, _ in PAGES_GAZETTEER if t == "location"]
    orgs = [n for n, t, _ in PAGES_GAZETTEER if t == "organization"]
    h = idx * 2654435761 % 2**32  # Knuth multiplicative hash
    sents = []
    n_sents = min_sents + h % extra_sents
    for k in range(n_sents):
        hk = (h ^ (k * 0x9E3779B9)) % 2**32
        tmpl = _TEMPLATES[hk % len(_TEMPLATES)] if hk % 4 else _FILLER[hk % len(_FILLER)]
        sents.append(
            tmpl.format(
                p=persons[hk % len(persons)],
                p2=persons[(hk // 7 + 1) % len(persons)],
                l=locs[(hk // 3) % len(locs)],
                o=orgs[(hk // 5) % len(orgs)],
                o2=orgs[(hk // 11 + 1) % len(orgs)],
            )
        )
    return "\n".join(sents)


def render_html(text: str, title: str) -> bytes:
    """Inverse of ``operators.extract.extract_text`` by construction."""
    body = "".join(f"<p>{line}</p>" for line in text.split("\n"))
    return (
        f"<html><head><title>{title}</title>"
        f'<meta charset="utf-8"></head><body>{body}</body></html>'
    ).encode("utf-8")


def generate_pages(
    spark: SparkSession,
    n: int,
    partitions: int,
    start: int = 0,
    min_sents: int = 2,
    extra_sents: int = 3,
) -> DataFrame:
    base = spark.range(start, n, numPartitions=partitions)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for idx in pdf["id"]:
                idx = int(idx)
                text = _synth_text(idx, min_sents, extra_sents)
                rows.append(
                    {
                        "url": f"https://example.org/page/{idx}",
                        # spread crawl timestamps ~2.3 min apart so windowed
                        # aggregations see multiple hourly windows
                        "warc_ts": _EPOCH + dt.timedelta(seconds=idx * 137),
                        "html": render_html(text, f"Page {idx}"),
                        "text": text,
                        "lang": "zh" if idx % 5 else "en",
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in PAGES_SCHEMA.fields])

    return base.mapInPandas(gen, PAGES_SCHEMA)


def reference_dataset_as_pages(spark: SparkSession, dev_json_path: str) -> DataFrame:
    """Reshape a reference NER dataset (list of {text, entities}) into the
    pages schema (SURVEY.md §5: url = synthetic id). Gold entities ride along
    in an extra column for evaluation."""
    import json

    with open(dev_json_path, encoding="utf-8") as f:
        records = json.load(f)
    entity_type = T.ArrayType(
        T.StructType(
            [
                T.StructField("start_idx", T.IntegerType()),
                T.StructField("end_idx", T.IntegerType()),
                T.StructField("type", T.StringType()),
                T.StructField("entity", T.StringType()),
            ]
        )
    )
    schema = T.StructType(
        list(PAGES_SCHEMA.fields) + [T.StructField("gold_entities", entity_type)]
    )
    rows = []
    for i, rec in enumerate(records):
        text = rec.get("text") or ""
        rows.append(
            (
                f"ref://doc/{i}",
                _EPOCH,
                render_html(text, f"doc {i}"),
                text,
                "zh",
                [
                    (e["start_idx"], e["end_idx"], e["type"], e["entity"])
                    for e in rec.get("entities", [])
                ],
            )
        )
    return spark.createDataFrame(rows, schema)
