"""Distributed logistic-regression gradient step (SURVEY.md §2 T3 evidence).

The reference trains single-process on a GPU (``engines/train.py:162-213``).
The Spark-native re-expression of one training step: the full-batch
gradient is a **DataFrame aggregation** — the current parameters are
broadcast into the plan as literals, each row contributes its gradient terms
through built-in JVM expressions (no Python UDF anywhere), and one
partial-aggregated job returns the gradient + loss. This is the classic
"map-side-combined gradient allreduce" shape: at 100 TB the gradient job
shuffles exactly ONE row per partition (the partial sums), so step cost is a
scan, not a shuffle.

Demo model: logistic regression (is the document English?) over
deterministic per-doc features — small enough that the gradient step is
SQL-expressible and checked against a DuckDB oracle (query
``train_grad_step``); ``logistic_grad_local`` is its single-process numpy
oracle in the tests. No optimizer loop drives it: the reference's
optimizer zoo, warmup, FGM/PGD and early stopping are not implemented.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_FEATURES = 4


def doc_features(docs: DataFrame) -> DataFrame:
    """(y, x0..x3): deterministic numeric features per document, all
    built-in expressions (column-pruned scan: text + lang only)."""
    text = F.col("text")
    n_chars = F.length(text).cast("double")
    n_words = F.size(F.split(text, " ")).cast("double")
    return docs.select(
        (F.col("lang") == F.lit("en")).cast("double").alias("y"),
        F.lit(1.0).alias("x0"),
        (n_chars / F.lit(1000.0)).alias("x1"),
        (n_words / F.lit(100.0)).alias("x2"),
        (n_chars / (n_words + F.lit(1.0))).alias("x3"),
    )


def _z(w: np.ndarray):
    z = F.lit(float(w[0])) * F.col("x0")
    for j in range(1, N_FEATURES):
        z = z + F.lit(float(w[j])) * F.col(f"x{j}")
    return z


def logistic_grad_df(features: DataFrame, w: np.ndarray) -> DataFrame:
    """One-row DataFrame with mean gradient per feature + mean loss + n.

    p = sigmoid(w·x); grad_j = Σ (p − y)·x_j / n; loss is the numerically
    stable log-loss  max(z,0) − z·y + log1p(exp(−|z|)).
    """
    z = _z(w)
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    loss = F.greatest(z, F.lit(0.0)) - z * F.col("y") + F.log1p(F.exp(-F.abs(z)))
    aggs = [
        (F.sum((p - F.col("y")) * F.col(f"x{j}")) / F.count(F.lit(1.0))).alias(f"g{j}")
        for j in range(N_FEATURES)
    ]
    return features.agg(
        *aggs,
        (F.sum(loss) / F.count(F.lit(1.0))).alias("loss"),
        F.count(F.lit(1.0)).alias("n"),
    )


def logistic_grad_local(X: np.ndarray, y: np.ndarray, w: np.ndarray) -> tuple[np.ndarray, float]:
    """Single-process oracle for the distributed gradient (same math)."""
    z = X @ w
    p = 1.0 / (1.0 + np.exp(-z))
    g = ((p - y) @ X) / len(y)
    loss = float(np.mean(np.maximum(z, 0.0) - z * y + np.log1p(np.exp(-np.abs(z)))))
    return g, loss
