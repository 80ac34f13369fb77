"""T3 evidence: the distributed (Spark-aggregated) logistic-regression
gradient step against the single-process numpy oracle."""

import numpy as np

from entity_extractor_by_pointer_spark.operators import train_distributed as td


def _local_xy(spark):
    feats = td.doc_features(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ).collect()
    X = np.array([[r["x0"], r["x1"], r["x2"], r["x3"]] for r in feats])
    y = np.array([r["y"] for r in feats])
    return X, y


def test_distributed_gradient_matches_local(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    X, y = _local_xy(spark)
    w = np.array([0.1, -0.2, 0.3, -0.05])
    row = td.logistic_grad_df(td.doc_features(docs), w).first()
    g_d = np.array([row[f"g{j}"] for j in range(td.N_FEATURES)])
    g_l, loss_l = td.logistic_grad_local(X, y, w)
    assert row["n"] == len(y)
    np.testing.assert_allclose(g_d, g_l, rtol=1e-12)
    np.testing.assert_allclose(row["loss"], loss_l, rtol=1e-12)
