"""Similarity search over embedding columns.

- ``ann_topk_bruteforce``: exact cosine top-k — the correctness baseline.
  Query set × corpus as a broadcast join (queries are small), dot products
  as built-in higher-order functions, per-query top-k via window rank.
- ``ann_topk_lsh``: the scale path — random-hyperplane LSH buckets the
  corpus; each query only scans its own bucket (plus optional multi-probe
  neighbors). Hyperplanes are seeded numpy constants baked into the plan as
  array literals, so the same planes are reproducible in the DuckDB oracle.
- ``ivf_assign``: IVF-style coarse quantization — assign each vector to the
  nearest of K seeded centroids; the probe path scans matching cells only.

At 100 TB the broadcast side is the query batch and the corpus stays
partitioned; no shuffle of the corpus happens in either path (bucketing is a
narrow projection + the final top-k is a partial aggregation per partition
coalesced by AQE).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..cache import cached

ANN_DIM = 64
LSH_PLANES = 6
LSH_SEED = 20240816
IVF_CELLS = 8
# neighbours per query of the ANN queries, and the Lloyd rounds of the
# centroid refinement (the oracles read both)
ANN_K = 5
KMEANS_ITERS = 3


def _dot(va, vb):
    return F.aggregate(F.zip_with(va, vb, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)


def _norm(v):
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))


def ann_topk_bruteforce(embeddings: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, rank): exact cosine top-k per query, over
    (vec_id, embedding) rows.

    Ties broken by neighbor id ascending for determinism.
    """
    corpus = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("vc"),
        _norm(F.col("embedding").cast("array<double>")).alias("nc"),
    )
    qs = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("vq"),
        _norm(F.col("embedding").cast("array<double>")).alias("nq"),
    )
    joined = corpus.join(F.broadcast(qs), F.col("query_id") != F.col("neighbor_id"))
    scored = joined.withColumn("cosine", _dot(F.col("vq"), F.col("vc")) / (F.col("nq") * F.col("nc")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def lsh_planes(n_planes: int = LSH_PLANES) -> np.ndarray:
    return np.random.default_rng(LSH_SEED).normal(0, 1.0, (n_planes, ANN_DIM))


def bucket_expr(vec_col, planes: np.ndarray):
    """Sign-pattern bucket id from hyperplane projections (built-in exprs)."""
    bucket = F.lit(0)
    for p, plane in enumerate(planes):
        arr = F.array(*[F.lit(float(x)) for x in plane])
        proj = _dot(vec_col, arr)
        bucket = bucket + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def ann_topk_lsh(embeddings: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's bucket under
    the seeded :func:`lsh_planes`."""
    planes = lsh_planes()
    corpus = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("vc"),
    ).withColumn("bucket", bucket_expr(F.col("vc"), planes)).withColumn("nc", _norm(F.col("vc")))
    qs = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("vq"),
    ).withColumn("bucket", bucket_expr(F.col("vq"), planes)).withColumn("nq", _norm(F.col("vq")))
    joined = corpus.join(F.broadcast(qs), "bucket").where(F.col("query_id") != F.col("neighbor_id"))
    scored = joined.withColumn("cosine", _dot(F.col("vq"), F.col("vc")) / (F.col("nq") * F.col("nc")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def ivf_centroids() -> np.ndarray:
    c = np.random.default_rng(LSH_SEED + 1).normal(0, 1.0, (IVF_CELLS, ANN_DIM))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def best_cell_expr(v, centroids: np.ndarray):
    """Column: nearest-centroid index by cosine (ties → lowest index:
    array_position finds the FIRST max — mirrored in the oracle's ORDER BY
    cell ASC). Built as an array argmax so each centroid score is computed
    exactly once; a when-chain argmax re-embeds every prior score expression
    in each branch and blows up the codegen tree (~10× slower measured)."""
    nv = _norm(v)
    scores = F.array(
        *[_dot(v, F.array(*[F.lit(float(x)) for x in c])) / nv for c in centroids]
    )
    return (F.array_position(scores, F.array_max(scores)) - 1).cast("int")


def ivf_assign(embeddings: DataFrame) -> DataFrame:
    """The IVF-assigned corpus ``(vec_id, embedding, cell)``: each vector
    (cast to double) with its nearest seeded centroid (:func:`ivf_centroids`)
    by cosine (IVF coarse step). The one place a vector's cell is computed:
    materialized partitioned by ``cell``, it is the corpus
    :func:`ann_topk_ivf` probes, pruning whole cell partitions."""
    from ..partitioning import spread_small_scan

    v = F.col("embedding").cast("array<double>")
    return spread_small_scan(embeddings.select("vec_id", "embedding")).select(
        F.col("vec_id"), v.alias("embedding"), best_cell_expr(v, ivf_centroids()).alias("cell")
    )


def top_cells_expr(v, centroids: np.ndarray, nprobe: int):
    """Column: the ``nprobe`` nearest centroid indices by cosine, ordered
    best-first (ties → lower cell, matching ``best_cell_expr`` and the
    oracle's ``ORDER BY score DESC, cell ASC``). Scores are the same
    ordered-fold doubles as ``best_cell_expr``, so nprobe=1 reduces to it."""
    nv = _norm(v)
    entries = F.array(
        *[
            F.struct(
                (_dot(v, F.array(*[F.lit(float(x)) for x in c])) / nv).alias("score"),
                F.lit(-ci).alias("negcell"),
            )
            for ci, c in enumerate(centroids)
        ]
    )
    # sort desc: score desc, then negcell desc ≡ cell asc on score ties
    top = F.slice(F.sort_array(entries, asc=False), 1, nprobe)
    return F.transform(top, lambda s: (-s["negcell"]).cast("int"))


def ann_topk_ivf(assigned: DataFrame, queries: DataFrame, nprobe: int = 1) -> DataFrame:
    """IVF probe: the ``ANN_K`` nearest neighbours of each query, scanning
    only its ``nprobe`` nearest coarse cells.

    Completes the IVF pair with ``ivf_assign``: ``assigned`` is a corpus
    frame that already carries a ``cell`` column — typically the
    cell-partitioned materialized ``ivf_assign`` table — so the probe is a
    partition-prunable scan joined with the broadcast query batch — no
    centroid math over the corpus, no corpus shuffle. Exact within the
    probed cells; recall across cells is the standard IVF trade-off that
    ``nprobe`` trades back."""
    centroids = ivf_centroids()
    corpus = assigned.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("vc"),
        F.col("cell").cast("int").alias("cell"),
    ).withColumn("nc", _norm(F.col("vc")))
    qs = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("vq"),
    )
    qs = qs.withColumn(
        "cell", F.explode(top_cells_expr(F.col("vq"), centroids, nprobe))
    ).withColumn("nq", _norm(F.col("vq")))
    joined = corpus.join(F.broadcast(qs), "cell").where(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = joined.withColumn(
        "cosine", _dot(F.col("vq"), F.col("vc")) / (F.col("nq") * F.col("nc"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= ANN_K)
        .select("query_id", "neighbor_id", "rank")
    )


def kmeans_centroids(embeddings: DataFrame) -> DataFrame:
    """Distributed Lloyd k-means refinement of the IVF coarse centroids
    (:func:`ivf_centroids`).

    ``KMEANS_ITERS`` iterations; per iteration: assign every vector to its max-cosine centroid, then
    new centroid = per-dimension mean of members, ROUNDED to 6 decimals.
    The rounding is what makes the whole recursion cross-engine exact:
    both engines compute dots as ordered folds over identical rounded
    centroids, so assignments are bitwise deterministic and the only float
    noise (mean partial-sum order) is absorbed by the per-iteration
    rounding. Cells that lose all members keep their previous centroid.
    Returns (cell, dim, val) rows of the final centroids — the shape the
    driver's value-hash comparison can check.

    Scale shape per iteration: each vector picks its cell row-locally in
    ONE mapInPandas pass whose dots/norms are accumulated dimension by
    dimension — the exact left-to-right IEEE folds of the former
    aggregate(zip_with) columns, with np.argmax's first-max matching the
    (cos DESC, cell ASC) tie rule of the former struct-max aggregate, so
    every assignment is bit-identical. Then the one fundamentally
    required (cell, dim) mean aggregation runs — map-side combined, k·dim
    result rows. The per-iteration id-keyed argmax SHUFFLE of every
    vector and the eager localCheckpoint job are gone; the k·dim new
    centroids come back through a collect of the aggregate (fixed-size
    model state, the same class as the engine's 1-row census fetches —
    scale-independent), which also truncates lineage better than the
    checkpoint did. (A literal-centroid Catalyst variant measured SLOWER:
    each iteration's new constants defeat the codegen cache and recompile
    the stage, ~1.3s/iteration on this host.)
    """
    import math

    init = ivf_centroids()
    k, dim = init.shape
    spark = embeddings.sparkSession
    from ..partitioning import spread_small_scan

    vecs = spread_small_scan(embeddings.select("vec_id", "embedding")).select(
        F.col("embedding").cast("array<double>").alias("v"),
    )
    vecs = cached(vecs)
    cents_vals = [[round(float(x), 6) for x in init[ci]] for ci in range(k)]
    for _ in range(KMEANS_ITERS):
        # centroid lengths can drift apart once a cell absorbs shorter or
        # longer member vectors (the SQL collect_list rebuild had the same
        # property) — pad the matrix for vectorization, keep true lengths
        k_lens = [len(cv) for cv in cents_vals]
        cents_np = np.zeros((k, max(k_lens) if k_lens else 0))
        for ci, cv in enumerate(cents_vals):
            cents_np[ci, : len(cv)] = cv
        cnorms = []
        for cv in cents_vals:
            # same sequential fold the SQL _norm applies to the rounded
            # centroid array — Python floats are IEEE doubles, so the
            # bits match the former broadcast-join column exactly
            acc = 0.0
            for x in cv:
                acc = acc + x * x
            cnorms.append(math.sqrt(acc))
        cnorms_np = np.array(cnorms, dtype=np.float64)
        k_lens_np = np.array(k_lens, dtype=np.int64)

        def _assign(it, _c=cents_np, _cn=cnorms_np, _cl=k_lens_np):
            # vectorized across rows (per vector length group), but
            # accumulated DIMENSION BY DIMENSION so every dot and norm is
            # the exact left-to-right IEEE fold the SQL
            # aggregate(zip_with(...)) formulation computed — assignments
            # are bit-identical (guide §4.2: Spark distributes, numpy does
            # the batch math). A zero-norm (dead) or length-mismatched
            # centroid is excluded outright: in the SQL form its cosine
            # was NULL (division by zero / zip_with null padding), and
            # NULL sorts below every value in a struct-max, so such a cell
            # could never win.
            import pandas as pd

            kk = _c.shape[0]
            for pdf in it:
                if len(pdf) == 0:
                    continue
                lens = pdf["v"].str.len().to_numpy()
                cell = np.zeros(len(pdf), dtype=np.int32)
                for L in np.unique(lens):
                    sel = lens == L
                    V = np.array(pdf.loc[sel, "v"].tolist(), dtype=np.float64)
                    accn = np.zeros(len(V))
                    for j in range(int(L)):
                        accn = accn + V[:, j] * V[:, j]
                    nv = np.sqrt(accn)
                    cos = np.full((kk, len(V)), -np.inf)
                    for ci in range(kk):
                        if _cn[ci] == 0.0 or _cl[ci] != L:
                            continue
                        accd = np.zeros(len(V))
                        for j in range(int(L)):
                            accd = accd + V[:, j] * _c[ci, j]
                        with np.errstate(divide="ignore", invalid="ignore"):
                            cos[ci] = accd / (nv * _cn[ci])
                    # argmax down the cell axis: first max wins = lowest
                    # cell, the same (cos DESC, cell ASC) tie rule as the
                    # struct-max
                    best = np.argmax(cos, axis=0).astype(np.int32)
                    # a zero-norm VECTOR has 0/0 cosines against every
                    # cell: NULL in the SQL form, so the (cos DESC, cell
                    # ASC) order falls through to cell 0 — whereas
                    # np.argmax takes NaN as the max and would pick the
                    # first live cell
                    best[nv == 0.0] = 0
                    cell[sel] = best
                yield pd.DataFrame({"cell": cell, "v": pdf["v"]})

        assigned = vecs.mapInPandas(_assign, schema="cell int, v array<double>")
        dims = assigned.select("cell", F.posexplode("v").alias("dim", "x"))
        new_vals = dims.groupBy("cell", "dim").agg(
            F.round(F.avg("x"), 6).alias("val")
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in new_vals.collect():
            by_cell.setdefault(r["cell"], {})[r["dim"]] = r["val"]
        for ci in range(k):
            # empty cells keep their previous centroid; a cell's new
            # length tracks its members' (posexplode emits exactly the
            # dims present, contiguously from 0)
            if ci in by_cell:
                cents_vals[ci] = [by_cell[ci][d] for d in sorted(by_cell[ci])]
    return spark.createDataFrame(
        [
            (ci, d, float(x))
            for ci in range(k)
            for d, x in enumerate(cents_vals[ci])
        ],
        "cell int, dim int, val double",
    )
