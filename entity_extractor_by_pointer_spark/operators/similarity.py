"""Similarity search over embedding columns.

One exact cosine top-k kernel (``_cosine_topk``: the query batch broadcast,
ordered-fold dot products over doubles, a per-query window rank) under three
candidate rules, i.e. join keys:

- ``ann_topk_bruteforce``: none, every corpus vector (a broadcast
  nested-loop join) — the correctness baseline.
- ``ann_topk_lsh``: the query's random-hyperplane LSH bucket. The seeded
  numpy planes are baked into the plan as array literals, so the DuckDB
  oracle reproduces the same buckets.
- ``ann_topk_ivf``: the query's ``nprobe`` nearest cells of a corpus that
  ``ivf_assign`` quantized to K seeded centroids.

At 100 TB the broadcast side is the query batch and the corpus stays
partitioned; no shuffle of the corpus happens in any path (bucketing is a
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


def _cosine_topk(corpus: DataFrame, queries: DataFrame, k: int, key: str | None = None) -> DataFrame:
    """(query_id, neighbor_id, rank): the exact cosine top-k of each query
    among the corpus vectors, both sides ``(vec_id, embedding[, key])`` rows.

    Vectors are cast to double; a query is never its own neighbour, and ties
    break by neighbor id ascending. With ``key``, a query scores only the
    corpus rows that share its key (an equi-join); without it, every corpus
    row (a broadcast nested-loop join). A zero-norm vector on either side of
    a scored pair divides by zero: under ANSI mode (Spark's default) the
    query raises ``DIVIDE_BY_ZERO``.
    """

    def side(df, id_name, v_name, n_name):
        v = F.col("embedding").cast("array<double>")
        keyed = [F.col(key)] if key else []
        return df.select(F.col("vec_id").alias(id_name), v.alias(v_name), *keyed, _norm(v).alias(n_name))

    scored = (
        side(corpus, "neighbor_id", "vc", "nc")
        .join(F.broadcast(side(queries, "query_id", "vq", "nq")), key)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", _dot(F.col("vq"), F.col("vc")) / (F.col("nq") * F.col("nc")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def ann_topk_bruteforce(embeddings: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, rank): exact cosine top-k over every corpus vector."""
    return _cosine_topk(embeddings, queries, k)


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
    bucket = bucket_expr(F.col("embedding").cast("array<double>"), lsh_planes())
    return _cosine_topk(
        embeddings.withColumn("bucket", bucket), queries.withColumn("bucket", bucket), k, "bucket"
    )


def ivf_centroids() -> np.ndarray:
    c = np.random.default_rng(LSH_SEED + 1).normal(0, 1.0, (IVF_CELLS, ANN_DIM))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def ivf_assign(embeddings: DataFrame) -> DataFrame:
    """The IVF-assigned corpus ``(vec_id, embedding, cell)``: each vector
    (cast to double) with its nearest seeded centroid (:func:`ivf_centroids`)
    by cosine (IVF coarse step). The one place a vector's cell is computed:
    materialized partitioned by ``cell``, it is the corpus
    :func:`ann_topk_ivf` probes, pruning whole cell partitions."""
    from ..partitioning import spread_small_scan

    v = F.col("embedding").cast("array<double>")
    return spread_small_scan(embeddings.select("vec_id", "embedding")).select(
        F.col("vec_id"), v.alias("embedding"), top_cells_expr(v, ivf_centroids(), 1)[0].alias("cell")
    )


def top_cells_expr(v, centroids: np.ndarray, nprobe: int):
    """Column: the ``nprobe`` nearest centroid indices by cosine, ordered
    best-first (ties → lower cell, matching the oracle's ``ORDER BY score
    DESC, cell ASC``). Built as one sorted array of (score, cell) structs so
    each centroid score is computed exactly once; a when-chain argmax
    re-embeds every prior score expression in each branch and blows up the
    codegen tree (~10× slower measured). A zero-norm ``v`` divides by zero:
    under ANSI mode (Spark's default) the query raises ``DIVIDE_BY_ZERO``."""
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
    cells = top_cells_expr(F.col("embedding").cast("array<double>"), ivf_centroids(), nprobe)
    return _cosine_topk(
        assigned.withColumn("cell", F.col("cell").cast("int")),
        queries.withColumn("cell", F.explode(cells)),
        ANN_K,
        "cell",
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
