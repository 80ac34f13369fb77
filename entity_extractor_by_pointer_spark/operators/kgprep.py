"""KG-embedding training preparation over the materialized triple table.

The reference trains a span-pointer NER model; a KG built from its output
feeds the NEXT model in the stack — TransE/RotatE-style embedding training —
whose data prep is corruption-based negative sampling: for every true
(subj, pred, obj) fact, emit ``KG_NEG_K`` corrupted variants with the object replaced
by a pseudo-random entity. This operator does that deterministically
(hash-derived, no RNG state), so the sample is reproducible across runs,
partitionings and engines — the same property ``hash_split`` gives dataset
splits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import cached
from ..functions.textstats import md5_int64


# negatives per true triple (the negative-sampling oracle reads it)
KG_NEG_K = 2


def corrupt_triples(triples: DataFrame) -> DataFrame:
    """(subj, pred, obj, sample_idx, neg_obj, is_false_negative) — ``KG_NEG_K``
    deterministic object-corrupted negatives per distinct triple.

    The replacement entity is chosen by indexing the sorted entity
    vocabulary with ``md5(subj|pred|obj|i) mod V`` — uniform over entities,
    reproducible, and SQL-mirrorable. Following standard practice the draw
    is NOT resampled on collision; instead ``is_false_negative`` flags
    draws that hit a true (subj, pred, neg_obj) fact (or the original
    object itself), letting the training loop filter or down-weight them —
    filtered sampling would need a variable number of re-draws per row,
    which neither distributes nor mirrors cleanly.

    Scale shape: the entity vocabulary gets its dense index from one
    ``row_number`` over the sorted entities, the form the oracle uses; the
    entities are canonical ids of gazetteer-linked mentions, so there are
    at most 9 and the one-partition sort is free. Negatives join the
    vocabulary on the computed index (hash equi-join) and the
    false-negative flag is a left join back to the triple set on its
    natural key. Nothing fans out beyond KG_NEG_K rows per input triple."""
    from pyspark.sql import Window

    t = cached(triples.select("subj", "pred", "obj").distinct())
    ents = (
        t.select(F.col("subj").alias("entity"))
        .unionAll(t.select(F.col("obj").alias("entity")))
        .distinct()
    )
    vocab = cached(
        ents.select(
            "entity",
            (F.row_number().over(Window.orderBy("entity")) - 1).cast("int").alias("idx"),
        )
    )
    v = vocab.count()
    drawn = t.select(
        "subj",
        "pred",
        "obj",
        F.explode(F.array(*[F.lit(i) for i in range(KG_NEG_K)])).alias("sample_idx"),
    ).withColumn(
        "idx",
        F.pmod(
            md5_int64(
                F.concat_ws("|", F.col("subj"), F.col("pred"), F.col("obj"), F.col("sample_idx"))
            ),
            F.lit(v),
        ).cast("int"),
    )
    neg = drawn.join(
        vocab.select("idx", F.col("entity").alias("neg_obj")), "idx"
    ).drop("idx")
    truth = t.select(
        "subj", "pred", F.col("obj").alias("neg_obj"), F.lit(True).alias("_hit")
    ).distinct()
    return (
        neg.join(truth, ["subj", "pred", "neg_obj"], "left")
        .select(
            "subj",
            "pred",
            "obj",
            F.col("sample_idx").cast("int").alias("sample_idx"),
            "neg_obj",
            (
                F.coalesce(F.col("_hit"), F.lit(False))
                | (F.col("neg_obj") == F.col("obj"))
            ).alias("is_false_negative"),
        )
    )


def entity_context_embeddings(canon_mentions: DataFrame, embeddings: DataFrame) -> DataFrame:
    """(canon_id, dim, val) — each canonical entity's context embedding:
    the per-dimension mean of the document embeddings of every doc that
    mentions it (rounded to 6 dp). The standard cheap entity representation
    (average-of-contexts) used to warm-start KG-embedding training and to
    feed the ANN operators "related entity" lookups.

    Scale shape: distinct (doc, entity) mention pairs join the embedding
    table on the doc key (both sides shuffle once on doc_id — at crawl
    scale the embedding table is bucketed the same way as every other
    doc-keyed table), then ``posexplode`` fans each row out by the
    dimensionality (a constant, 16-64) and the mean is one map-side
    combined aggregation on (entity, dim). Rows out = entities × dims —
    emitted long-form because the driver canonicalizer (and most SQL
    engines) hash scalars, not arrays."""
    cm = canon_mentions.select("doc_id", "canon_id").distinct()
    vecs = embeddings.select(
        F.col("vec_id").alias("doc_id"), F.col("embedding").alias("_v")
    )
    return (
        cm.join(vecs, "doc_id")
        .select("canon_id", F.posexplode("_v").alias("dim", "_val"))
        .groupBy("canon_id", "dim")
        .agg(F.round(F.avg("_val"), 6).alias("val"))
    )


# neighbours per entity the related-entities ranking returns (the oracle reads it)
ENTITY_ANN_K = 3


def entity_related_by_embedding(canon_mentions: DataFrame, embeddings: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, rank) — the ``ENTITY_ANN_K`` nearest entities by context-embedding
    cosine: the "related entities" ranking driven by the documents entities
    appear in, complementing the graph-structural ``related_entities``
    (shared neighbors) with a distributional signal that works even for
    entities never co-mentioned.

    Composition: :func:`entity_context_embeddings` builds the vectors
    (long-form → dim-sorted arrays via ``array_sort`` over (dim, val)
    structs, so partition order can't permute components), then the ANN
    operators consume them unchanged: the exact brute-force ranking reads
    the cached vector frame on both sides. The entities are canonical ids
    of gazetteer-linked mentions, so there are at most 9 and the ranking
    scores at most 72 pairs."""
    from .similarity import ann_topk_bruteforce

    vecs = entity_context_embeddings(canon_mentions, embeddings)
    arr = cached(
        vecs.groupBy("canon_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "val"))),
                lambda s: s["val"],
            ).alias("embedding")
        )
        .withColumnRenamed("canon_id", "vec_id")
    )
    return ann_topk_bruteforce(arr, arr, ENTITY_ANN_K)
