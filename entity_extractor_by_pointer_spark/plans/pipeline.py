"""End-to-end KG-construction pipeline with stage-level resume.

The KG build chain is written once, here: pages → extract (byte-identity
check) → mentions (``mentions_for_pages``) → link → canonicalize
(``canonical_mentions``) → triples. ``triples_for_pages`` runs it fused;
``KgPipeline.run`` materializes the pages, mentions, triples and
triple_counts stages with per-partition lineage (``plans.lineage``); the
canonical-mention store of ``__spark_entry__`` calls ``canonical_mentions``
with its own gazetteer. ``resume=True`` skips each stage whose latest write
committed from an input of the same fingerprint (the pages', plus the
scorer and classes after the pages stage) — the distributed analog of the
reference's best-checkpoint resume (``engines/train.py:126-130``), at
stage granularity (SURVEY.md §2 S4/T4) — rebuilds the others, and raises
when the pages stage was built from other pages.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.gazetteer import CANON_EDGES, PAGES_GAZETTEER
from ..functions.model import MAX_SEQUENCE_LENGTH, NerConfig
from ..operators.canonicalize import canonicalize_entities
from ..operators.extract import with_extracted_text
from ..operators.linking import alias_df, link_mentions
from ..operators.mentions import detect_mentions, detect_mentions_gazetteer
from ..operators.triples import bucket_by_subject, build_triples, triple_counts
from .lineage import StageWriter, fingerprint, observed_fingerprint

# parquet partition count of the triples table (Iceberg bucket(N, subj))
SUBJ_BUCKETS = 16


@dataclass
class PipelineConfig:
    scorer: str = "gazetteer"  # 'gazetteer' | 'gp' | 'bp'
    classes: tuple[str, ...] = ("person", "location", "organization")


def extract_checked(pages: DataFrame) -> DataFrame:
    """HTML extraction with the byte-identity invariant checked in the same
    pass: the output ``text`` raises, naming the url, on any row whose stored
    text differs from its html's extraction. The check lives on ``text``
    because Catalyst prunes it wherever ``text`` is unread; every caller
    reads it. html is pruned here: downstream stages never shuffle it."""
    extracted = with_extracted_text(pages)
    text = F.when(
        ~F.col("text").eqNullSafe(F.col("extracted_text")),
        F.raise_error(F.concat(F.lit("extraction invariant violated: "), F.col("url"))),
    ).otherwise(F.col("extracted_text"))
    return extracted.select("url", "warc_ts", text.alias("text"), "lang")


def mentions_for_pages(pages_t: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Extracted pages → mentions under the configured scorer."""
    if cfg.scorer == "gazetteer":
        return detect_mentions_gazetteer(pages_t, PAGES_GAZETTEER, max_tokens=MAX_SEQUENCE_LENGTH)
    return detect_mentions(
        pages_t,
        NerConfig(classes=list(cfg.classes), model_type=cfg.scorer),
    )


def canonical_mentions(mentions: DataFrame, gazetteer: list, canon_edges: list) -> DataFrame:
    """mentions → linked against the gazetteer's aliases (unlinked dropped)
    → + ``canon_id`` from the duplicate-entity edges. Linking and
    canonicalization are broadcast joins, narrow against the mention table."""
    spark = mentions.sparkSession
    aliases = alias_df(spark, [(name, eid) for name, _t, eid in gazetteer])
    linked = link_mentions(mentions, aliases).where(F.col("entity_id").isNotNull())
    edges = spark.createDataFrame(canon_edges, "src string, dst string")
    return canonicalize_entities(linked, edges)


def triples_for_pages(pages: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """raw pages → (subj, pred, obj, url) triples, fused (no materialization).

    Every stage through triples is per-document independent, so running this
    on ANY partition of a corpus into batches and unioning the outputs
    equals running it once on the whole corpus (tested on a two-way split).
    A crawl drop therefore runs as its own batch run: the union of the
    runs' triples is the triples of one run over every drop."""
    mentions = mentions_for_pages(extract_checked(pages), cfg)
    return build_triples(canonical_mentions(mentions, PAGES_GAZETTEER, CANON_EDGES))


class KgPipeline:
    def __init__(self, spark: SparkSession, workdir: str, run_id: str, config: PipelineConfig | None = None):
        self.spark = spark
        self.config = config or PipelineConfig()
        self.writer = StageWriter(spark, workdir, run_id)

    def run(self, pages: DataFrame, resume: bool = False) -> DataFrame:
        """Full batch run. Operator-level persists (``cache.cached``, e.g.
        the first-mention table inside ``build_triples``) are released in a
        ``finally`` — every stage is materialized to parquet before return,
        so nothing downstream needs the cached blocks, and without the
        release each run of a long-lived ingest would leak them (round-3
        ADVICE)."""
        from ..cache import release_all

        try:
            return self._run(pages, resume)
        finally:
            release_all()

    def _run(self, pages: DataFrame, resume: bool = False) -> DataFrame:
        t0 = time.time()
        # every stage records the input's fingerprint and is reused only for
        # an input with the same one. A run that resumes needs it first; any
        # other run takes it from the pages-stage write (no job of its own).
        if resume:
            fp = fingerprint(pages)
            found = self.writer.done_fingerprint("pages")
            if found not in (None, fp):
                raise ValueError(
                    f"resume: stage 'pages' was built from input fingerprint {found}, "
                    f"the pages given have fingerprint {fp}"
                )
            input_fp = lambda: fp  # noqa: E731
        else:
            pages, input_fp = observed_fingerprint(pages)
        # the stages after pages also depend on the scorer and its classes:
        # their fingerprint names both, so a resume under another config
        # rebuilds them
        cfg = self.config
        cfg_fp = lambda: f"{input_fp()}/{cfg.scorer}/{','.join(cfg.classes)}"  # noqa: E731
        # the invariant check rides the pages write; a violation aborts it
        # BEFORE the lineage commit, so the stage is never marked done
        pages_t = self.writer.materialize("pages", resume, lambda: extract_checked(pages), input_fp)
        mentions = self.writer.materialize(
            "mentions", resume, lambda: mentions_for_pages(pages_t, cfg), cfg_fp
        )

        # observability for skew decisions: persist hot mention surfaces
        # (share ≥ 2%) into _metrics (SURVEY.md §4 hot-key detection)
        from ..operators.skew import detect_hot_keys

        hot = detect_hot_keys(mentions, "entity")
        if hot:
            self.writer.log_metrics(
                "hot_keys", {f"mentions.entity:{k}": float(n) for k, n in hot}
            )

        # linking + canonicalization stay lazy and fuse into the triples
        # stage: re-materializing two more copies of the mention table would
        # dominate I/O at crawl scale. The graph table is bucketed by
        # subject hash (parquet stand-in for Iceberg bucket(N, subj)).
        def triples_stage() -> DataFrame:
            t = build_triples(canonical_mentions(mentions, PAGES_GAZETTEER, CANON_EDGES))
            return bucket_by_subject(t, SUBJ_BUCKETS)

        triples = self.writer.materialize(
            "triples", resume, triples_stage, cfg_fp, partition_by=["subj_bucket"]
        )
        counts = self.writer.materialize(
            "triple_counts", resume, lambda: triple_counts(triples.drop("subj_bucket")), cfg_fp
        )

        n_pages = pages_t.count()
        n_triples = triples.count()
        wall = time.time() - t0
        self.writer.log_metrics(
            "pipeline",
            {
                "pages": float(n_pages),
                "triples": float(n_triples),
                "wall_seconds": wall,
                "triples_per_sec": n_triples / wall if wall > 0 else 0.0,
                "pages_per_sec": n_pages / wall if wall > 0 else 0.0,
            },
        )
        return counts
