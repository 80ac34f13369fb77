"""End-to-end KG-construction pipeline with stage-level resume.

The KG build chain is written once, here: pages → extract (byte-identity
check) → mentions (``mentions_for_pages``) → link → canonicalize
(``canonical_mentions``) → triples. ``triples_for_pages`` runs it fused;
``KgPipeline.run`` materializes the pages, mentions, triples and
triple_counts stages with per-partition lineage (``plans.lineage``);
``run_incremental`` appends snapshot increments; the canonical-mention
store of ``__spark_entry__`` calls ``canonical_mentions`` with its own
gazetteer. ``resume=True`` skips stages whose output + lineage exist — the
distributed analog of the reference's best-checkpoint resume
(``engines/train.py:126-130``), at stage granularity (SURVEY.md §2 S4/T4).
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.gazetteer import CANON_EDGES, PAGES_GAZETTEER
from ..functions.model import NerConfig
from ..operators.canonicalize import canonicalize_entities
from ..operators.extract import with_extracted_text
from ..operators.linking import alias_df, link_mentions
from ..operators.mentions import detect_mentions, detect_mentions_gazetteer
from ..operators.triples import build_triples, subj_bucket, triple_counts
from .lineage import StageWriter

MAX_SEQUENCE_LENGTH = 200
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
        F.col("text") != F.col("extracted_text"),
        F.raise_error(F.concat(F.lit("extraction invariant violated: "), F.col("url"))),
    ).otherwise(F.col("extracted_text"))
    return extracted.select("url", "warc_ts", text.alias("text"), "lang")


def mentions_for_pages(pages_t: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Extracted pages → mentions under the configured scorer."""
    if cfg.scorer == "gazetteer":
        return detect_mentions_gazetteer(pages_t, PAGES_GAZETTEER, max_tokens=MAX_SEQUENCE_LENGTH)
    return detect_mentions(
        pages_t,
        NerConfig(
            classes=list(cfg.classes),
            model_type=cfg.scorer,
            max_sequence_length=MAX_SEQUENCE_LENGTH,
        ),
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
    equals running it once on the whole corpus — the property the
    incremental ingest path leans on (tested against a batch run)."""
    mentions = mentions_for_pages(extract_checked(pages), cfg)
    return build_triples(canonical_mentions(mentions, PAGES_GAZETTEER, CANON_EDGES))


class KgPipeline:
    def __init__(self, spark: SparkSession, workdir: str, run_id: str, config: PipelineConfig | None = None):
        self.spark = spark
        self.config = config or PipelineConfig()
        self.writer = StageWriter(spark, workdir, run_id)

    def _stage(self, name: str, resume: bool, compute, partition_by=None) -> DataFrame:
        if resume and self.writer.is_done(name):
            return self.writer.read_stage(name)
        return self.writer.write_stage(name, compute(), partition_by=partition_by)

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
        # the invariant check rides the pages write; a violation aborts it
        # BEFORE the lineage commit, so the stage is never marked done
        pages_t = self._stage("pages", resume, lambda: extract_checked(pages))
        mentions = self._stage("mentions", resume, lambda: mentions_for_pages(pages_t, self.config))

        # observability for skew decisions: persist hot mention surfaces
        # (share ≥ 2%) into _metrics (SURVEY.md §4 hot-key detection)
        from ..operators.skew import detect_hot_keys

        hot = detect_hot_keys(mentions, "entity", min_share=0.02, top_k=10)
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
            return (
                t.withColumn("subj_bucket", subj_bucket(SUBJ_BUCKETS))
                .repartition("subj_bucket")
                .sortWithinPartitions("subj", "pred", "obj")
            )

        triples = self._stage("triples", resume, triples_stage, partition_by=["subj_bucket"])
        counts = self._stage(
            "triple_counts", resume, lambda: triple_counts(triples.drop("subj_bucket"))
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

    def run_incremental(self, new_pages: DataFrame, _fail_after: str | None = None) -> DataFrame:
        """Process only pages not yet in the materialized ``pages`` stage and
        append their mentions/triples — exact, because every stage up to
        triples is per-document independent (mentions, linking, canon are
        per-row; triples pair entities within one document), so
        incremental-append ≡ full recompute over the union (tested).

        Commit protocol (crash-exact at every boundary): each increment is a
        SNAPSHOT directory ``<stage>_inc/<inc_id>`` keyed by a deterministic
        content hash of the fresh url set, written mode=overwrite in the
        order mentions → triples → pages. The *pages* snapshot is the commit
        marker — the next run's anti-join keys on pages, so a crash before
        it leaves the same fresh set, the retry recomputes the same
        ``inc_id`` and idempotently overwrites the orphaned snapshots; a
        crash after it leaves a complete increment. Snapshots without a
        ``_SUCCESS`` marker are invisible to readers (``StageWriter
        .read_stage``). ``_fail_after`` is a test hook that raises after the
        named stage's write, to exercise exactly those crash windows.

        ``triple_counts`` is re-aggregated from the full triples table (a
        cheap map-side-combined count). This is the ingest path for periodic
        crawl drops.

        Like ``run``, operator-level persists are released in a ``finally``
        so periodic increments on a long-lived driver don't accumulate
        cached blocks (round-3 ADVICE).
        """
        from ..cache import release_all

        try:
            return self._run_incremental(new_pages, _fail_after)
        finally:
            release_all()

    def _run_incremental(self, new_pages: DataFrame, _fail_after: str | None = None) -> DataFrame:
        import os

        if not self.writer.is_done("pages"):
            return self.run(new_pages)

        existing_urls = self.writer.read_stage("pages").select("url")
        fresh = new_pages.join(existing_urls, "url", "left_anti")
        from ..cache import cached

        # registered persist (released by the wrapper's finally, even on the
        # injected-crash paths); the signature aggregate below is its first
        # action, so an extraction-invariant violation raises there, before
        # any increment is written
        fresh_t = cached(extract_checked(fresh))
        # deterministic increment id from two independent order-insensitive
        # folds in one aggregate row (no driver-side url collection): xor of
        # one 60-bit url hash AND sum of a second (md5 hex 17-31). xor alone
        # cancels across multisets (two equal-size fresh sets could collide
        # and silently reuse an orphaned snapshot dir); a colliding set would
        # now need to match both folds simultaneously
        sig = fresh_t.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "bit_xor(cast(conv(substring(md5(url), 1, 15), 16, 10) AS bigint))"
            ).alias("h"),
            # decimal(38,0) accumulator: a bigint sum of 60-bit terms
            # overflows under ANSI mode; 38 digits hold ~1e20 rows' worth
            F.expr(
                "cast(sum(cast(conv(substring(md5(url), 17, 15), 16, 10)"
                " AS decimal(38,0))) % 1152921504606846976 AS bigint)"
            ).alias("h2"),
        ).first()
        n_new = int(sig["n"])
        if n_new == 0:
            self.writer.log_metrics("incremental", {"new_pages": 0.0})
            # re-aggregate counts even with no new pages: a prior run may
            # have crashed AFTER its pages commit but BEFORE the counts
            # refresh, in which case the stored counts are stale (covered by
            # the pages crash-window test)
            all_triples = self.writer.read_stage("triples").drop("subj_bucket")
            return self.writer.write_stage("triple_counts", triple_counts(all_triples))
        h_xor = int(sig["h"]) & ((1 << 60) - 1)
        h_sum = int(sig["h2"]) & ((1 << 60) - 1)
        inc_id = f"inc_{h_xor:015x}_{h_sum:015x}_{n_new}"

        def _inc_path(stage: str) -> str:
            return os.path.join(self.writer.workdir, f"{stage}_inc", inc_id)

        mentions_for_pages(fresh_t, self.config).write.mode("overwrite").parquet(
            _inc_path("mentions")
        )
        if _fail_after == "mentions":
            raise RuntimeError("injected failure after mentions increment")

        mentions_inc = self.spark.read.parquet(_inc_path("mentions"))
        triples_new = build_triples(
            canonical_mentions(mentions_inc, PAGES_GAZETTEER, CANON_EDGES)
        ).withColumn("subj_bucket", subj_bucket(SUBJ_BUCKETS))
        triples_new.write.mode("overwrite").partitionBy("subj_bucket").parquet(
            _inc_path("triples")
        )
        if _fail_after == "triples":
            raise RuntimeError("injected failure after triples increment")

        # COMMIT: pages last — only now does the anti-join see these urls
        fresh_t.write.mode("overwrite").parquet(_inc_path("pages"))
        # stamp the snapshot-log ordinal (mtime is not a reliable order);
        # a crash before the stamp is healed by list_snapshots in mtime order
        self.writer.assign_commit_seq(inc_id)
        if _fail_after == "pages":
            raise RuntimeError("injected failure after pages commit")

        all_triples = self.writer.read_stage("triples").drop("subj_bucket")
        counts = self.writer.write_stage("triple_counts", triple_counts(all_triples))
        self.writer.log_metrics("incremental", {"new_pages": float(n_new)})
        return counts
