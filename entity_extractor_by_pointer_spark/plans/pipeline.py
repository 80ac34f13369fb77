"""End-to-end KG-construction pipeline with stage-level resume.

pages → extract (byte-identity check) → mentions → linked → canonical →
triples → triple_counts, each stage materialized with per-partition lineage
(``plans.lineage``). ``resume=True`` skips stages whose output + lineage
exist — the distributed analog of the reference's best-checkpoint resume
(``engines/train.py:126-130``), at stage granularity (SURVEY.md §2 S4/T4).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.gazetteer import CANON_EDGES, PAGES_GAZETTEER
from ..functions.model import NerConfig
from ..operators.canonicalize import canonicalize_entities
from ..operators.extract import extraction_mismatch, with_extracted_text
from ..operators.linking import alias_df, link_mentions
from ..operators.mentions import detect_mentions, detect_mentions_gazetteer
from ..operators.triples import build_triples, triple_counts
from .lineage import StageWriter

@dataclass
class PipelineConfig:
    scorer: str = "gazetteer"  # 'gazetteer' | 'gp' | 'bp'
    classes: tuple[str, ...] = ("person", "location", "organization")
    max_sequence_length: int = 200
    gazetteer: list = field(default_factory=lambda: list(PAGES_GAZETTEER))
    aliases: list = field(default_factory=lambda: list(PAGES_GAZETTEER))
    canon_edges: list = field(default_factory=lambda: list(CANON_EDGES))
    # materialize the narrow linked/canonical stages as their own tables
    # (finer resume granularity; default keeps them fused into triples)
    materialize_all: bool = False


def extract_checked(pages: DataFrame) -> DataFrame:
    """HTML extraction + byte-identity invariant enforcement (module-level so
    the batch and incremental paths share one implementation)."""
    extracted = with_extracted_text(pages)
    mismatches = extracted.agg(extraction_mismatch(extracted)).first()[0] or 0
    if mismatches:
        raise ValueError(f"extraction invariant violated on {mismatches} pages")
    # html pruned here: downstream stages never shuffle the binary column
    return extracted.select("url", "warc_ts", F.col("extracted_text").alias("text"), "lang")


def extract_checked_observed(pages: DataFrame):
    """Single-pass variant of ``extract_checked``: the invariant aggregate
    rides the FIRST action on the returned frame via ``Observation`` (zero
    extra extraction pass — at crawl scale the check is free instead of
    doubling the most expensive narrow stage). Returns ``(df, finish)``;
    call ``finish()`` after the materializing action to enforce the
    invariant."""
    from pyspark.sql import Observation

    extracted = with_extracted_text(pages)
    obs = Observation()
    observed = extracted.observe(
        obs, extraction_mismatch(extracted).alias("mismatches")
    )
    df = observed.select(
        "url", "warc_ts", F.col("extracted_text").alias("text"), "lang"
    )

    def finish() -> None:
        mismatches = obs.get["mismatches"] or 0
        if mismatches:
            raise ValueError(f"extraction invariant violated on {mismatches} pages")

    return df, finish


def mentions_for_pages(pages_t: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Extracted pages → mentions under the configured scorer."""
    if cfg.scorer == "gazetteer":
        return detect_mentions_gazetteer(
            pages_t, cfg.gazetteer, max_tokens=cfg.max_sequence_length
        )
    return detect_mentions(
        pages_t,
        NerConfig(
            classes=list(cfg.classes),
            model_type=cfg.scorer,
            max_sequence_length=cfg.max_sequence_length,
        ),
    )


def triples_for_pages(pages: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """raw pages → (subj, pred, obj, url) triples, fused (no materialization).

    Every stage through triples is per-document independent, so running this
    on ANY partition of a corpus into batches and unioning the outputs
    equals running it once on the whole corpus — the property the
    incremental ingest path leans on (tested against a batch run)."""
    spark = pages.sparkSession
    pages_t = extract_checked(pages)
    mentions = mentions_for_pages(pages_t, cfg)
    aliases = alias_df(spark, [(name, eid) for name, _t, eid in cfg.aliases])
    canon_edges = spark.createDataFrame(cfg.canon_edges, "src string, dst string")
    linked = link_mentions(mentions, aliases).where(F.col("entity_id").isNotNull())
    return build_triples(canonicalize_entities(linked, canon_edges))


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
        cfg = self.config
        t0 = time.time()

        if resume and self.writer.is_done("pages"):
            pages_t = self.writer.read_stage("pages")
        else:
            # invariant check rides the stage write (Observation — one pass);
            # a failed check aborts BEFORE the lineage commit, so the bad
            # stage is never marked done
            observed, finish_check = extract_checked_observed(pages)
            pages_t = self.writer.write_stage("pages", observed, validate=finish_check)

        def mentions_stage() -> DataFrame:
            if cfg.scorer == "gazetteer":
                return detect_mentions_gazetteer(
                    pages_t, cfg.gazetteer, max_tokens=cfg.max_sequence_length
                )
            ner = NerConfig(
                classes=list(cfg.classes),
                model_type=cfg.scorer,
                max_sequence_length=cfg.max_sequence_length,
            )
            return detect_mentions(pages_t, ner)

        mentions = self._stage("mentions", resume, mentions_stage)

        # observability for skew decisions: persist hot mention surfaces
        # (share ≥ 2%) into _metrics (SURVEY.md §4 hot-key detection)
        from ..operators.skew import detect_hot_keys

        hot = detect_hot_keys(mentions, "entity", min_share=0.02, top_k=10)
        if hot:
            self.writer.log_metrics(
                "hot_keys", {f"mentions.entity:{k}": float(n) for k, n in hot}
            )

        aliases = alias_df(
            self.spark, [(name, eid) for name, _t, eid in cfg.aliases]
        )
        canon_edges = self.spark.createDataFrame(cfg.canon_edges, "src string, dst string")

        # linking + canonicalization are NARROW against the mention table
        # (broadcast hash joins, no shuffle): at crawl scale re-materializing
        # two extra copies of the mention table would dominate I/O, so by
        # default they stay lazy and fuse into the triples stage. Set
        # ``materialize_all=True`` to checkpoint them individually (finer
        # resume granularity at the cost of 2 extra table writes).
        def linked_fn() -> DataFrame:
            return link_mentions(mentions, aliases).where(F.col("entity_id").isNotNull())

        if cfg.materialize_all:
            linked = self._stage("linked", resume, linked_fn)
            canonical = self._stage(
                "canonical", resume, lambda: canonicalize_entities(linked, canon_edges)
            )
        else:
            canonical = canonicalize_entities(linked_fn(), canon_edges)

        # graph table materialized bucketed by subject hash (north rule):
        # parquet partition column standing in for Iceberg bucket(N, subj)
        def triples_stage() -> DataFrame:
            t = build_triples(canonical)
            return (
                t.withColumn("subj_bucket", F.pmod(F.hash("subj"), F.lit(16)))
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
        cheap salted count). This is the ingest path for periodic crawl
        drops.

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

        cfg = self.config
        if not self.writer.is_done("pages"):
            return self.run(new_pages)

        existing_urls = self.writer.read_stage("pages").select("url")
        fresh = new_pages.join(existing_urls, "url", "left_anti")
        from ..cache import cached

        # registered persist: the wrapper's finally releases it even on the
        # injected-crash paths, where the explicit unpersist is never reached
        fresh_t = cached(self._extract_checked(fresh))
        # deterministic increment id: order-insensitive xor of url hashes +
        # count — a single aggregate row, no driver-side url collection
        # two independent order-insensitive folds: xor of one 60-bit url hash
        # AND sum of a second (md5 hex 17-31). xor alone cancels across
        # multisets (two equal-size fresh sets could collide and silently
        # reuse an orphaned snapshot dir); a colliding set would now need to
        # match both folds simultaneously
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
            fresh_t.unpersist()
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

        if cfg.scorer == "gazetteer":
            mentions_new = detect_mentions_gazetteer(
                fresh_t, cfg.gazetteer, max_tokens=cfg.max_sequence_length
            )
        else:
            mentions_new = detect_mentions(
                fresh_t,
                NerConfig(
                    classes=list(cfg.classes),
                    model_type=cfg.scorer,
                    max_sequence_length=cfg.max_sequence_length,
                ),
            )
        mentions_new.write.mode("overwrite").parquet(_inc_path("mentions"))
        if _fail_after == "mentions":
            raise RuntimeError("injected failure after mentions increment")

        mentions_inc = self.spark.read.parquet(_inc_path("mentions"))
        aliases = alias_df(self.spark, [(name, eid) for name, _t2, eid in cfg.aliases])
        canon_edges = self.spark.createDataFrame(cfg.canon_edges, "src string, dst string")
        linked_new = link_mentions(mentions_inc, aliases).where(F.col("entity_id").isNotNull())
        canonical_new = canonicalize_entities(linked_new, canon_edges)
        triples_new = (
            build_triples(canonical_new)
            .withColumn("subj_bucket", F.pmod(F.hash("subj"), F.lit(16)))
        )
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
        fresh_t.unpersist()
        if _fail_after == "pages":
            raise RuntimeError("injected failure after pages commit")

        all_triples = self.writer.read_stage("triples").drop("subj_bucket")
        counts = self.writer.write_stage("triple_counts", triple_counts(all_triples))
        self.writer.log_metrics("incremental", {"new_pages": float(n_new)})
        return counts

    def _extract_checked(self, pages: DataFrame) -> DataFrame:
        """Run HTML extraction and enforce the byte-identity invariant."""
        return extract_checked(pages)
