"""The benchmark workloads.

Each workload stages its seeded inputs to parquet, then exposes one pass as
a list of labelled operations. ``run.py`` times the operations, turns each
result into a compact ``summary`` right after it (untimed), and checks every
summary against an independently computed expectation after the timed loop.

- ``ner_gp_long``: the fused GlobalPointer mention stage over long pages.
- ``kg_query_mix``: one pass over five query-contract entries, in a
  seed-shuffled order, against a seeded documents twin.
- ``kg_build``: ``KgPipeline.run`` (gazetteer scorer) over short pages. It
  is not a workload of its own: its layers are measured as a companion in
  the traced run of ``ner_gp_long``.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from functools import cached_property

import numpy as np

CLASSES = ["person", "location", "organization"]

SIZES = {
    # pages per pass for the two page workloads; twin scale for the mix
    "full": {"ner_pages": 4000, "ner_sample": 400, "ner_layer_sample": 2000, "kg_pages": 1000, "mix_docs": 300},
    "tiny": {"ner_pages": 200, "ner_sample": 50, "ner_layer_sample": 100, "kg_pages": 200, "mix_docs": 200},
}

# The pair-engine and curation entries of ``queries()``: where exact prefix
# filtering (``dedup_ngram_jaccard``, ``doc_containment``) and the simhash
# and minhash follow-ups act. The entries that read the KG stores, the graph
# and the vector indexes are left out: building the stores and warming those
# queries takes 60-90 s a run on 4 cores, more than the run budget allows.
MIX_QUERIES = [
    "dedup_ngram_jaccard",
    "doc_containment",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "doc_boilerplate",
]

KG_STAGES = ["pages", "mentions", "triples", "triple_counts"]


# Page ids stay below this so every synthetic crawl timestamp
# (``generate_pages``: 137 s per id after 2024-01-01) fits a nanosecond
# timestamp, whose range ends in 2262; larger ids fail page synthesis.
PAGE_ID_LIMIT = 40_000_000


def _page_window(seed: int, n: int) -> int:
    """First page id of the seed's window. Windows never overlap, so seeds
    that differ modulo the number of windows (10,000 or more at the full
    sizes) give different pages; any integer seed maps inside the limit."""
    return (seed % (PAGE_ID_LIMIT // n)) * n


class Workload:
    name = ""
    item = ""  # what ``items`` counts per pass
    pass_metric = "pass_s"  # the workload's own name for ``pass_s``
    items = 0
    input_dir = ""
    # workloads whose layers the traced run also measures, after its own
    companions: tuple[str, ...] = ()  # names in ``COMPANIONS``

    def __init__(self, spark, workdir: str, seed: int, size: str):
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self.size = SIZES[size]
        os.makedirs(workdir, exist_ok=True)

    def stage(self) -> None:
        """Write the seeded inputs to parquet (part of set-up)."""
        raise NotImplementedError

    def ops(self) -> list[tuple[str, object]]:
        """One pass: (label, zero-argument callable) in execution order."""
        raise NotImplementedError

    def summarize(self, label: str, result):
        """Compact, comparable form of one operation's result (untimed)."""
        return result

    def check(self, label: str, summary) -> bool:
        """Whether a summary matches the independently computed answer."""
        raise NotImplementedError

    def before_op(self) -> None:
        """Untimed reset between operations."""

    def layers(self, traced: list[dict]) -> dict[str, float]:
        """Workload-specific per-layer metrics from the traced passes."""
        return {}


# ---------------------------------------------------------------------------


class NerGpLong(Workload):
    name = "ner_gp_long"
    item = "docs"
    companions = ("kg_build",)

    def __init__(self, *args):
        super().__init__(*args)
        from entity_extractor_by_pointer_spark.functions.model import NerConfig

        self.cfg = NerConfig(classes=CLASSES, model_type="gp", logit_bias=-8.0)
        self.items = self.size["ner_pages"]
        self.input_dir = os.path.join(self.workdir, "pages")
        self._full_hash = None  # every pass must give the same spans

    def stage(self) -> None:
        from entity_extractor_by_pointer_spark.sources.pages import generate_pages

        n = self.items
        start = _page_window(self.seed, n)
        # one file per core: the scan then reads one equal-sized split per task
        generate_pages(
            self.spark, start + n, partitions=self.spark.sparkContext.defaultParallelism,
            start=start, min_sents=10, extra_sents=5,
        ).select("url", "text").write.parquet(self.input_dir)
        self.pages = self.spark.read.parquet(self.input_dir)
        # fixed sample for the output check: every k-th staged page
        import pyarrow.parquet as pq

        table = pq.read_table(self.input_dir, columns=["url", "text"]).sort_by("url")
        step = max(1, table.num_rows // self.size["ner_sample"])
        self.sample = table.take(list(range(0, table.num_rows, step))).to_pylist()
        self.all_pages = table

    def ops(self):
        from entity_extractor_by_pointer_spark.operators.mentions import detect_mentions

        return [("mentions", lambda: detect_mentions(self.pages, self.cfg).collect())]

    def summarize(self, label, rows):
        from check_oracles import value_hash

        sample_urls = {p["url"] for p in self.sample}
        spans = frozenset(
            (r.url, r.type, r.entity, r.start_idx, r.end_idx, r.score)
            for r in rows
            if r.url in sample_urls
        )
        cols = list(rows[0].__fields__) if rows else []
        return spans, value_hash(cols, rows)

    @cached_property
    def reference(self) -> frozenset:
        """Sample spans from the single-process model."""
        from entity_extractor_by_pointer_spark.functions.model import PointerNerModel

        model = PointerNerModel(self.cfg)
        texts = [p["text"] for p in self.sample]
        out = set()
        for page, spans in zip(self.sample, model.predict_batch(texts)):
            for sp in spans:
                out.add(
                    (page["url"], CLASSES[sp.class_id], sp.entity, sp.start_idx, sp.end_idx, sp.score)
                )
        return frozenset(out)

    def check(self, label, summary) -> bool:
        spans, full_hash = summary
        if self._full_hash is None:
            self._full_hash = full_hash
        return spans == self.reference and full_hash == self._full_hash

    def layers(self, traced):
        """Single-process model layers on an even sample of the staged pages,
        timed by wrapping the public calls ``predict_batch`` makes and scaled
        to the whole page set; decode is the rest of ``predict_batch``."""
        import entity_extractor_by_pointer_spark.functions.model as model_mod
        from entity_extractor_by_pointer_spark.functions.model import PointerNerModel
        from entity_extractor_by_pointer_spark.session import ARROW_BATCH

        model = PointerNerModel(self.cfg)
        acc = {"tokenize_s": 0.0, "encode_s": 0.0, "head_qk_s": 0.0, "tokens": 0, "cells_scored": 0}
        n_classes = self.cfg.num_labels

        encode_for_inference = model_mod.encode_for_inference
        encoder = model.encoder
        qk_and_bias = model.head.qk_and_bias

        def tokenize(text, max_len):
            t = time.perf_counter()
            ids, mask, offsets = encode_for_inference(text, max_len)
            acc["tokenize_s"] += time.perf_counter() - t
            acc["tokens"] += sum(mask)
            return ids, mask, offsets

        def encode(ids, mask):
            t = time.perf_counter()
            out = encoder(ids, mask)
            acc["encode_s"] += time.perf_counter() - t
            return out

        def head_qk(hidden):
            t = time.perf_counter()
            out = qk_and_bias(hidden)
            acc["head_qk_s"] += time.perf_counter() - t
            acc["cells_scored"] += n_classes * hidden.shape[1] ** 2
            return out

        texts = self.all_pages.column("text").to_pylist()
        step = max(1, len(texts) // self.size["ner_layer_sample"])
        texts = texts[::step]
        model_mod.encode_for_inference = tokenize
        model.encoder = encode
        model.head.qk_and_bias = head_qk
        try:
            t = time.perf_counter()
            n_spans = 0
            for i in range(0, len(texts), ARROW_BATCH):
                n_spans += sum(len(s) for s in model.predict_batch(texts[i : i + ARROW_BATCH]))
            model_s = time.perf_counter() - t
        finally:
            model_mod.encode_for_inference = encode_for_inference
        acc["decode_s"] = model_s - acc["tokenize_s"] - acc["encode_s"] - acc["head_qk_s"]
        acc["spans"] = n_spans
        scale = self.items / len(texts)
        out = {f"ner_gp_long.{k}": float(v) * scale for k, v in acc.items()}
        executor_run_s = float(np.median([p["spark"]["executor_run_s"] for p in traced]))
        out["ner_gp_long.model_share"] = model_s * scale / executor_run_s
        return out


# ---------------------------------------------------------------------------


def _triples_digest(df) -> tuple[int, str]:
    """Row count and an order-insensitive sum of per-row 64-bit hashes."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("subj", "pred", "obj", "url").cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), str(row["h"])


class KgBuild(Workload):
    name = "kg_build"
    item = "pages"

    def __init__(self, *args):
        super().__init__(*args)
        self.items = self.size["kg_pages"]
        self.input_dir = os.path.join(self.workdir, "pages")
        self._runs = 0

    def stage(self) -> None:
        from entity_extractor_by_pointer_spark.sources.pages import generate_pages

        n = self.items
        start = _page_window(self.seed, n)
        generate_pages(
            self.spark, start + n, partitions=self.spark.sparkContext.defaultParallelism,
            start=start,
        ).write.parquet(self.input_dir)
        self.pages = self.spark.read.parquet(self.input_dir)

    def _run_pipeline(self) -> str:
        from entity_extractor_by_pointer_spark.plans.pipeline import KgPipeline

        self._runs += 1
        out = os.path.join(self.workdir, f"kg{self._runs}")
        KgPipeline(self.spark, out, f"run{self._runs}").run(self.pages)
        return out

    def ops(self):
        return [("pipeline", self._run_pipeline)]

    def summarize(self, label, out_dir):
        import pyarrow.parquet as pq

        triples = self.spark.read.parquet(os.path.join(out_dir, "triples"))
        digest = _triples_digest(triples)
        metrics = pq.read_table(os.path.join(out_dir, "_metrics")).to_pylist()
        shutil.rmtree(out_dir)
        stage = {(m["stage"], m["key"]): m["value"] for m in metrics}
        return digest, stage

    @cached_property
    def reference(self) -> tuple[int, str]:
        """Digest of the fused, unmaterialized triples of the same pages."""
        from entity_extractor_by_pointer_spark.plans.pipeline import (
            PipelineConfig,
            triples_for_pages,
        )

        return _triples_digest(triples_for_pages(self.pages, PipelineConfig()))

    def check(self, label, summary) -> bool:
        return summary[0] == self.reference

    def layers(self, traced):
        per_pass = []
        for p in traced:
            stage = p["summaries"]["pipeline"][1]
            row = {f"kg_build.stage.{s}_s": stage[(s, "seconds")] for s in KG_STAGES}
            row["kg_build.stage.other_s"] = p["wall"] - sum(row.values())
            row["kg_build.rows.mentions"] = stage[("mentions", "rows_out")]
            row["kg_build.rows.triples"] = stage[("triples", "rows_out")]
            per_pass.append(row)
        return {k: float(np.median([r[k] for r in per_pass])) for k in per_pass[0]}


# ---------------------------------------------------------------------------


class KgQueryMix(Workload):
    name = "kg_query_mix"
    item = "queries"
    pass_metric = "mix_s"

    def __init__(self, *args):
        super().__init__(*args)
        self.items = len(MIX_QUERIES)
        self.input_dir = os.path.join(self.workdir, "twin")
        self.order = random.Random(self.seed).sample(MIX_QUERIES, len(MIX_QUERIES))

    def stage(self) -> None:
        import gen_scaled_sf as twin
        import pyarrow.parquet as pq

        os.makedirs(self.input_dir)
        rng = np.random.default_rng(self.seed % 2**64)  # accepts negative seeds too
        docs = twin.gen_documents(rng, self.size["mix_docs"])
        pq.write_table(docs, os.path.join(self.input_dir, "documents.parquet"), compression="snappy")

    def before_op(self) -> None:
        from entity_extractor_by_pointer_spark.cache import release_all

        # operators persist intermediates; keep one query's cache residue
        # from charging memory pressure to the next
        release_all()
        self.spark.catalog.clearCache()

    def ops(self):
        import __spark_entry__ as entry

        qs = entry.queries()

        def op(name):
            def run():
                df = qs[name](self.spark, self.input_dir)
                return df.columns, df.collect()

            return run

        return [(name, op(name)) for name in self.order]

    def summarize(self, label, result):
        from check_oracles import value_hash

        cols, rows = result
        return len(rows), sorted(cols), value_hash(cols, [tuple(r) for r in rows])

    def check(self, label, summary) -> bool:
        return summary == self.reference[label]

    @cached_property
    def reference(self) -> dict:
        """Each query's ``oracle_sql()`` run in DuckDB on the twin files."""
        import duckdb

        import __spark_entry__ as entry
        from check_oracles import value_hash

        sql = entry.oracle_sql()
        con = duckdb.connect()
        try:
            path = os.path.join(self.input_dir, "documents.parquet")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
            out = {}
            for name in MIX_QUERIES:
                res = con.execute(sql[name])
                cols = [d[0] for d in res.description]
                rows = res.fetchall()
                out[name] = (len(rows), sorted(cols), value_hash(cols, rows))
            return out
        finally:
            con.close()

    def layers(self, traced):
        out = {}
        for name in MIX_QUERIES:
            out[f"kg_query_mix.q.{name}_s"] = float(np.median([p["op_wall"][name] for p in traced]))
            out[f"kg_query_mix.q.{name}.shuffle_write_bytes"] = float(
                np.median([p["op_spark"][name]["shuffle_write_bytes"] for p in traced])
            )
        return out


WORKLOADS = {w.name: w for w in (NerGpLong, KgQueryMix)}
COMPANIONS = {w.name: w for w in (KgBuild,)}
