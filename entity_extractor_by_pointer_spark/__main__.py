"""spark-submit entry point for the KG-construction pipeline.

Cluster:
    zip -r eeps.zip entity_extractor_by_pointer_spark
    spark-submit --py-files eeps.zip -m entity_extractor_by_pointer_spark ...

Local:
    python -m entity_extractor_by_pointer_spark \
        --pages-parquet /data/pages --workdir /data/kg_run --run-id r1 [--resume]
    python -m entity_extractor_by_pointer_spark --synth-pages 10000 ...
"""

from __future__ import annotations

import argparse
import sys
import time


def _ner_config(args: argparse.Namespace):
    """The model config of --show-model-info, --predict-text and
    --eval-json: the ``--scorer`` head when it names one, else GP."""
    from .functions.model import NerConfig

    return NerConfig(
        classes=args.classes.split(","),
        model_type=args.scorer if args.scorer in ("gp", "bp") else "gp",
    )


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="entity_extractor_by_pointer_spark")
    parser.add_argument("--pages-parquet", help="input pages table (url, warc_ts, html, text, lang)")
    parser.add_argument("--synth-pages", type=int, help="generate N synthetic pages instead")
    parser.add_argument(
        "--eval-json",
        help="reference-format NER dataset (list of {text, entities}): run the "
        "model over it and print per-class P/R/F1 — the distributed analog of "
        "the reference's mode='test'",
    )
    parser.add_argument("--classes", default="person,location,organization")
    parser.add_argument("--workdir", required=False, help="output root (stage tables + _lineage/_metrics)")
    parser.add_argument("--run-id", default=None)
    parser.add_argument("--resume", action="store_true", help="skip stages whose output+lineage exist")
    parser.add_argument("--scorer", default="gazetteer", choices=["gazetteer", "gp", "bp"])
    parser.add_argument("--master", default=None, help="override master (default local[$SPARK_GRAFT_CPUS])")
    parser.add_argument(
        "--predict-text",
        help="interactive-predict analog (reference main.py:51-63): run the "
        "pointer model on ONE text and print the spans",
    )
    parser.add_argument(
        "--show-model-info",
        action="store_true",
        help="parameter census (reference main.py:76-81 show_model_info)",
    )
    parser.add_argument(
        "--graph-stats",
        action="store_true",
        help="graph analytics over an existing --workdir's triples stage: "
        "top entities by PageRank, degree census, triangle counts",
    )
    parser.add_argument(
        "--profile-stage",
        metavar="STAGE",
        help="one-pass data-quality profile (nulls/distincts/min/max per "
        "column) of an existing --workdir stage table",
    )
    parser.add_argument(
        "--compact-stage",
        metavar="STAGE",
        help="small-file compaction of an existing --workdir stage base "
        "table (the Iceberg rewriteDataFiles analog); see --target-file-mb",
    )
    parser.add_argument(
        "--target-file-mb",
        type=int,
        default=128,
        metavar="MB",
        help="target data-file size for --compact-stage (default 128)",
    )
    args = parser.parse_args(argv)
    if args.show_model_info:
        from .functions.model import PointerNerModel
        from .functions.summary import format_summary

        print(format_summary(PointerNerModel(_ner_config(args))))
        return 0
    if args.predict_text is not None:
        from .functions.model import PointerNerModel

        for cls, surfaces in PointerNerModel(_ner_config(args)).predict_one(args.predict_text).items():
            print(f"{cls}: {surfaces}")
        return 0
    # one maintenance/read-only block: --profile-stage, --compact-stage and
    # --graph-stats compose (sequential execution over one session) — the
    # old early-return maintenance branch silently ignored a combined
    # --graph-stats (round-4 ADVICE)
    if args.profile_stage or args.graph_stats or args.compact_stage:
        if not args.workdir:
            parser.error("--profile-stage/--compact-stage/--graph-stats need --workdir")
        from .plans.lineage import StageWriter
        from .session import get_spark as _get_spark

        spark = _get_spark(app_name="kg-maintenance", master=args.master)
        writer = StageWriter(spark, args.workdir, args.run_id or "maintenance")
        if args.profile_stage:
            from .operators.profile import profile_table

            df = writer.read_stage(args.profile_stage)
            print(f"profile of stage '{args.profile_stage}':")
            for r in profile_table(df).orderBy("col_name").collect():
                print(
                    f"  {r['col_name']}: rows={r['n_rows']} nulls={r['n_nulls']} "
                    f"distinct={r['n_distinct']} min={r['min_val']} max={r['max_val']}"
                )
        if args.compact_stage:
            if args.target_file_mb <= 0:
                parser.error("--target-file-mb must be positive")
            res = writer.compact_stage(
                args.compact_stage, target_file_bytes=args.target_file_mb << 20
            )
            print(
                f"compact '{args.compact_stage}': rewritten={res['rewritten']} "
                f"files {res['files_before']} -> {res['files_after']}"
            )
        if args.graph_stats:
            from .operators.graph import entity_degrees, pagerank, triangle_counts

            triples = writer.read_stage("triples").drop("subj_bucket")
            print("top entities by pagerank:")
            for r in pagerank(triples).orderBy("rank", ascending=False).limit(10).collect():
                print(f"  {r['entity']}: {r['rank']:.6f}")
            print("degree census:")
            for r in entity_degrees(triples).orderBy("degree", ascending=False).limit(10).collect():
                print(f"  {r['entity']}: out={r['out_deg']} in={r['in_deg']} total={r['degree']}")
            print("triangle counts:")
            for r in triangle_counts(triples).orderBy("triangles", ascending=False).limit(10).collect():
                print(f"  {r['entity']}: {r['triangles']}")
            from .cache import release_all

            release_all()
        return 0

    if not args.pages_parquet and not args.synth_pages and not args.eval_json:
        parser.error(
            "one of --pages-parquet / --synth-pages / --eval-json / "
            "--predict-text / --show-model-info / --graph-stats is required"
        )

    from .plans.pipeline import KgPipeline, PipelineConfig
    from .session import get_spark
    from .sources.pages import generate_pages

    spark = get_spark(app_name="kg-pipeline", master=args.master)

    if args.eval_json:
        from .operators.evaluate import gold_mention_sets, span_f1
        from .operators.mentions import detect_mentions, mention_sets
        from .sources.pages import reference_dataset_as_pages

        cfg = _ner_config(args)
        pages = reference_dataset_as_pages(spark, args.eval_json)
        pred = mention_sets(detect_mentions(pages, cfg))
        gold = gold_mention_sets(pages)
        metrics, macro = span_f1(spark, pred, gold, cfg.classes)
        for r in metrics.orderBy("type").collect():
            print(
                f"class_name: {r['type']}, precision: {r['precision']:.4f}, "
                f"recall: {r['recall']:.4f}, f1: {r['f1']:.4f}"
            )
        print(f"macro f1: {macro:.4f}")
        return 0

    if not args.workdir:
        parser.error("--workdir is required for pipeline runs")
    run_id = args.run_id or f"run-{int(time.time())}"
    pages = (
        spark.read.parquet(args.pages_parquet)
        if args.pages_parquet
        else generate_pages(spark, args.synth_pages, partitions=64)
    )
    cfg = PipelineConfig(scorer=args.scorer, classes=tuple(args.classes.split(",")))
    pipe = KgPipeline(spark, args.workdir, run_id, cfg)
    counts = pipe.run(pages, resume=args.resume)
    top = counts.orderBy("n_docs", ascending=False).limit(10).collect()
    print(f"run_id={run_id} top triples:")
    for r in top:
        print(f"  ({r['subj']}, {r['pred']}, {r['obj']}) x{r['n_docs']}")
    metrics = pipe.writer.read_metrics()
    for r in metrics.where((metrics.stage == "pipeline") & (metrics.run_id == run_id)).collect():
        print(f"  {r['key']}={r['value']:.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
