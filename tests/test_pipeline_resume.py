import shutil

import pytest

from entity_extractor_by_pointer_spark.plans.lineage import fingerprint
from entity_extractor_by_pointer_spark.plans.pipeline import KgPipeline
from entity_extractor_by_pointer_spark.sources.pages import generate_pages


def _lineage(pipe):
    return pipe.spark.read.parquet(f"{pipe.writer.workdir}/_lineage")


def _triples(counts_df):
    return sorted(tuple(r) for r in counts_df.collect())


def _default_config_fp(pages):
    """The input fingerprint the stages after ``pages`` record under the
    default config: the pages' fingerprint, the scorer and the classes."""
    return f"{fingerprint(pages)}/gazetteer/person,location,organization"


def test_pipeline_deterministic_and_resumable(spark, tmp_path):
    pages = generate_pages(spark, 120, partitions=6)

    wd1 = str(tmp_path / "run1")
    out1 = _triples(KgPipeline(spark, wd1, "r1").run(pages))
    assert out1, "pipeline produced no triples"

    # determinism: fresh run, same input → identical triples
    wd2 = str(tmp_path / "run2")
    out2 = _triples(KgPipeline(spark, wd2, "r2").run(pages))
    assert out1 == out2

    # kill/resume: destroy the LAST two stage outputs of run1, resume —
    # earlier stages must be reused (lineage intact), result identical
    for stage in ("triples", "triple_counts"):
        shutil.rmtree(f"{wd1}/{stage}", ignore_errors=True)
    pipe = KgPipeline(spark, wd1, "r1-resume")
    assert pipe.writer.done_fingerprint("pages") == fingerprint(pages)
    assert pipe.writer.done_fingerprint("mentions") == _default_config_fp(pages)
    assert pipe.writer.done_fingerprint("triples") is None
    out3 = _triples(pipe.run(pages, resume=True))
    assert out3 == out1


def _parquet_pages(spark, path, start):
    generate_pages(spark, start + 60, partitions=2, start=start).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def test_resume_with_same_pages_skips_stages(spark, tmp_path):
    """A resume over the same pages parquet rebuilds nothing: every stage is
    read back and the resuming run writes no lineage row."""
    path, wd = str(tmp_path / "pages"), str(tmp_path / "wd")
    out1 = _triples(KgPipeline(spark, wd, "r1").run(_parquet_pages(spark, path, 0)))
    pipe = KgPipeline(spark, wd, "r1-resume")
    assert _triples(pipe.run(spark.read.parquet(path), resume=True)) == out1
    assert _lineage(pipe).where("run_id = 'r1-resume'").count() == 0


def test_resume_with_rewritten_pages_raises(spark, tmp_path):
    """Resuming over a pages parquet rewritten in place with other pages
    raises, naming the stage and both fingerprints, instead of serving the
    triples of the old pages."""
    import pytest

    path, wd = str(tmp_path / "pages"), str(tmp_path / "wd")
    old = fingerprint(_parquet_pages(spark, path, 0))
    KgPipeline(spark, wd, "r1").run(spark.read.parquet(path))
    new_pages = _parquet_pages(spark, path, 60)
    new = fingerprint(new_pages)
    assert new != old
    with pytest.raises(ValueError, match=f"'pages'.*{old}.*{new}"):
        KgPipeline(spark, wd, "r2").run(new_pages, resume=True)


def test_resume_after_failed_run_over_other_pages_rebuilds_stale_stages(spark, tmp_path, monkeypatch):
    """A run over other pages that dies before its triples write leaves the
    first run's triples on disk. A resume over the new pages reuses only the
    stages built from them and rebuilds the triples and counts."""
    import pytest

    from entity_extractor_by_pointer_spark.plans import pipeline

    wd = str(tmp_path / "wd")
    p1 = generate_pages(spark, 60, partitions=2)
    p2 = generate_pages(spark, 120, partitions=2, start=60)
    out1 = _triples(KgPipeline(spark, wd, "r1").run(p1))
    want = _triples(KgPipeline(spark, str(tmp_path / "fresh"), "f").run(p2))
    assert want != out1

    def dies(mentions):
        raise RuntimeError("killed before the triples write")

    with monkeypatch.context() as m:
        m.setattr(pipeline, "build_triples", dies)
        with pytest.raises(RuntimeError, match="killed"):
            KgPipeline(spark, wd, "r2").run(p2)
    pipe = KgPipeline(spark, wd, "r2-resume")
    assert pipe.writer.done_fingerprint("mentions") == _default_config_fp(p2)
    assert pipe.writer.done_fingerprint("triples") == _default_config_fp(p1)
    assert _triples(pipe.run(p2, resume=True)) == want
    rebuilt = _lineage(pipe).where("run_id = 'r2-resume' AND status = 'done'")
    assert {r["stage"] for r in rebuilt.select("stage").distinct().collect()} == {"triples", "triple_counts"}


def test_resume_over_filtered_view_of_same_parquet_raises(spark, tmp_path):
    """A filter over the same files reads other pages, so its fingerprint
    folds content instead of stamping the files, and the resume raises."""
    import pytest

    path, wd = str(tmp_path / "pages"), str(tmp_path / "wd")
    KgPipeline(spark, wd, "r1").run(_parquet_pages(spark, path, 0))
    view = spark.read.parquet(path).where("url <> 'https://example.org/page/0'")
    assert fingerprint(view) != fingerprint(spark.read.parquet(path))
    with pytest.raises(ValueError, match="'pages'"):
        KgPipeline(spark, wd, "r2").run(view, resume=True)


def test_fingerprint_of_generated_pages_folds_content(spark):
    """A frame that reads no files is fingerprinted by its content: the
    partitioning does not change it, other pages do."""
    a = fingerprint(generate_pages(spark, 40, partitions=2))
    assert a == fingerprint(generate_pages(spark, 40, partitions=4))
    assert a != fingerprint(generate_pages(spark, 41, partitions=2))


def test_triples_for_pages_is_per_document_independent(spark):
    """The fused chain on a two-way split of a corpus, unioned, equals one
    run over the whole corpus: every stage through triples is per-document
    independent, so a crawl drop can run as its own batch."""
    from entity_extractor_by_pointer_spark.plans.pipeline import PipelineConfig, triples_for_pages

    def triples(pages):
        return sorted(tuple(r) for r in triples_for_pages(pages, PipelineConfig()).collect())

    whole = triples(generate_pages(spark, 120, partitions=4))
    assert whole, "chain produced no triples"
    split = triples(generate_pages(spark, 60, partitions=2)) + triples(
        generate_pages(spark, 120, partitions=2, start=60)
    )
    assert sorted(split) == whole


def test_lineage_and_metrics_written(spark, tmp_path):
    pages = generate_pages(spark, 60, partitions=4)
    wd = str(tmp_path / "runL")
    pipe = KgPipeline(spark, wd, "rL")
    pipe.run(pages)
    lineage = _lineage(pipe)
    stages = {r["stage"] for r in lineage.select("stage").distinct().collect()}
    assert {"pages", "mentions", "triples", "triple_counts"} <= stages
    # per-partition rows recorded
    assert lineage.where("rows_out > 0").count() > 0
    metrics = pipe.writer.read_metrics()
    keys = {r["key"] for r in metrics.select("key").distinct().collect()}
    assert {"rows_out", "seconds", "triples_per_sec"} <= keys


def test_resume_after_kill_between_data_write_and_lineage_commit(spark, tmp_path):
    """write_stage's commit is the LINEAGE row, appended only after the data
    write succeeds. A kill in between leaves data + _SUCCESS but no lineage;
    is_done() must report the stage incomplete and resume must recompute
    (mode=overwrite) to the identical result."""
    pages = generate_pages(spark, 80, partitions=4)
    wd = str(tmp_path / "killwin")
    pipe = KgPipeline(spark, wd, "k1")
    out1 = _triples(pipe.run(pages))

    # simulate the crash window on the triples stage: its data dir (with
    # _SUCCESS) and its 'started' row stay, its 'done' rows are stripped by
    # re-initializing lineage without them
    lineage = _lineage(pipe)
    kept = lineage.where("stage <> 'triples' OR status = 'started'").collect()
    import shutil

    shutil.rmtree(f"{wd}/_lineage")
    from entity_extractor_by_pointer_spark.plans.lineage import LINEAGE_SCHEMA

    spark.createDataFrame([tuple(r) for r in kept], LINEAGE_SCHEMA).write.parquet(
        f"{wd}/_lineage"
    )
    pipe2 = KgPipeline(spark, wd, "k1-resume")
    assert (tmp_path / "killwin" / "triples" / "_SUCCESS").exists()
    assert pipe2.writer.done_fingerprint("triples") is None  # data there, commit missing
    assert pipe2.writer.done_fingerprint("mentions") == _default_config_fp(pages)
    out2 = _triples(pipe2.run(pages, resume=True))
    assert out2 == out1


def test_pipeline_model_scorer_and_empty_triples_are_safe(spark, tmp_path):
    """The gp model scorer produces mentions that mostly miss the alias
    dictionary → possibly ZERO triples; the pipeline must still complete,
    read back empty stages via the persisted stage schema, and resume."""
    from entity_extractor_by_pointer_spark.plans.pipeline import PipelineConfig

    wd = str(tmp_path / "gp_run")
    pipe = KgPipeline(spark, wd, "gp", PipelineConfig(scorer="gp"))
    counts = pipe.run(generate_pages(spark, 120, partitions=4))
    n = counts.count()  # zero is acceptable — must not raise
    assert pipe.writer.read_stage("triples").count() >= n
    assert pipe.writer.done_fingerprint("triples") is not None
    # resume path reads the (possibly empty) stages back without inference
    pipe2 = KgPipeline(spark, wd, "gp2", PipelineConfig(scorer="gp"))
    out2 = pipe2.run(generate_pages(spark, 120, partitions=4), resume=True)
    assert out2.count() == n


def test_compaction_crash_recovery(spark, tmp_path):
    """Round-3 ADVICE: the compaction swap is crash-safe at every point.
    Simulates the worst window — base renamed away, complete tmp not yet
    promoted — and asserts readers recover the full table; also that a
    half-written (schema-less) tmp rolls back to the old base."""
    import os

    wd = str(tmp_path / "crash")
    pipe = KgPipeline(spark, wd, "crash")
    pipe.run(generate_pages(spark, 70, partitions=2))
    before = sorted(
        tuple(r) for r in pipe.writer.read_stage("pages").select("url").collect()
    )
    base = os.path.join(wd, "pages")

    # window A: tmp complete (schema manifest present), base renamed away
    shutil.copytree(base, base + ".compact_tmp")
    assert os.path.exists(os.path.join(base + ".compact_tmp", "_stage_schema.json"))
    os.rename(base, base + ".compact_old")
    got = sorted(
        tuple(r) for r in pipe.writer.read_stage("pages").select("url").collect()
    )
    assert got == before  # tmp promoted, reads intact
    assert os.path.isdir(base)
    assert not os.path.isdir(base + ".compact_tmp")
    assert not os.path.isdir(base + ".compact_old")

    # window B: half-written tmp (no schema manifest), base renamed away
    shutil.copytree(base, base + ".compact_tmp")
    os.remove(os.path.join(base + ".compact_tmp", "_stage_schema.json"))
    os.rename(base, base + ".compact_old")
    got = sorted(
        tuple(r) for r in pipe.writer.read_stage("pages").select("url").collect()
    )
    assert got == before  # old base restored
    assert os.path.isdir(base)

    # window C: stale leftovers while base exists are swept on next compaction
    shutil.copytree(base, base + ".compact_tmp")
    pipe.writer.compact_stage("pages", target_file_bytes=128 << 20)
    assert not os.path.isdir(base + ".compact_tmp")
    assert got == sorted(
        tuple(r) for r in pipe.writer.read_stage("pages").select("url").collect()
    )


def test_cli_graph_stats_over_completed_run(spark, tmp_path, capsys):
    """--graph-stats reads an existing workdir's triples stage and prints
    pagerank / degree / triangle summaries (KG queryable from the CLI)."""
    from entity_extractor_by_pointer_spark.__main__ import main

    wd = str(tmp_path / "cli_gs")
    KgPipeline(spark, wd, "cli").run(generate_pages(spark, 60, partitions=2))
    rc = main(["--graph-stats", "--workdir", wd])
    out = capsys.readouterr().out
    assert rc == 0
    assert "top entities by pagerank:" in out
    assert "degree census:" in out
    assert "triangle counts:" in out
    assert "ORG_" in out or "LOC_" in out or "PER_" in out


def test_cli_profile_and_compact_with_graph_stats(spark, tmp_path, capsys):
    """--profile-stage prints the data-quality census of a stage table;
    --compact-stage composes with --graph-stats in one invocation — the
    maintenance surface reachable without code."""
    from entity_extractor_by_pointer_spark.__main__ import main

    wd = str(tmp_path / "cli_maint")
    pipe = KgPipeline(spark, wd, "m1")
    pipe.run(generate_pages(spark, 70, partitions=2))
    before = sorted(
        tuple(r) for r in pipe.writer.read_stage("pages").select("url").collect()
    )

    rc = main(["--profile-stage", "pages", "--workdir", wd])
    out = capsys.readouterr().out
    assert rc == 0 and "profile of stage 'pages':" in out
    assert "url:" in out and "nulls=0" in out

    # combined maintenance + graph-stats: both must execute in one
    # invocation (round-4 ADVICE: --graph-stats was silently ignored when
    # paired with a maintenance flag)
    rc = main(["--compact-stage", "pages", "--graph-stats", "--workdir", wd])
    out = capsys.readouterr().out
    assert rc == 0 and "compact 'pages': rewritten=True files 2 -> 1" in out
    assert "top entities by pagerank:" in out
    # reader-visible rows unchanged after compaction
    assert before == sorted(
        tuple(r) for r in pipe.writer.read_stage("pages").select("url").collect()
    )


def test_compact_stage_small_files(spark, tmp_path):
    """rewriteDataFiles analog: a flat stage's many small part files are
    rewritten into the target count with identical reader-visible rows;
    a partitioned stage keeps its partition dirs (one file per live
    partition); an already-compact stage is a no-op."""
    import os

    from entity_extractor_by_pointer_spark.operators.triples import subj_bucket
    from entity_extractor_by_pointer_spark.plans.pipeline import (
        SUBJ_BUCKETS,
        PipelineConfig,
        triples_for_pages,
    )

    wd = str(tmp_path / "cmp")
    pipe = KgPipeline(spark, wd, "cmp")
    pipe.run(generate_pages(spark, 80, partitions=8))

    def data_files(stage):
        out = []
        for root, _dirs, names in os.walk(os.path.join(wd, stage)):
            out += [
                os.path.join(root, n)
                for n in names
                if n.endswith(".parquet") and not n.startswith(("_", "."))
            ]
        return out

    before_rows = sorted(
        tuple(r) for r in pipe.writer.read_stage("pages").select("url").collect()
    )
    n_before = len(data_files("pages"))
    assert n_before > 1  # 8 input partitions -> 8 part files
    res = pipe.writer.compact_stage("pages", target_file_bytes=1 << 30)
    assert res["rewritten"] and res["files_after"] == 1
    assert len(data_files("pages")) == 1
    assert before_rows == sorted(
        tuple(r) for r in pipe.writer.read_stage("pages").select("url").collect()
    )
    # idempotent: second call is a no-op
    res2 = pipe.writer.compact_stage("pages", target_file_bytes=1 << 30)
    assert not res2["rewritten"] and res2["files_after"] == 1

    # partitioned stage: seed multiple files per partition dir (a write
    # that is not repartitioned by bucket scatters each task's rows across
    # bucket dirs) so the partitioned MERGE path genuinely runs
    triples = triples_for_pages(generate_pages(spark, 120, partitions=8), PipelineConfig())
    pipe.writer.write_stage(
        "triples",
        triples.withColumn("subj_bucket", subj_bucket(SUBJ_BUCKETS)).repartition(8),
        partition_by=["subj_bucket"],
        input_fp=lambda: "split",
    )
    tri_rows = sorted(
        tuple(r)
        for r in pipe.writer.read_stage("triples")
        .select("subj", "pred", "obj", "url")
        .collect()
    )
    tri_dirs_before = {os.path.dirname(f) for f in data_files("triples")}
    assert len(data_files("triples")) > len(tri_dirs_before), "need >1 file/dir"
    res3 = pipe.writer.compact_stage("triples", target_file_bytes=1 << 30)
    assert res3["rewritten"], res3
    tri_dirs = {os.path.dirname(f) for f in data_files("triples")}
    assert all("subj_bucket=" in d for d in tri_dirs)
    assert len(data_files("triples")) == len(tri_dirs)
    assert tri_rows == sorted(
        tuple(r)
        for r in pipe.writer.read_stage("triples")
        .select("subj", "pred", "obj", "url")
        .collect()
    )


def test_cli_compact_stage(spark, tmp_path, capsys):
    from entity_extractor_by_pointer_spark.__main__ import main

    wd = str(tmp_path / "cli_cmp")
    pipe = KgPipeline(spark, wd, "c1")
    pipe.run(generate_pages(spark, 40, partitions=4))
    rc = main(["--compact-stage", "pages", "--target-file-mb", "1024", "--workdir", wd])
    out = capsys.readouterr().out
    assert rc == 0 and "compact 'pages': rewritten=True" in out


def test_extraction_invariant_violation_fails_before_commit(spark, tmp_path):
    """A page whose stored text differs from its html's extraction, or is
    null, fails the batch run and the fused chain, before any stage
    commits."""
    import pytest
    from pyspark.sql import functions as F

    from entity_extractor_by_pointer_spark.plans.pipeline import (
        PipelineConfig,
        triples_for_pages,
    )

    def appended(pages, last):
        return pages.withColumn(
            "text", F.when(last, F.concat("text", F.lit("!"))).otherwise(F.col("text"))
        )

    def nulled(pages, last):
        return pages.withColumn("text", F.when(~last, F.col("text")))

    match = "extraction invariant violated"
    for tamper in (appended, nulled):
        pages = generate_pages(spark, 40, partitions=2)
        bad = tamper(pages, F.col("url") == "https://example.org/page/39")
        pipe = KgPipeline(spark, str(tmp_path / tamper.__name__), "bad")
        with pytest.raises(Exception, match=match):
            pipe.run(bad)
        assert pipe.writer.done_fingerprint("pages") is None

        with pytest.raises(Exception, match=match):
            triples_for_pages(bad, PipelineConfig()).collect()


@pytest.mark.parametrize("scorer", ["gp", "bp"])
def test_cli_pipeline_run_honours_classes(spark, tmp_path, scorer):
    """--classes reaches the model scorer of a pipeline run: a one-class
    model of either head emits mentions of that class only."""
    from entity_extractor_by_pointer_spark.__main__ import main

    wd = str(tmp_path / "cli_cls")
    argv = ["--synth-pages", "40", "--scorer", scorer, "--classes", "person", "--workdir", wd]
    assert main(argv) == 0
    mentions = KgPipeline(spark, wd, "read").writer.read_stage("mentions")
    types = {r["type"] for r in mentions.select("type").distinct().collect()}
    assert mentions.count() > 0
    assert types == {"person"}


def test_resume_under_another_scorer_rebuilds_the_mentions(spark, tmp_path):
    """A resume with another scorer reuses the pages stage but rebuilds the
    mentions and everything after them, instead of serving the first
    scorer's mentions."""
    from entity_extractor_by_pointer_spark.plans.pipeline import PipelineConfig

    pages = generate_pages(spark, 40, partitions=2)
    wd = str(tmp_path / "wd")
    KgPipeline(spark, wd, "gaz").run(pages)
    pipe = KgPipeline(spark, wd, "gp", PipelineConfig(scorer="gp"))
    pipe.run(pages, resume=True)
    rebuilt = _lineage(pipe).where("run_id = 'gp' AND status = 'done'")
    assert {r["stage"] for r in rebuilt.select("stage").distinct().collect()} == {
        "mentions", "triples", "triple_counts"
    }
    models = pipe.writer.read_stage("mentions").select("model").distinct().collect()
    assert "gazetteer" not in {r["model"] for r in models}


def test_cli_pipeline_run_prints_only_its_own_metrics(spark, tmp_path, capsys):
    """A pipeline run prints its own ``pipeline`` metrics once, even when the
    workdir's metrics log already holds an earlier run's."""
    from entity_extractor_by_pointer_spark.__main__ import main

    wd = str(tmp_path / "cli_metrics")
    keys = ("pages", "triples", "wall_seconds", "triples_per_sec", "pages_per_sec")
    for run in (["--run-id", "first"], ["--run-id", "second", "--resume"]):
        assert main(["--synth-pages", "40", "--workdir", wd, *run]) == 0
        out = capsys.readouterr().out
        assert {k: out.count(f"  {k}=") for k in keys} == dict.fromkeys(keys, 1), out
