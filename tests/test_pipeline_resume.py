import shutil

from entity_extractor_by_pointer_spark.plans.pipeline import KgPipeline
from entity_extractor_by_pointer_spark.sources.pages import generate_pages


def _triples(counts_df):
    return sorted(tuple(r) for r in counts_df.collect())


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
    assert pipe.writer.is_done("mentions")
    assert not pipe.writer.is_done("triples")
    out3 = _triples(pipe.run(pages, resume=True))
    assert out3 == out1


def test_incremental_run_equals_full_recompute(spark, tmp_path):
    first = generate_pages(spark, 100, partitions=4)
    second_drop = generate_pages(spark, 150, partitions=4, start=100)
    all_pages = generate_pages(spark, 150, partitions=4)

    wd_inc = str(tmp_path / "inc")
    pipe = KgPipeline(spark, wd_inc, "inc")
    pipe.run(first)
    # the drop overlaps already-processed urls (0-99) + brings new (100-149);
    # overlap must be skipped, not double-counted
    out_inc = _triples(pipe.run_incremental(generate_pages(spark, 150, partitions=4)))

    wd_full = str(tmp_path / "full")
    out_full = _triples(KgPipeline(spark, wd_full, "full").run(all_pages))
    assert out_inc == out_full
    # second incremental with no new pages is a no-op on the counts
    out_again = _triples(pipe.run_incremental(second_drop))
    assert out_again == out_full


def test_lineage_and_metrics_written(spark, tmp_path):
    pages = generate_pages(spark, 60, partitions=4)
    wd = str(tmp_path / "runL")
    pipe = KgPipeline(spark, wd, "rL")
    pipe.run(pages)
    lineage = pipe.writer.read_lineage()
    stages = {r["stage"] for r in lineage.select("stage").distinct().collect()}
    assert {"pages", "mentions", "triples", "triple_counts"} <= stages
    # per-partition rows recorded
    assert lineage.where("rows_out > 0").count() > 0
    metrics = pipe.writer.read_metrics()
    keys = {r["key"] for r in metrics.select("key").distinct().collect()}
    assert {"rows_out", "seconds", "triples_per_sec"} <= keys


def test_incremental_crash_windows_are_exact(spark, tmp_path):
    """A crash after ANY increment write must leave a state from which a
    plain retry converges to exactly the full-recompute result (round-1
    ADVICE: pages must commit LAST, not first)."""
    import pytest

    first = generate_pages(spark, 60, partitions=4)
    drop = generate_pages(spark, 90, partitions=4)  # 60 overlap + 30 new
    all_pages = generate_pages(spark, 90, partitions=4)

    for window in ("mentions", "triples", "pages"):
        wd = str(tmp_path / f"crash_{window}")
        pipe = KgPipeline(spark, wd, "c1")
        pipe.run(first)
        n_mentions_before = pipe.writer.read_stage("mentions").count()
        with pytest.raises(RuntimeError, match="injected failure"):
            pipe.run_incremental(drop, _fail_after=window)
        if window == "pages":
            # increment committed; only the counts refresh was lost — the
            # retry (even with zero fresh pages) must re-aggregate them
            assert pipe.writer.read_stage("mentions").count() > n_mentions_before
        else:
            # orphaned snapshots are invisible (pages commit marker missing)
            assert pipe.writer.read_stage("mentions").count() == n_mentions_before
        # plain retry: same fresh set → same inc_id → idempotent overwrite
        out = _triples(pipe.run_incremental(drop))
        full = _triples(
            KgPipeline(spark, str(tmp_path / f"full_{window}"), "cf").run(all_pages)
        )
        assert out == full
        # and the increment is now visible exactly once
        assert (
            pipe.writer.read_stage("pages").select("url").distinct().count()
            == pipe.writer.read_stage("pages").count()
            == 90
        )


def test_resume_after_kill_between_data_write_and_lineage_commit(spark, tmp_path):
    """write_stage's commit is the LINEAGE row, appended only after the data
    write succeeds. A kill in between leaves data + _SUCCESS but no lineage;
    is_done() must report the stage incomplete and resume must recompute
    (mode=overwrite) to the identical result."""
    pages = generate_pages(spark, 80, partitions=4)
    wd = str(tmp_path / "killwin")
    pipe = KgPipeline(spark, wd, "k1")
    out1 = _triples(pipe.run(pages))

    # simulate the crash window on the triples stage: recreate its data dir
    # (with _SUCCESS) but strip every lineage row by re-initializing lineage
    # from the OTHER stages only
    lineage = pipe.writer.read_lineage()
    kept = lineage.where("stage <> 'triples'").collect()
    import shutil

    shutil.rmtree(f"{wd}/_lineage")
    from entity_extractor_by_pointer_spark.plans.lineage import LINEAGE_SCHEMA

    spark.createDataFrame([tuple(r) for r in kept], LINEAGE_SCHEMA).write.parquet(
        f"{wd}/_lineage"
    )
    pipe2 = KgPipeline(spark, wd, "k1-resume")
    assert (tmp_path / "killwin" / "triples" / "_SUCCESS").exists()
    assert not pipe2.writer.is_done("triples")  # data there, commit missing
    assert pipe2.writer.is_done("mentions")
    out2 = _triples(pipe2.run(pages, resume=True))
    assert out2 == out1


def test_snapshot_time_travel_reads(spark, tmp_path):
    """Iceberg-style time travel over increment snapshots: as_of the first
    increment must show exactly the pre-second-increment state."""
    import pytest

    wd = str(tmp_path / "tt")
    pipe = KgPipeline(spark, wd, "tt")
    pipe.run(generate_pages(spark, 60, partitions=4))
    pipe.run_incremental(generate_pages(spark, 90, partitions=4))
    snap1 = pipe.writer.list_snapshots()
    assert len(snap1) == 1
    state_after_inc1 = pipe.writer.read_stage("triples").count()
    pipe.run_incremental(generate_pages(spark, 120, partitions=4))
    snaps = pipe.writer.list_snapshots()
    assert len(snaps) == 2 and snaps[0] == snap1[0]

    assert pipe.writer.read_stage("pages", as_of=snaps[0]).count() == 90
    assert pipe.writer.read_stage("pages").count() == 120
    assert pipe.writer.read_stage("triples", as_of=snaps[0]).count() == state_after_inc1
    assert pipe.writer.read_stage("triples").count() > state_after_inc1
    with pytest.raises(ValueError, match="unknown or uncommitted"):
        pipe.writer.read_stage("pages", as_of="inc_bogus_1")


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
    assert pipe.writer.is_done("triples")
    # resume path reads the (possibly empty) stages back without inference
    pipe2 = KgPipeline(spark, wd, "gp2", PipelineConfig(scorer="gp"))
    out2 = pipe2.run(generate_pages(spark, 120, partitions=4), resume=True)
    assert out2.count() == n


def test_expire_snapshots_retention_and_orphans(spark, tmp_path):
    """expire_snapshots compacts old increments into the base tables without
    changing what readers see, keeps as_of working for retained ids, rejects
    expired ids, and removes orphaned (uncommitted) snapshot dirs."""
    import os

    wd = str(tmp_path / "exp")
    pipe = KgPipeline(spark, wd, "exp")
    pipe.run(generate_pages(spark, 60, partitions=4))
    for n in (80, 100, 120):  # three increments
        pipe.run_incremental(generate_pages(spark, n, partitions=4))
    snaps = pipe.writer.list_snapshots()
    assert len(snaps) == 3
    # explicit commit-seq stamps exist and define the order
    assert [pipe.writer._read_seq(s) for s in snaps] == [1, 2, 3]

    # plant an orphan: a snapshot dir with no _SUCCESS (simulated crash)
    orphan = os.path.join(wd, "mentions_inc", "inc_dead_0")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-0.parquet"), "w") as f:
        f.write("junk")

    before_latest = sorted(
        tuple(r) for r in pipe.writer.read_stage("pages").select("url").collect()
    )
    before_asof = sorted(
        tuple(r)
        for r in pipe.writer.read_stage("pages", as_of=snaps[1]).select("url").collect()
    )
    before_triples = sorted(
        tuple(r)
        for r in pipe.writer.read_stage("triples")
        .select("subj", "pred", "obj", "url")
        .collect()
    )

    res = pipe.writer.expire_snapshots(keep_last=2)
    assert res["expired"] == [snaps[0]]
    assert any("inc_dead_0" in o for o in res["orphans_removed"])
    assert not os.path.exists(orphan)
    # expired dir gone from every stage
    for stage in ("pages", "mentions", "triples"):
        assert not os.path.exists(os.path.join(wd, f"{stage}_inc", snaps[0]))

    # reader-visible rows unchanged, for latest AND retained as_of
    assert before_latest == sorted(
        tuple(r) for r in pipe.writer.read_stage("pages").select("url").collect()
    )
    assert before_asof == sorted(
        tuple(r)
        for r in pipe.writer.read_stage("pages", as_of=snaps[1]).select("url").collect()
    )
    assert before_triples == sorted(
        tuple(r)
        for r in pipe.writer.read_stage("triples")
        .select("subj", "pred", "obj", "url")
        .collect()
    )
    assert pipe.writer.list_snapshots() == snaps[1:]
    # expired ids are no longer valid time-travel targets
    import pytest

    with pytest.raises(ValueError):
        pipe.writer.read_stage("pages", as_of=snaps[0])

    # a later increment continues the sequence after expiry
    pipe.run_incremental(generate_pages(spark, 130, partitions=4))
    snaps2 = pipe.writer.list_snapshots()
    assert snaps2[:2] == snaps[1:]
    assert pipe.writer._read_seq(snaps2[-1]) == 4


def test_commit_seq_heals_missing_stamp(spark, tmp_path):
    """A crash between the pages write and the seq stamp leaves a committed
    snapshot without _commit_seq; list_snapshots heals it (mtime order) and
    later commits continue AFTER it."""
    import os

    wd = str(tmp_path / "heal")
    pipe = KgPipeline(spark, wd, "heal")
    pipe.run(generate_pages(spark, 40, partitions=2))
    pipe.run_incremental(generate_pages(spark, 60, partitions=2))
    (first,) = pipe.writer.list_snapshots()
    os.remove(pipe.writer._seq_path(first))  # simulate the crash window
    assert pipe.writer._read_seq(first) is None
    assert pipe.writer.list_snapshots() == [first]  # healed
    assert pipe.writer._read_seq(first) == 1
    pipe.run_incremental(generate_pages(spark, 80, partitions=2))
    snaps = pipe.writer.list_snapshots()
    assert snaps[0] == first and pipe.writer._read_seq(snaps[1]) == 2


def test_commit_seq_heals_before_new_allocation(spark, tmp_path):
    """Round-3 ADVICE: a NEW commit's assign_commit_seq must heal any older
    committed-but-unstamped increment FIRST, so the new commit can never be
    ordered before an increment that truly committed earlier — even when
    nothing called list_snapshots in between."""
    import os

    wd = str(tmp_path / "heal2")
    pipe = KgPipeline(spark, wd, "heal2")
    pipe.run(generate_pages(spark, 40, partitions=2))
    pipe.run_incremental(generate_pages(spark, 60, partitions=2))
    (first,) = pipe.writer.list_snapshots()
    os.remove(pipe.writer._seq_path(first))  # crash window: committed, unstamped
    # restart path: a new increment commits and stamps WITHOUT list_snapshots
    pipe2 = KgPipeline(spark, wd, "heal2b")
    pipe2.run_incremental(generate_pages(spark, 80, partitions=2))
    snaps = pipe2.writer.list_snapshots()
    assert snaps[0] == first
    assert pipe2.writer._read_seq(first) == 1
    assert pipe2.writer._read_seq(snaps[1]) == 2


def test_expire_compaction_crash_recovery(spark, tmp_path):
    """Round-3 ADVICE: the compaction swap is crash-safe at every point.
    Simulates the worst window — base renamed away, complete tmp not yet
    promoted — and asserts readers recover the full table; also that a
    half-written (schema-less) tmp rolls back to the old base."""
    import os

    wd = str(tmp_path / "crash")
    pipe = KgPipeline(spark, wd, "crash")
    pipe.run(generate_pages(spark, 50, partitions=2))
    pipe.run_incremental(generate_pages(spark, 70, partitions=2))
    before = sorted(
        tuple(r) for r in pipe.writer.read_stage("pages").select("url").collect()
    )
    base = os.path.join(wd, "pages")

    # window A: tmp complete (schema manifest present), base renamed away
    shutil.copytree(base, base + ".compact_tmp")
    if not os.path.exists(os.path.join(base + ".compact_tmp", "_stage_schema.json")):
        with open(os.path.join(base + ".compact_tmp", "_stage_schema.json"), "w") as f:
            f.write(
                pipe.writer.read_stage("pages").schema.json()
            )
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

    # window C: stale leftovers while base exists are swept on next expire
    shutil.copytree(base, base + ".compact_tmp")
    pipe.writer.expire_snapshots(keep_last=0)
    assert not os.path.isdir(base + ".compact_tmp")
    assert got == sorted(
        tuple(r) for r in pipe.writer.read_stage("pages").select("url").collect()
    )


def test_expire_crash_between_swap_and_increment_delete(spark, tmp_path, monkeypatch):
    """Round-4 ADVICE (medium): crash AFTER the base swap but BEFORE the
    folded increment dirs are deleted. The folded rows are then in the base
    while the increments remain committed on disk — without the
    _folded.json manifest, read_stage double-counts immediately and a retry
    re-folds them into the base permanently. With it, the next read purges
    the already-folded increments and a retry changes nothing."""
    import os

    import pytest

    import entity_extractor_by_pointer_spark.plans.lineage as L

    wd = str(tmp_path / "crash2")
    pipe = KgPipeline(spark, wd, "crash2")
    pipe.run(generate_pages(spark, 40, partitions=2))
    pipe.run_incremental(generate_pages(spark, 60, partitions=2))

    def rows(stage, cols):
        return sorted(tuple(r) for r in pipe.writer.read_stage(stage).select(*cols).collect())

    before_m = rows("mentions", ["url", "entity", "start_idx"])
    before_p = rows("pages", ["url"])

    real_purge = L.StageWriter._purge_folded

    def crash_after_swap(self, stage):
        # the pre-fold _recover_compaction call sees no manifest (no-op);
        # the post-swap call does — crash exactly there
        if os.path.exists(os.path.join(self._stage_path(stage), "_folded.json")):
            raise RuntimeError("simulated crash")

    monkeypatch.setattr(L.StageWriter, "_purge_folded", crash_after_swap)
    with pytest.raises(RuntimeError, match="simulated crash"):
        pipe.writer.expire_snapshots(keep_last=0)
    monkeypatch.setattr(L.StageWriter, "_purge_folded", real_purge)

    # post-crash state: mentions base already swapped, its increments still
    # on disk and still "committed" (pages inc is the commit marker)
    inc_root = os.path.join(wd, "mentions_inc")
    assert os.path.isdir(inc_root) and os.listdir(inc_root)
    assert os.path.exists(os.path.join(wd, "mentions", "_folded.json"))

    # first read recovers: no double count, folded increments purged
    assert rows("mentions", ["url", "entity", "start_idx"]) == before_m
    assert not os.path.exists(os.path.join(wd, "mentions", "_folded.json"))
    for d in pipe.writer.list_snapshots():
        assert not os.path.isdir(os.path.join(inc_root, d))

    # retry completes the remaining stages without re-folding anything
    pipe.writer.expire_snapshots(keep_last=0)
    assert rows("mentions", ["url", "entity", "start_idx"]) == before_m
    assert rows("pages", ["url"]) == before_p
    assert pipe.writer.read_stage("pages").count() == len(before_p)


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


def test_cli_profile_and_expire_snapshots(spark, tmp_path, capsys):
    """--profile-stage prints the data-quality census of a stage table;
    --expire-snapshots runs retention and reports counts — the maintenance
    surface reachable without code."""
    from entity_extractor_by_pointer_spark.__main__ import main

    wd = str(tmp_path / "cli_maint")
    pipe = KgPipeline(spark, wd, "m1")
    pipe.run(generate_pages(spark, 50, partitions=2))
    pipe.run_incremental(generate_pages(spark, 70, partitions=2))
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
    rc = main(["--expire-snapshots", "0", "--graph-stats", "--workdir", wd])
    out = capsys.readouterr().out
    assert rc == 0 and "expired 1 snapshot(s)" in out
    assert "top entities by pagerank:" in out
    # reader-visible rows unchanged after compaction
    assert before == sorted(
        tuple(r) for r in pipe.writer.read_stage("pages").select("url").collect()
    )
    assert pipe.writer.list_snapshots() == []


def test_compact_stage_small_files(spark, tmp_path):
    """rewriteDataFiles analog: a flat stage's many small part files are
    rewritten into the target count with identical reader-visible rows;
    a partitioned stage keeps its partition dirs (one file per live
    partition); an already-compact stage is a no-op."""
    import os

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

    # partitioned stage: seed multiple files per partition dir (an
    # increment fold writes without repartitioning, so tasks scatter files
    # across bucket dirs) so the partitioned MERGE path genuinely runs
    pipe.run_incremental(generate_pages(spark, 120, partitions=8))
    pipe.writer.expire_snapshots(keep_last=0)
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
    """A page whose stored text differs from its html's extraction fails the
    batch run, the increment and the fused chain, before any stage or
    increment commits."""
    import pytest
    from pyspark.sql import functions as F

    from entity_extractor_by_pointer_spark.plans.pipeline import (
        PipelineConfig,
        triples_for_pages,
    )

    def tampered(n):
        pages = generate_pages(spark, n, partitions=2)
        last = F.col("url") == f"https://example.org/page/{n - 1}"
        return pages.withColumn(
            "text", F.when(last, F.concat("text", F.lit("!"))).otherwise(F.col("text"))
        )

    match = "extraction invariant violated"
    pipe = KgPipeline(spark, str(tmp_path / "bad"), "bad")
    with pytest.raises(Exception, match=match):
        pipe.run(tampered(40))
    assert not pipe.writer.is_done("pages")

    wd = tmp_path / "inc"
    inc = KgPipeline(spark, str(wd), "inc")
    inc.run(generate_pages(spark, 40, partitions=2))
    with pytest.raises(Exception, match=match):
        inc.run_incremental(tampered(60))
    assert not list(wd.glob("*_inc/*/_SUCCESS"))

    with pytest.raises(Exception, match=match):
        triples_for_pages(tampered(40), PipelineConfig()).collect()


def test_cli_pipeline_run_honours_classes(spark, tmp_path):
    """--classes reaches the model scorer of a pipeline run: a one-class GP
    model emits mentions of that class only."""
    from entity_extractor_by_pointer_spark.__main__ import main

    wd = str(tmp_path / "cli_cls")
    argv = ["--synth-pages", "40", "--scorer", "gp", "--classes", "person", "--workdir", wd]
    assert main(argv) == 0
    mentions = KgPipeline(spark, wd, "read").writer.read_stage("mentions")
    types = {r["type"] for r in mentions.select("type").distinct().collect()}
    assert mentions.count() > 0
    assert types == {"person"}
