"""Checkpoint/resume: kill mid-run, resume, assert identical output and no
duplicates — the north rule's resumability gate."""

import os

import pytest
from pyspark.sql import functions as F

from omop2obo_spark import fixtures as FX
from omop2obo_spark.fixtures.generators import vocab_map_dict
from omop2obo_spark.plans.checkpoint import run_partitioned
from omop2obo_spark.plans.pipeline import run_pipeline
from omop2obo_spark.sources.writers import GraphSink


def _builder(spark):
    lex = FX.lexicon_df(spark)
    vm = vocab_map_dict()

    def build(transcripts):
        return run_pipeline(
            spark, transcripts, lex, vm, with_similarity=False, persist=False
        ).triples

    return build


def test_resume_skips_done_and_is_idempotent(spark, tmp_path):
    t = FX.transcripts_df(spark, 40, 5)
    build = _builder(spark)

    # reference output: single-shot run
    ref_sink = GraphSink(str(tmp_path / "ref"), n_buckets=4)
    run_partitioned(spark, t, build, ref_sink)
    expected = sorted(
        (r.subj, r.pred, r.obj) for r in ref_sink.read_triples(spark).collect()
    )

    # interrupted run: crash after the first batch of 2 partitions
    sink = GraphSink(str(tmp_path / "out"), n_buckets=4)
    calls = {"n": 0}

    def flaky_build(df):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated executor loss")
        return build(df)

    with pytest.raises(RuntimeError):
        run_partitioned(spark, t, flaky_build, sink, batch_partitions=2)
    done_after_crash = sink.completed_partitions()
    assert len(done_after_crash) == 2  # first batch committed

    # resume: only pending partitions run; output equals the reference
    summary = run_partitioned(spark, t, build, sink, batch_partitions=2)
    assert sorted(summary["skipped"]) == sorted(done_after_crash)
    assert set(summary["processed"]).isdisjoint(done_after_crash)
    got = sorted((r.subj, r.pred, r.obj) for r in sink.read_triples(spark).collect())
    assert got == expected

    # second resume is a no-op (everything done)
    summary2 = run_partitioned(spark, t, build, sink, batch_partitions=2)
    assert summary2["processed"] == []

    # manifest carries lineage + metrics
    recs = sink.manifest()
    assert all({"run_id", "part_id", "status", "ts"} <= set(r) for r in recs)
    assert any(r["status"] == "done" and "wall_ms" in r for r in recs)


def test_rerun_partition_is_idempotent_overwrite(spark, tmp_path):
    t = FX.transcripts_df(spark, 20, 4)
    build = _builder(spark)
    sink = GraphSink(str(tmp_path / "o2"), n_buckets=2)
    run_partitioned(spark, t, build, sink)
    once = sorted((r.subj, r.pred, r.obj) for r in sink.read_triples(spark).collect())
    # force a full re-run by clearing the manifest (data files stay!)
    import os
    os.remove(sink.manifest_path)
    run_partitioned(spark, t, build, sink)
    twice = sorted((r.subj, r.pred, r.obj) for r in sink.read_triples(spark).collect())
    assert once == twice  # overwrite, not append — no duplicates


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    """The point of the bucketed layout: a conv_id-keyed join between
    the two co-bucketed tables must plan WITHOUT any Exchange on either
    side (bucketed-join elimination) — the write-once shuffle replaces
    every per-query shuffle."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from omop2obo_spark.sources.writers import save_bucketed_tables

    triples = spark.createDataFrame(
        [(f"c{i}", 0, f"s{i}", "p", "o") for i in range(50)],
        "conv_id string, turn_idx int, subj string, pred string, obj string",
    )
    transcripts = spark.createDataFrame(
        [(f"c{i}", 0, "user", "text", None, datetime(2026, 1, 1)) for i in range(50)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    t_tr, t_t = save_bucketed_tables(spark, triples, transcripts, db="kg_test", n_buckets=4)
    a, b = spark.table(t_tr), spark.table(t_t)
    # disable broadcast so the planner must choose between a shuffled and
    # a bucket-local sort-merge join (at 100 TB neither side broadcasts)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = a.join(b.select("conv_id", "role"), on="conv_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan, plan
        assert joined.count() == 50
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # cleanup: managed test tables
    spark.sql("DROP TABLE IF EXISTS kg_test.triples_bucketed")
    spark.sql("DROP TABLE IF EXISTS kg_test.transcripts_bucketed")


def test_batch_partitions_zero_rejected(spark, tmp_path):
    t = FX.transcripts_df(spark, 5, 2)
    sink = GraphSink(str(tmp_path / "g"), n_buckets=4)
    with pytest.raises(ValueError, match="batch_partitions"):
        run_partitioned(spark, t, _builder(spark), sink, batch_partitions=0)


def test_empty_output_run_completes_with_zero_counts(spark, tmp_path):
    """A run whose build produces zero triples (no term matches) must
    complete and record triples_out=0 — not crash on schema inference
    over an empty dataset."""
    t = FX.transcripts_df(spark, 10, 2)
    sink = GraphSink(str(tmp_path / "empty"), n_buckets=4)
    inner = _builder(spark)

    def empty_build(transcripts):
        return inner(transcripts).filter(F.lit(False))

    summary = run_partitioned(spark, t, empty_build, sink, batch_partitions=2)
    assert summary["rows"] == 0
    assert sorted(summary["processed"]) == [0, 1, 2, 3]
    assert all(
        r["triples_out"] == 0 for r in sink.manifest() if r["status"] == "done"
    )


def test_stale_crash_window_files_cleared_on_rerun(spark, tmp_path):
    """Crash window: run 1 wrote partition p but died before recording
    'done'. If the re-run's build legitimately yields zero rows for p,
    the stale files must be CLEARED (dynamic overwrite never touches an
    absent partition) and not attributed to the new run's counts."""
    t = FX.transcripts_df(spark, 20, 3)
    sink = GraphSink(str(tmp_path / "stale"), n_buckets=2)
    build = _builder(spark)

    # run 1: full write, then simulate the crash window by wiping the
    # manifest (data files stay, nothing recorded 'done')
    run_partitioned(spark, t, build, sink)
    assert sink.read_triples(spark).count() > 0
    import os

    os.remove(sink.manifest_path)

    # re-run with a build that now produces NOTHING: all partitions must
    # end up empty on disk and every manifest count must be 0
    def empty_build(transcripts):
        return build(transcripts).filter(F.lit(False))

    summary = run_partitioned(spark, t, empty_build, sink, batch_partitions=1)
    assert summary["rows"] == 0
    assert all(
        r["triples_out"] == 0 for r in sink.manifest() if r["status"] == "done"
    )
    import glob

    leftover = glob.glob(str(tmp_path / "stale" / "triples" / "part_id=*" / "*.parquet"))
    assert leftover == [], leftover


def test_clear_partitions_file_scheme_uri(spark, tmp_path):
    """A ``file://``-scheme root (a valid Spark output URI) must route to
    the Hadoop FileSystem delete: os.path.isdir('file:///…') is always
    False, so the shutil branch would silently no-op and resurrect the
    orphan rows clear_partitions exists to kill."""
    t = FX.transcripts_df(spark, 10, 2)
    sink = GraphSink(f"file://{tmp_path}/furi", n_buckets=2)
    triples = sink.with_part_id(_builder(spark)(t))
    sink.write_partitions(triples)
    local = str(tmp_path / "furi" / "triples")
    parts_before = sorted(os.listdir(local))
    assert parts_before, "fixture wrote no partitions"

    sink.clear_partitions([0, 1], spark=spark)
    leftover = [d for d in os.listdir(local) if d.startswith("part_id=")]
    assert leftover == [], leftover


def test_clear_partitions_scheme_less_root_follows_default_fs(spark, tmp_path):
    """A scheme-less root resolves against ``fs.defaultFS`` (HDFS on a
    cluster), so clear_partitions must delete through the Hadoop
    FileSystem API, not on the driver's local disk. Here the default FS
    is a viewfs whose mount maps ``<tmp>/graph`` onto ``<tmp>/mnt``: the
    writer's partitions land under the mount target, and a local delete
    of ``<tmp>/graph/...`` would leave them all in place."""
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    mount = f"fs.viewfs.mounttable.kg.link.{tmp_path}/graph"
    old_default = hconf.get("fs.defaultFS")
    hconf.set(mount, f"file://{tmp_path}/mnt")
    hconf.set("fs.defaultFS", "viewfs://kg/")
    try:
        sink = GraphSink(str(tmp_path / "graph" / "sink"), n_buckets=2)
        sink.write_partitions(sink.with_part_id(_builder(spark)(FX.transcripts_df(spark, 10, 2))))
        target = tmp_path / "mnt" / "sink" / "triples"
        assert sorted(d for d in os.listdir(target) if d.startswith("part_id=")), \
            "the writer did not go through the viewfs mount"

        sink.clear_partitions([0, 1], spark=spark)
        leftover = [d for d in os.listdir(target) if d.startswith("part_id=")]
        assert leftover == [], leftover
    finally:
        hconf.set("fs.defaultFS", old_default)
        hconf.unset(mount)


def test_partitioned_run_builds_link_dimension_once(spark, tmp_path, monkeypatch):
    """The link dimension depends only on the lexicon, MRCONSO, MRSTY and
    vocab map, so a partitioned run whose batches share them builds it
    once, not once per batch."""
    from omop2obo_spark.operators import linking

    calls = []
    real = linking.build_link_dim

    def spy(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(linking, "build_link_dim", spy)
    lex, vm = FX.lexicon_df(spark), vocab_map_dict()
    dims = linking.LexiconDims.from_lexicon(lex, vm)
    mrconso, mrsty = FX.mrconso_df(spark), FX.mrsty_df(spark)

    def build(transcripts):
        return run_pipeline(
            spark, transcripts, lex, vm, mrconso=mrconso, mrsty=mrsty,
            with_similarity=False, persist=False, dims=dims,
        ).triples

    sink = GraphSink(str(tmp_path / "g"), n_buckets=4)
    summary = run_partitioned(spark, FX.transcripts_df(spark, 20, 3), build, sink,
                              batch_partitions=1)
    assert len(summary["processed"]) == 4
    assert len(calls) == 1


def test_foreign_partition_rows_fail_loudly(spark, tmp_path):
    """A build that rewrites the bucket key would dynamic-overwrite a
    FOREIGN partition (clobbered later by that partition's own batch) —
    run_partitioned must refuse instead of silently losing rows."""
    t = FX.transcripts_df(spark, 20, 3)
    sink = GraphSink(str(tmp_path / "g"), n_buckets=8)
    inner = _builder(spark)

    def bad_build(transcripts):
        # null the bucket key: every triple hashes to one constant part_id
        return inner(transcripts).withColumn("conv_id", F.lit(None).cast("string"))

    with pytest.raises(ValueError, match="outside the current batch"):
        run_partitioned(spark, t, bad_build, sink, batch_partitions=2)


def test_manifest_on_file_scheme_root_round_trips(spark, tmp_path):
    """A scheme-qualified root must route manifest records through the
    Hadoop FileSystem API (one immutable file per record — object stores
    have no append); the local-JSONL branch would write to a bogus path
    and completed_partitions would silently return empty, re-running
    every partition on resume."""
    sink = GraphSink(f"file://{tmp_path}/muri", n_buckets=2)
    sink.record("run1", 0, "pending", spark=spark)
    sink.record("run1", 0, "done", rows=5, spark=spark)
    sink.record("run1", 1, "pending", spark=spark)
    recs = sink.manifest(spark=spark)
    assert [(r["part_id"], r["status"]) for r in recs] == [
        (0, "pending"), (0, "done"), (1, "pending")]
    assert recs[1]["rows"] == 5
    assert sink.completed_partitions(spark=spark) == {0}
    # records are individual files under <root>/manifest/
    import os
    # ignore Hadoop LocalFileSystem's .crc sidecars
    names = sorted(
        n for n in os.listdir(str(tmp_path / "muri" / "manifest"))
        if not n.startswith(".")
    )
    assert len(names) == 3 and all(n.endswith(".json") for n in names)


def test_join_delta_algebraic_property(spark):
    """(A ∪ ΔA) ⋈ (B ∪ ΔB) equals (A ⋈ B) ∪all Δ(A ⋈ B) as BAGS —
    the defining identity of insert-only incremental join maintenance,
    incl. duplicate join keys on both sides."""
    from collections import Counter

    from omop2obo_spark.operators.joins import join_delta

    a_old = spark.createDataFrame([(1, "a1"), (2, "a2"), (2, "a2b")], "k int, av string")
    a_new = spark.createDataFrame([(2, "a3"), (4, "a4")], "k int, av string")
    b_old = spark.createDataFrame([(1, "b1"), (2, "b2")], "k int, bv string")
    b_new = spark.createDataFrame([(2, "b3"), (2, "b4"), (4, "b5")], "k int, bv string")

    full_old = a_old.join(b_old, ["k"])
    full_new = a_old.unionByName(a_new).join(b_old.unionByName(b_new), ["k"])
    delta = join_delta(a_old, a_new, b_old, b_new, ["k"])

    bag = lambda df: Counter(map(tuple, df.collect()))
    assert bag(full_old) + bag(delta) == bag(full_new)
    # delta is non-trivial in every term: ΔA⋈B_old, A_old⋈ΔB, ΔA⋈ΔB
    assert bag(delta)[(2, "a3", "b2")] == 1
    assert bag(delta)[(2, "a2", "b3")] == 1
    assert bag(delta)[(2, "a3", "b4")] == 1


def test_manifest_audit_lineage_and_crash_window(spark, tmp_path):
    """The audit surfaces attempts/retries, rows from the LATEST done
    record, summed wall, and flags a partition whose last record is
    'pending' (writer died in the data-commit/state-commit window)."""
    from omop2obo_spark.sources.writers import GraphSink, manifest_audit

    sink = GraphSink(str(tmp_path / "g"), n_buckets=4)
    # p0: clean single run
    sink.record("runA", 0, "pending")
    sink.record("runA", 0, "done", triples_out=10, wall_ms=100)
    # p1: failed attempt then successful retry in a second run
    sink.record("runA", 1, "pending")
    sink.record("runB", 1, "pending")
    sink.record("runB", 1, "done", triples_out=7, wall_ms=250)
    # p2: crash window — pending with no later done
    sink.record("runB", 2, "pending")
    got = {r.part_id: r.asDict() for r in manifest_audit(spark, sink).collect()}
    assert got[0]["attempts"] == 2 and got[0]["n_runs"] == 1
    assert got[0]["rows"] == 10 and got[0]["crash_window"] is False
    assert got[1]["attempts"] == 3 and got[1]["n_runs"] == 2
    assert got[1]["rows"] == 7 and got[1]["total_wall_ms"] == 250
    assert got[1]["last_run_id"] == "runB"
    assert got[2]["last_status"] == "pending" and got[2]["crash_window"] is True
    assert got[2]["rows"] == 0


def test_audit_wall_sums_to_batch_wall(spark, tmp_path):
    """One batch of 4 buckets: the per-partition wall_ms shares summed by
    the audit must not exceed the run's own wall (each partition carries
    a share of the batch wall, not the whole of it)."""
    import time

    from omop2obo_spark.sources.writers import manifest_audit

    t = FX.transcripts_df(spark, 20, 4)
    sink = GraphSink(str(tmp_path / "w"), n_buckets=4)
    t0 = time.time()
    run_partitioned(spark, t, _builder(spark), sink)
    wall_ms = (time.time() - t0) * 1000
    audit = manifest_audit(spark, sink).collect()
    assert len(audit) == 4
    assert 0 < sum(r.total_wall_ms for r in audit) <= wall_ms
