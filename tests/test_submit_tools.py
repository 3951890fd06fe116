"""Launch-shape tests: --py-files packaging + cluster entrypoint wiring.

The north rule launches the job via ``spark-submit --py-files`` (reference
runs as a driver script too: /root/reference/main.py:1-40). Pinned here:
the zip is importable-shaped, the entrypoint's argument contract stays
stable, and the REAL spark-submit subprocess runs end-to-end and resumes
from its manifest.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import time
import zipfile

from bench import SF_DIR
from omop2obo_spark.sources.writers import GraphSink
from tools.package_pyfiles import build
from tools.submit_job import parse_args

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the generated sf corpora sit side by side (TESTDATA.md)
SF = os.path.join(os.path.dirname(os.path.normpath(SF_DIR)), "sf0.001")


def test_pyfiles_zip_contains_package_only(tmp_path):
    out = build(str(tmp_path / "pkg.zip"))
    with zipfile.ZipFile(out) as zf:
        names = zf.namelist()
    assert "omop2obo_spark/__init__.py" in names
    assert all(n.startswith("omop2obo_spark/") for n in names)
    assert all(n.endswith(".py") for n in names)
    # executors unpack onto sys.path: no tests, no bytecode, no fixtures data
    assert not any("__pycache__" in n or n.startswith("tests/") for n in names)
    # every package subdir made it in
    pkgs = {n.split("/")[1] for n in names if n.count("/") == 2}
    assert {"operators", "sources", "functions", "plans"} <= pkgs


def test_submit_args_defaults_and_resume_contract():
    a = parse_args(["--transcripts", "db.tbl", "--output", "/tmp/o"])
    assert a.lexicon == "fixture" and a.buckets == 256
    assert a.batch_partitions is None and not a.with_similarity
    b = parse_args([
        "--transcripts", "db.tbl", "--output", "/tmp/o",
        "--buckets", "8", "--batch-partitions", "2",
        "--with-similarity", "--run-id", "r1",
    ])
    assert (b.buckets, b.batch_partitions, b.with_similarity, b.run_id) == (8, 2, True, "r1")


def _submit(tmp_path, out_dir: str, *extra: str, master: str = "local[4]"):
    """``(cmd, env)`` of the real launch shape: package --py-files, then
    ``spark-submit --master <master> tools/submit_job.py`` on sf0.001 into
    ``out_dir``."""
    import shutil

    import pytest

    if shutil.which("spark-submit") is None:
        pytest.skip("spark-submit not on PATH")
    zip_path = build(str(tmp_path / "pkg.zip"))
    cmd = [
        "spark-submit", "--master", master, "--py-files", zip_path,
        os.path.join(REPO, "tools", "submit_job.py"),
        "--transcripts", SF, "--output", out_dir, "--lexicon", "fixture", *extra,
    ]
    return cmd, {**os.environ, "PYTHONPATH": REPO}


def _run(cmd, env) -> dict:
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=560, env=env)
    assert p.returncode == 0, p.stderr[-2000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def test_spark_submit_end_to_end_then_resume(spark, tmp_path):
    """The REAL launch shape, not a simulation: package --py-files, run
    ``spark-submit`` as a subprocess against sf0.001, assert triples
    land with a per-partition manifest — then rerun the identical
    command and assert every bucket is skipped (checkpoint-resume). The
    run's stage checkpoints live under ``<checkpoint-dir>/<run_id>`` and
    are gone once it completes."""
    out_dir = str(tmp_path / "graph")
    ckpt = tmp_path / "ckpt"
    cmd, env = _submit(tmp_path, out_dir, "--buckets", "2", "--checkpoint-dir", str(ckpt))

    first = _run(cmd, env)
    assert first["processed"] == [0, 1] and first["rows"] > 0
    assert ckpt.is_dir() and not (ckpt / first["run_id"]).exists()
    done = {r["part_id"] for r in GraphSink(out_dir).manifest(spark=spark)
            if r["status"] == "done"}
    assert done == {0, 1}

    second = _run(cmd, env)
    assert second["processed"] == [] and second["skipped"] == [0, 1]


def test_spark_submit_killed_mid_run_resumes_to_clean_output(spark, tmp_path):
    """``kill -9`` of the whole spark-submit process group while bucket 1
    is in flight (its 'pending' recorded, its 'done' not), then the same
    command again: the resumed sink holds exactly a clean run's triples,
    and the audit shows bucket 1 attempted twice."""
    from omop2obo_spark.fixtures.generators import (
        lexicon_df,
        transcripts_from_documents,
        vocab_map_dict,
    )
    from omop2obo_spark.plans.pipeline import run_pipeline
    from omop2obo_spark.sources.writers import manifest_audit

    out_dir = str(tmp_path / "graph")
    cmd, env = _submit(tmp_path, out_dir, "--buckets", "4", "--batch-partitions", "1")
    manifest_dir = os.path.join(out_dir, "manifest")

    def n_records() -> int:
        if not os.path.isdir(manifest_dir):
            return 0
        return sum(n.endswith(".json") and not n.startswith(".")
                   for n in os.listdir(manifest_dir))

    proc = subprocess.Popen(cmd, env=env, start_new_session=True,
                            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    try:
        deadline = time.time() + 400
        # p0 pending, p0 done, p1 pending
        while n_records() < 3:
            assert proc.poll() is None, "the job ended before bucket 1 started"
            assert time.time() < deadline, "no bucket-1 record in time"
            time.sleep(0.05)
    finally:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait(timeout=60)
    assert GraphSink(out_dir).completed_partitions(spark=spark) == {0}

    resumed = _run(cmd, env)
    assert resumed["skipped"] == [0] and resumed["processed"] == [1, 2, 3]

    clean = run_pipeline(
        spark, transcripts_from_documents(spark, SF), lexicon_df(spark), vocab_map_dict(),
        with_similarity=False,
    ).triples.select("subj", "pred", "obj").collect()
    got = GraphSink(out_dir).read_triples(spark).select("subj", "pred", "obj").collect()
    assert len(got) == len(set(got))  # no bucket written twice
    assert set(got) == set(clean)

    audit = {r.part_id: r for r in manifest_audit(spark, GraphSink(out_dir)).collect()}
    assert audit[1].attempts >= 2 and audit[1].last_status == "done"


def test_spark_submit_one_core_with_similarity_matches_in_process_triples(spark, tmp_path):
    """The triple set does not depend on the core count with the TF-IDF
    tier on: ``spark-submit --master local[1]`` writes exactly the triples
    that ``run_pipeline`` gives in the multi-core test session. One bucket
    is one batch over every turn, so both sides fit TF-IDF over the same
    corpus."""
    from omop2obo_spark.fixtures.generators import (
        lexicon_df,
        transcripts_from_documents,
        vocab_map_dict,
    )
    from omop2obo_spark.plans.pipeline import run_pipeline

    out_dir = str(tmp_path / "graph")
    cmd, env = _submit(
        tmp_path, out_dir, "--buckets", "1", "--with-similarity", master="local[1]"
    )
    assert _run(cmd, env)["processed"] == [0]

    want = run_pipeline(
        spark, transcripts_from_documents(spark, SF), lexicon_df(spark), vocab_map_dict(),
        with_similarity=True,
    ).triples.select("subj", "pred", "obj").collect()
    got = GraphSink(out_dir).read_triples(spark).select("subj", "pred", "obj").collect()
    assert len(got) == len(set(got))
    assert set(got) == set(want)


def test_is_sf_dir_probes_the_default_fs(spark, viewfs_default_fs):
    """A scheme-less path resolves against ``fs.defaultFS`` (HDFS on a
    cluster): an sf dir that exists only there is still an sf dir."""
    from tools.submit_job import _is_sf_dir

    local, mnt = viewfs_default_fs
    spark.createDataFrame([(1, "text")], "doc_id int, text string").write.parquet(
        f"file://{mnt}/sf/documents.parquet")
    assert _is_sf_dir(spark, str(local / "sf"))
    assert not _is_sf_dir(spark, str(local / "missing"))
