"""Partitioned graph sink with per-partition lineage manifest.

Production target is an Iceberg table written with
``df.writeTo("graph.triples").overwritePartitions()``; in this sandbox the
same contract is implemented on plain parquet with Spark's *dynamic*
partition-overwrite mode, which rewrites only the partitions present in the
written DataFrame — the idempotency primitive the checkpoint/resume layer
needs (SURVEY.md §4.2 "Checkpoint/resume + lineage").

Layout:
    <root>/triples/part_id=<k>/...parquet
    <root>/manifest.jsonl      — one record per (run_id, part_id) attempt
                                 (local roots; append)
    <root>/manifest/<ts>-<uuid>.json — same records, one immutable file
                                 each (scheme-qualified roots — object
                                 stores have no append)
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class GraphSink:
    """Bucketed triple sink + JSONL partition manifest."""

    def __init__(self, root: str, n_buckets: int = 16):
        self.root = root
        self.n_buckets = n_buckets
        self.triples_dir = os.path.join(root, "triples")
        self.manifest_path = os.path.join(root, "manifest.jsonl")
        if "://" not in root:  # remote roots are created by the FS on write
            os.makedirs(root, exist_ok=True)

    # -- partitioning -------------------------------------------------------
    def with_part_id(self, df: DataFrame, bucket_col: str = "conv_id") -> DataFrame:
        """Stable bucket id: pmod(xxhash64(conv_id), k) — same function the
        resume layer uses to route conversations to partitions."""
        return df.withColumn(
            "part_id", F.pmod(F.xxhash64(F.col(bucket_col)), F.lit(self.n_buckets)).cast("int")
        )

    # -- writes -------------------------------------------------------------
    def write_partitions(self, triples: DataFrame) -> None:
        """Idempotently (re)write exactly the part_ids present in ``triples``."""
        (
            triples.repartition("part_id")
            .sortWithinPartitions("conv_id", "turn_idx", "subj", "pred")
            .write.partitionBy("part_id")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .parquet(self.triples_dir)
        )

    def clear_partitions(self, part_ids: list[int],
                         spark: SparkSession | None = None) -> None:
        """Remove the on-disk data for ``part_ids``. Dynamic partition
        overwrite only rewrites partitions PRESENT in the written frame, so
        a batch partition that legitimately produced zero rows keeps
        whatever a previous crashed attempt left behind — the resume layer
        clears those explicitly so "this batch's output replaces all of the
        batch's partitions" holds even for empty ones. (Iceberg spelling:
        overwritePartitions on a frame that includes the empty partitions.)

        Every root is deleted through the Hadoop FileSystem API, which
        resolves it exactly like the writer does: a scheme-qualified root
        (``hdfs://``, ``s3a://``, ``file://``) by its scheme, a scheme-less
        one against ``fs.defaultFS`` — HDFS on a cluster. A driver-local
        ``shutil`` delete would miss the data the writer put there and
        resurrect the exact orphan rows this method exists to kill.
        """
        for p in part_ids:
            jpath, fs, _ = self._fs(spark, f"{self.triples_dir}/part_id={p}")
            if fs.exists(jpath):
                fs.delete(jpath, True)

    def read_triples(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.triples_dir)

    # -- manifest -----------------------------------------------------------
    # Local roots append to one JSONL file. Scheme-qualified roots (hdfs://,
    # s3a://, file://) cannot rely on POSIX append — object stores don't
    # have it — so each record is its own immutable file under
    # <root>/manifest/, named by a zero-padded nanosecond timestamp so a
    # lexicographic listing replays append order. Without this, record()
    # on a remote root would raise (or worse, write to a bogus local path
    # named "s3a:/...") and completed_partitions() would silently return
    # empty — re-running every partition on every resume.
    def _fs(self, spark: SparkSession | None, path_str: str):
        spark = spark or SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError(
                f"Hadoop FileSystem I/O on root {self.root!r} needs an active "
                "SparkSession; pass spark="
            )
        jpath = spark._jvm.org.apache.hadoop.fs.Path(path_str)
        return jpath, jpath.getFileSystem(spark._jsc.hadoopConfiguration()), spark

    def record(self, run_id: str, part_id: int, status: str,
               spark: SparkSession | None = None, **metrics) -> None:
        rec = {"run_id": run_id, "part_id": part_id, "status": status,
               "ts": time.time(), **metrics}
        if "://" in self.root:
            import uuid

            name = f"{time.time_ns():020d}-{uuid.uuid4().hex[:8]}.json"
            jpath, fs, _ = self._fs(spark, f"{self.root}/manifest/{name}")
            out = fs.create(jpath, True)
            try:
                out.write(bytearray(json.dumps(rec).encode("utf-8")))
            finally:
                out.close()
            return
        with open(self.manifest_path, "a") as f:
            f.write(json.dumps(rec) + "\n")

    def manifest(self, spark: SparkSession | None = None) -> list[dict]:
        if "://" in self.root:
            jdir, fs, spark = self._fs(spark, f"{self.root}/manifest")
            if not fs.exists(jdir):
                return []
            names = sorted(
                st.getPath().getName() for st in fs.listStatus(jdir)
                if st.isFile() and st.getPath().getName().endswith(".json")
            )
            recs = []
            io_utils = spark._jvm.org.apache.commons.io.IOUtils
            for name in names:
                jp = spark._jvm.org.apache.hadoop.fs.Path(
                    f"{self.root}/manifest/{name}")
                stream = fs.open(jp)
                try:
                    recs.append(json.loads(bytes(io_utils.toByteArray(stream))))
                finally:
                    stream.close()
            return recs
        if not os.path.exists(self.manifest_path):
            return []
        with open(self.manifest_path) as f:
            return [json.loads(line) for line in f if line.strip()]

    def completed_partitions(self, spark: SparkSession | None = None) -> set[int]:
        """Partitions whose *latest* manifest record is 'done'."""
        latest: dict[int, str] = {}
        for rec in self.manifest(spark=spark):
            latest[rec["part_id"]] = rec["status"]
        return {p for p, s in latest.items() if s == "done"}


def save_bucketed_tables(
    spark: SparkSession,
    triples: DataFrame,
    transcripts: DataFrame,
    db: str = "kg",
    n_buckets: int = 16,
) -> tuple[str, str]:
    """Persist the triple log and the transcript table as BUCKETED,
    sorted managed tables co-clustered on ``conv_id`` — the storage
    layout that makes every later (conv_id)-keyed join between them
    exchange-free: Spark's bucketed-join elimination sees matching
    bucket specs on both sides and skips the shuffle entirely (and the
    per-bucket sort skips the sort). At 100 TB the triple↔transcript
    join is the hottest repeated join in graph analytics; paying its
    shuffle ONCE at write time instead of per-query is the canonical
    warehouse play (Iceberg's bucket partition transform is the same
    idea; ``bucketBy`` is the Spark-managed-table spelling this sandbox
    can execute and assert).

    Returns the two table names. Requires a session with Hive-style
    managed-table support (default local session works; tables land in
    spark.sql.warehouse.dir).
    """
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    t_triples, t_tr = f"{db}.triples_bucketed", f"{db}.transcripts_bucketed"
    wh = spark.conf.get("spark.sql.warehouse.dir", "").removeprefix("file:")
    for name in (t_triples, t_tr):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        # a crashed previous writer can leave an orphan location the
        # (session-scoped) catalog no longer knows about — managed-table
        # creation refuses to reuse it, so clear it explicitly
        orphan = os.path.join(wh, f"{db}.db", name.split(".", 1)[1])
        if wh and os.path.isdir(orphan):
            import shutil

            shutil.rmtree(orphan)
    (
        triples.write.bucketBy(n_buckets, "conv_id")
        .sortBy("conv_id", "turn_idx")
        .format("parquet")
        .saveAsTable(t_triples)
    )
    (
        transcripts.write.bucketBy(n_buckets, "conv_id")
        .sortBy("conv_id", "turn_idx")
        .format("parquet")
        .saveAsTable(t_tr)
    )
    return t_triples, t_tr


def manifest_audit(spark: SparkSession, sink: "GraphSink") -> DataFrame:
    """Per-partition lineage/metrics audit over the sink manifest — the
    queryable face of the north rule's "per-partition lineage +
    metrics". One row per part_id:

      * ``attempts`` / ``n_runs`` — total records / distinct run_ids
      * ``last_status`` / ``last_run_id`` / ``last_ts``
      * ``rows`` — triples_out of the latest 'done' record (0 if none)
      * ``total_wall_ms`` — summed over 'done' records (retry cost trail)
      * ``crash_window`` — latest record is 'pending': a writer died
        between data commit and state commit; the partition will be
        re-run on resume (safe — the write is an overwrite) but the
        audit SURFACES it instead of leaving it buried in the JSONL

    The manifest is bounded by n_buckets x attempts (operational
    metadata, not data), so materializing it through the driver — which
    the manifest reader already does by design — is the right cost;
    the audit itself is a DataFrame so fleet dashboards can union many
    sinks' audits and aggregate.
    """
    recs = sink.manifest(spark=spark)
    schema = (
        "run_id string, part_id long, status string, ts double, "
        "triples_out long, wall_ms long"
    )
    rows = [
        (
            r["run_id"],
            int(r["part_id"]),
            r["status"],
            float(r["ts"]),
            int(r.get("triples_out") or 0),
            int(r.get("wall_ms") or 0),
        )
        for r in recs
    ]
    df = spark.createDataFrame(rows, schema)
    base = df.groupBy("part_id").agg(
        F.count("*").alias("attempts"),
        F.count_distinct("run_id").alias("n_runs"),
        F.max_by("status", "ts").alias("last_status"),
        F.max_by("run_id", "ts").alias("last_run_id"),
        F.max("ts").alias("last_ts"),
        F.max_by(
            F.when(F.col("status") == "done", F.col("triples_out")), 
            F.when(F.col("status") == "done", F.col("ts")),
        ).alias("__rows"),
        F.sum(
            F.when(F.col("status") == "done", F.col("wall_ms")).otherwise(0)
        ).alias("total_wall_ms"),
    )
    return base.select(
        "part_id",
        "attempts",
        "n_runs",
        "last_status",
        "last_run_id",
        "last_ts",
        F.coalesce("__rows", F.lit(0)).alias("rows"),
        "total_wall_ms",
        (F.col("last_status") == "pending").alias("crash_window"),
    )
