"""Partitioned graph sink with per-partition lineage manifest.

Production target is an Iceberg table written with
``df.writeTo("graph.triples").overwritePartitions()``; in this sandbox the
same contract is implemented on plain parquet with Spark's *dynamic*
partition-overwrite mode, which rewrites only the partitions present in the
written DataFrame — the idempotency primitive the checkpoint/resume layer
needs (SURVEY.md §4.2 "Checkpoint/resume + lineage").

Layout (the same for every root):
    <root>/triples/part_id=<k>/...parquet
    <root>/manifest/<ts>-<uuid>.json — one immutable file per
                                       (run_id, part_id) attempt record

Every path goes through the Hadoop FileSystem API, which resolves it
exactly like Spark's writer does: a scheme-qualified root (``hdfs://``,
``s3a://``, ``file://``) by its scheme, a scheme-less one against
``fs.defaultFS`` — HDFS on a cluster. The sink touches no driver-local
disk, so a driver restarted on another node finds the same manifest.
"""

from __future__ import annotations

import json
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def hadoop_path(path: str, spark: SparkSession | None = None):
    """``(Path, FileSystem)`` for ``path``, resolved by the session's
    Hadoop configuration exactly as Spark's readers and writers resolve it."""
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(f"Hadoop FileSystem I/O on {path!r} needs an active "
                           "SparkSession; pass spark=")
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath, jpath.getFileSystem(spark._jsc.hadoopConfiguration())


class GraphSink:
    """Bucketed triple sink + per-record partition manifest."""

    #: the columns ``build_triples`` emits, plus the bucket id; written and
    #: read back with these types, so an all-empty batch reads as 0 rows
    SCHEMA = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("subj", T.StringType()),
        T.StructField("pred", T.StringType()),
        T.StructField("obj", T.StringType()),
        T.StructField("part_id", T.IntegerType()),
    ])

    def __init__(self, root: str, n_buckets: int = 16):
        self.root = root
        self.n_buckets = n_buckets
        self.triples_dir = f"{root}/triples"

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
            triples.select(*self.SCHEMA.fieldNames())
            .repartition("part_id")
            .sortWithinPartitions("conv_id", "turn_idx", "subj", "pred")
            .write.partitionBy("part_id")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .parquet(self.triples_dir)
        )

    def clear_partitions(self, part_ids: list[int],
                         spark: SparkSession | None = None) -> None:
        """Remove the data for ``part_ids``. Dynamic partition overwrite
        only rewrites partitions PRESENT in the written frame, so a batch
        partition that legitimately produced zero rows keeps whatever a
        previous crashed attempt left behind — the resume layer clears
        those explicitly so "this batch's output replaces all of the
        batch's partitions" holds even for empty ones. (Iceberg spelling:
        overwritePartitions on a frame that includes the empty partitions.)
        """
        for p in part_ids:
            jpath, fs = hadoop_path(f"{self.triples_dir}/part_id={p}", spark)
            fs.delete(jpath, True)  # False when absent

    def read_triples(self, spark: SparkSession) -> DataFrame:
        return spark.read.schema(self.SCHEMA).parquet(self.triples_dir)

    # -- manifest -----------------------------------------------------------
    # Each record is its own immutable file under <root>/manifest/ (object
    # stores have no append), named by a zero-padded nanosecond timestamp
    # so a lexicographic listing replays append order.
    def record(self, run_id: str, part_id: int, status: str,
               spark: SparkSession | None = None, **metrics) -> None:
        rec = {"run_id": run_id, "part_id": part_id, "status": status,
               "ts": time.time(), **metrics}
        name = f"{time.time_ns():020d}-{uuid.uuid4().hex[:8]}.json"
        jpath, fs = hadoop_path(f"{self.root}/manifest/{name}", spark)
        out = fs.create(jpath, True)
        try:
            out.write(bytearray(json.dumps(rec).encode("utf-8")))
        finally:
            out.close()

    def manifest(self, spark: SparkSession | None = None) -> list[dict]:
        jglob, fs = hadoop_path(f"{self.root}/manifest/*.json", spark)
        recs = []
        for st in sorted(fs.globStatus(jglob) or [], key=lambda s: s.getPath().getName()):
            stream = fs.open(st.getPath())
            try:
                data = bytes(stream.readAllBytes())
            finally:
                stream.close()
            # a driver killed inside record() leaves a torn file: the last
            # record of a dead attempt, so reading it as absent only re-runs
            # that partition
            try:
                recs.append(json.loads(data))
            except ValueError:
                continue
        return recs

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
    for name in (t_triples, t_tr):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        # a crashed previous writer can leave an orphan location the
        # (session-scoped) catalog no longer knows about — managed-table
        # creation refuses to reuse it, so clear it explicitly (through the
        # Hadoop FS API: the warehouse may be on HDFS or S3)
        jpath, fs = hadoop_path(
            f"{spark.catalog.getDatabase(db).locationUri}/{name.split('.', 1)[1]}", spark)
        fs.delete(jpath, True)
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
        audit SURFACES it instead of leaving it buried in the manifest

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
