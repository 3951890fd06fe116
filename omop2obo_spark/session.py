"""SparkSession factory tuned for the KG-construction workload.

Defaults target the sandbox (single JVM, local[N]) but every knob is the one
you would set on a real 1000-executor cluster: AQE on (runtime coalescing +
skew-join splitting), broadcast threshold sized for our dictionary tables,
Arrow enabled for the vectorized-UDF tiers, and a shuffle-partition count
that callers override per data scale.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "omop2obo-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-appropriate defaults.

    Args:
        app_name: Spark application name.
        master: e.g. ``local[8]``; defaults to ``local[$SPARK_GRAFT_CPUS]``
            (falling back to ``local[*]``). On a real cluster this is unset
            and spark-submit supplies the master.
        shuffle_partitions: defaults to 2x the local core count; on a real
            cluster leave AQE to coalesce from a higher initial value.
        extra_conf: additional conf overrides.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    if cpus and not cpus.strip().isdigit():
        # validate BEFORE interpolating into the master URL: 'local[auto]'
        # dies with an opaque JVM error at startup; fall back like the
        # shuffle-partition parse below does
        cpus = ""
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        try:
            n = int(cpus) if cpus else (os.cpu_count() or 8)
        except ValueError:
            n = os.cpu_count() or 8
        shuffle_partitions = max(8, 2 * n)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing + skew-join splitting — this is
        # the first line of defense for skewed shuffle joins at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Dictionary/dimension tables (ontology lexicon, vocab map, MRCONSO
        # subsets) are explicitly broadcast; raise the auto threshold too so
        # Catalyst picks broadcast-hash for anything under 64 MB.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow transfer for the pandas-UDF tiers (TF-IDF cosine, compile).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Keep scans right-sized: at 100 TB this bounds task input size.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # UI off (startup cost); stage metrics come from the event log
        # (perfbench/), and a caller that wants the UI passes extra_conf
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Throughput GC: the ordered-concat/canonicalization aggregations
        # allocate heavily (collect_list of structs); measured on this
        # workload ParallelGC runs them ~1.8x faster than default G1
        # (25s -> 14s on a 40M-row collect_list microbench at 8 cores).
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
