"""Checkpoint-resumable partitioned execution.

The north rule requires per-partition resume with lineage + metrics: a
re-run after a mid-job failure must (a) skip partitions already committed,
(b) produce byte-identical output for re-processed partitions (idempotent
overwrite), and (c) leave an auditable manifest. The reference's analogue
is its skip-if-exists caching of processed ontologies
(/root/reference/omop2obo/ontology_explorer.py:91-92) — generalized here to
data partitions.

Protocol per partition batch:
    1. record 'pending' for each of the batch's part_ids
    2. filter the fact table to the batch's part_ids (one predicate —
       partition pruning on a pre-bucketed Iceberg table) and run the
       pipeline on the subset; a row bucketed outside the batch fails the
       write below
    3. clear the batch's partitions, then dynamic-partition-overwrite the
       triple output into them
    4. count the written rows per part_id and record 'done' (data commit
       strictly before state commit, so a crash between 3 and 4 re-runs
       the partition — safe, because 3 is an overwrite, not an append)
"""

from __future__ import annotations

import time
import uuid
from collections.abc import Callable

from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from omop2obo_spark.sources.writers import GraphSink

_FOREIGN = "outside the current batch"


def run_partitioned(
    spark: SparkSession,
    transcripts: DataFrame,
    build_triples: Callable[[DataFrame], DataFrame],
    sink: GraphSink,
    batch_partitions: int | None = None,
    run_id: str | None = None,
) -> dict:
    """Run ``build_triples`` over the transcripts bucket-by-bucket,
    skipping buckets already marked done in the sink manifest.

    Args:
        build_triples: transcripts-subset → triples DataFrame (typically a
            closure over run_pipeline).
        batch_partitions: how many buckets to process per Spark job;
            default = all pending in one job (small inputs) — at cluster
            scale pick ~the number that fits one failure domain.

    Returns:
        summary dict {run_id, processed, skipped, rows}.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    if batch_partitions is not None and batch_partitions <= 0:
        raise ValueError(f"batch_partitions must be >= 1, got {batch_partitions}")
    done = sink.completed_partitions()
    pending = [p for p in range(sink.n_buckets) if p not in done]
    batch = batch_partitions if batch_partitions is not None else max(1, len(pending))

    bucketed = sink.with_part_id(transcripts)
    processed, total_rows = [], 0
    for i in range(0, len(pending), batch):
        part_ids = pending[i : i + batch]
        t0 = time.time()
        subset = bucketed.filter(F.col("part_id").isin(part_ids)).drop("part_id")
        for p in part_ids:
            sink.record(run_id, p, "pending")
        triples = sink.with_part_id(build_triples(subset))
        # a build whose output conv_ids hash outside this batch would be
        # dynamic-overwritten into a FOREIGN partition and clobbered when
        # that partition's own batch runs — the write fails on the first
        # such row instead (the standard pipeline preserves conv_id, so
        # this only fires for a build_triples that rewrites or nulls the
        # bucket key)
        in_batch = F.col("part_id").isin(part_ids)
        triples = triples.withColumn("part_id", F.when(in_batch, F.col("part_id")).otherwise(
            F.raise_error(F.concat(
                F.lit("build_triples emitted rows for partition "),
                F.col("part_id").cast("string"),
                F.lit(f" {_FOREIGN} {part_ids}; bucket key must be preserved "
                      "for per-partition overwrite resume to be sound")))))
        # dynamic overwrite only rewrites partitions PRESENT in the frame:
        # clearing all of the batch's first drops whatever a previous
        # crash-window attempt left in one that now yields no rows
        sink.clear_partitions(part_ids)
        try:
            sink.write_partitions(triples)
        except PySparkException as e:
            msg = (e.getMessageParameters() or {}).get("errorMessage", "")
            if e.getCondition() != "USER_RAISED_EXCEPTION" or _FOREIGN not in msg:
                raise
            raise ValueError(msg) from e
        # manifest counts come from the files actually written (partition-
        # pruned scan, parquet footer counts); the sink's declared schema
        # reads an all-empty batch back as 0 rows
        written = {
            r["part_id"]: r["n"]
            for r in sink.read_triples(spark).filter(in_batch)
            .groupBy("part_id").agg(F.count("*").alias("n")).collect()
        }
        n = sum(written.values())
        # the batch ran as one job: split its wall across the partitions
        # so the shares sum to it exactly (manifest_audit sums wall_ms)
        share, extra = divmod(int((time.time() - t0) * 1000), len(part_ids))
        for k, p in enumerate(part_ids):
            sink.record(run_id, p, "done", triples_out=written.get(p, 0),
                        wall_ms=share + (k < extra), batch=part_ids)
        processed.extend(part_ids)
        total_rows += n

    return {"run_id": run_id, "processed": processed, "skipped": sorted(done),
            "rows": total_rows}
