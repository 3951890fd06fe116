#!/usr/bin/env python
"""Cluster entrypoint for the transcripts→triples pipeline.

The north-rule launch shape (spark-submit + --py-files, master supplied by
the submitter, e.g. YARN/K8s/standalone):

    python tools/package_pyfiles.py              # → dist/omop2obo_spark.zip
    spark-submit \
        --py-files dist/omop2obo_spark.zip \
        tools/submit_job.py \
        --transcripts catalog.db.transcripts \
        --output s3://bucket/graph \
        --lexicon s3://bucket/dims/lexicon.parquet \
        --buckets 256

Local smoke (same file, local master):

    spark-submit --master 'local[4]' --py-files dist/omop2obo_spark.zip \
        tools/submit_job.py --transcripts /root/testdata/sf0.001 \
        --output /tmp/graph_out --lexicon fixture --buckets 4

The job is checkpoint-resumable per partition bucket: rerunning the same
command after a mid-run failure skips buckets whose manifest rows are
'done' and idempotently overwrites the rest (plans/checkpoint.py).
"""

from __future__ import annotations

import argparse
import json
import sys
import uuid


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--transcripts", required=True,
                   help="Iceberg table name (no slash) or parquet path; a "
                        "directory containing documents.parquet (testdata "
                        "sf dir) is converted to synthetic transcripts")
    p.add_argument("--output", required=True,
                   help="graph sink root: <output>/triples/part_id=<k>/ and one "
                        "manifest record per file under <output>/manifest/. "
                        "Resolved like any Spark path: a scheme-less root "
                        "lands on fs.defaultFS (HDFS on a cluster)")
    p.add_argument("--lexicon", default="fixture",
                   help="lexicon parquet path (sources/owl_prep.py output "
                        "shape) or 'fixture' for the built-in synthetic lexicon")
    p.add_argument("--vocab-map", default=None,
                   help="source_code_vocab_map.csv path (sources/readers.py:"
                        "read_vocab_map); default = the built-in fixture map, "
                        "which only covers the synthetic vocabularies — real "
                        "UMLS inputs need a real map or aliases mis-normalize")
    p.add_argument("--mrconso", default=None, help="MRCONSO.RRF path (optional UMLS tier)")
    p.add_argument("--mrsty", default=None, help="MRSTY.RRF path")
    p.add_argument("--ancestors", default=None,
                   help="ancestor-closure parquet (uri, ancestor_uri); optional")
    p.add_argument("--buckets", type=int, default=256,
                   help="sink bucket count == resume/lineage granularity")
    p.add_argument("--batch-partitions", type=int, default=None,
                   help="buckets per Spark job (failure domain); default all "
                        "pending. With --with-similarity the triples depend "
                        "on it: TF-IDF idf and l2 norms are fit per batch")
    p.add_argument("--with-similarity", action="store_true",
                   help="enable the TF-IDF fuzzy tier (off = exact tiers only). "
                        "Its idf and per-document l2 norms are fit over each "
                        "batch's turns, so its links depend on "
                        "--batch-partitions; the top-N, floor and percentile "
                        "cuts are per document")
    p.add_argument("--checkpoint-dir", default=None,
                   help="durable stage-checkpoint root (HDFS/S3). Strongly "
                        "recommended on a real cluster: the default "
                        "localCheckpoint truncates lineage into executor "
                        "memory, so an executor loss kills the batch instead "
                        "of recomputing (plans/pipeline.py checkpoint_dir). "
                        "Each run writes under <checkpoint-dir>/<run-id>/ and "
                        "deletes it when the run completes, so jobs may share "
                        "the root")
    p.add_argument("--run-id", default=None,
                   help="manifest run id and checkpoint subdirectory; "
                        "default a fresh random id")
    return p.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)

    # master/deploy-mode/resources come from spark-submit — never set here
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("omop2obo-kg-construct").getOrCreate()

    from omop2obo_spark.fixtures.generators import (
        transcripts_from_documents,
        vocab_map_dict,
    )
    from omop2obo_spark.operators.linking import LexiconDims
    from omop2obo_spark.plans.checkpoint import run_partitioned
    from omop2obo_spark.plans.pipeline import run_pipeline
    from omop2obo_spark.sources.readers import (
        read_mrconso_rrf,
        read_mrsty_rrf,
        read_transcripts,
    )
    from omop2obo_spark.sources.writers import GraphSink, hadoop_path

    src = args.transcripts
    if src.endswith("documents.parquet") or ("/" in src and _is_sf_dir(spark, src)):
        transcripts = transcripts_from_documents(spark, src.removesuffix("/documents.parquet"))
    else:
        transcripts = read_transcripts(spark, src)

    if args.lexicon == "fixture":
        from omop2obo_spark.fixtures.generators import lexicon_df

        lexicon = lexicon_df(spark)
    else:
        lexicon = spark.read.parquet(args.lexicon)
    if args.vocab_map:
        from omop2obo_spark.sources.readers import read_vocab_map

        vocab_map = read_vocab_map(spark, args.vocab_map)
    else:
        vocab_map = vocab_map_dict()
    dims = LexiconDims.from_lexicon(lexicon, vocab_map)

    mrconso = read_mrconso_rrf(spark, args.mrconso) if args.mrconso else None
    mrsty = read_mrsty_rrf(spark, args.mrsty) if args.mrsty else None
    ancestors = spark.read.parquet(args.ancestors) if args.ancestors else None

    # stage checkpoints are keyed by run so jobs sharing the root never
    # overwrite each other; a run's batches overwrite one another in turn,
    # which is safe because each batch commits before the next one builds
    run_id = args.run_id or uuid.uuid4().hex[:12]
    ckpt = f"{args.checkpoint_dir}/{run_id}" if args.checkpoint_dir else None

    def build(tr_subset):
        return run_pipeline(
            spark, tr_subset, lexicon, vocab_map,
            mrconso=mrconso, mrsty=mrsty, ancestors=ancestors,
            with_similarity=args.with_similarity, dims=dims,
            checkpoint_dir=ckpt,
        ).triples

    sink = GraphSink(args.output, n_buckets=args.buckets)
    summary = run_partitioned(
        spark, transcripts, build, sink,
        batch_partitions=args.batch_partitions, run_id=run_id,
    )
    if ckpt:
        jpath, fs = hadoop_path(ckpt, spark)
        fs.delete(jpath, True)
    print(json.dumps(summary))
    spark.stop()
    return 0


def _is_sf_dir(spark, path: str) -> bool:
    """Is ``path`` a testdata sf directory (contains documents.parquet)?
    Probed through the Hadoop FileSystem API, which resolves the path like
    the reader will: by its scheme, or against ``fs.defaultFS`` when it has
    none (HDFS on a cluster, where a driver-local check would misroute an
    sf dir into read_transcripts)."""
    from omop2obo_spark.sources.writers import hadoop_path

    jpath, fs = hadoop_path(f"{path.rstrip('/')}/documents.parquet", spark)
    return fs.exists(jpath)


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
