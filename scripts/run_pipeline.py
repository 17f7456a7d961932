#!/usr/bin/env python
"""Flagship feature-pipeline job for spark-submit --py-files execution.

Reads a transcript table (+ optional annotations), computes the
point-in-time feature set of ``kamae_spark.features.transcript_features``
(lag/lead, rolling aggregates, role frequency, backfill, sessionization,
as-of join), and writes a checkpointed, resumable feature table with
lineage + metrics.

Example:
  spark-submit --py-files dist/kamae_spark.zip scripts/run_pipeline.py \
      --input /data/transcripts --output /data/features \
      --annotations /data/annotations --n-buckets 256

Re-running after a failure resumes: completed buckets are skipped via
the lineage table.
"""

from __future__ import annotations

import argparse
import json
import sys


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser()
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="transcript table path")
    src.add_argument("--synthetic-convs", type=int,
                     help="generate this many synthetic conversations instead of reading --input")
    p.add_argument("--annotations", default=None,
                   help="annotation table path, or 'none' for no as-of join (default: "
                        "generated annotations with --synthetic-convs, none with --input)")
    p.add_argument("--output", required=True, help="feature table base path")
    p.add_argument("--format", default="parquet", choices=["parquet", "iceberg"])
    p.add_argument("--gap-seconds", type=int, default=1800)
    p.add_argument("--n-buckets", type=int, default=256)
    return p.parse_args(argv)


def load_sources(spark, args: argparse.Namespace):
    """The transcripts and the annotations to as-of join (None: no join).

    One rule for both sources: ``--annotations none`` joins nothing and
    any other value is a path that is read. Omitted, synthetic
    conversations get generated annotations and ``--input`` joins none."""
    from kamae_spark.sources.io import read_table
    from kamae_spark.sources.synth import annotations_table, transcripts_table

    synthetic = args.synthetic_convs is not None
    if synthetic:
        t = transcripts_table(spark, n_convs=args.synthetic_convs)
    else:
        t = read_table(spark, args.input, args.format)
    if args.annotations is None:
        return t, annotations_table(spark, t) if synthetic else None
    if args.annotations == "none":
        return t, None
    return t, read_table(spark, args.annotations, args.format)


def main(argv=None) -> None:
    args = parse_args(argv)

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("kamae_spark-feature-pipeline")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .getOrCreate()
    )
    from kamae_spark.core.pipeline import PipelineModel
    from kamae_spark.features import transcript_features
    from kamae_spark.sources.io import CheckpointedFeatureWriter

    t, ann = load_sources(spark, args)
    features = PipelineModel(transcript_features(ann, args.gap_seconds)).transform(t)

    writer = CheckpointedFeatureWriter(args.output, key_cols=("conv_id",), n_buckets=args.n_buckets)
    metrics = writer.run(features)
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
