"""Resumability: killed run resumes without recomputation, byte-identical
output (SURVEY.md §5 resume tests; north rule checkpoint requirement)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from kamae_spark.sources.io import CheckpointedFeatureWriter


def _features(transcripts):
    from kamae_spark.core.pipeline import PipelineModel
    from kamae_spark.operators.windows import Backfill, Lag, Sessionize

    return PipelineModel(
        [
            Lag(input_col="text", output_col="prev_text"),
            Backfill(input_col="tool", output_col="tool_ff"),
            Sessionize(ts_col="ts", output_col="session_idx"),
        ]
    ).transform(transcripts)


def _read_sorted(w, spark):
    return (
        w.read(spark)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
        .sort_index(axis=1)
    )


def test_kill_and_resume_byte_identical(spark, transcripts, tmp_path):
    feat = _features(transcripts)

    # reference: uninterrupted run
    w_full = CheckpointedFeatureWriter(str(tmp_path / "full"), n_buckets=16)
    m_full = w_full.run(feat, job_id="full")
    assert m_full["buckets_written"] == 16

    # killed run: only 5 buckets marked complete, then resume
    w_resume = CheckpointedFeatureWriter(str(tmp_path / "resume"), n_buckets=16)
    m1 = w_resume.run(feat, job_id="part1", fail_after_buckets=5)
    assert m1["buckets_written"] == 5
    assert len(w_resume.completed_buckets(spark)) == 5
    m2 = w_resume.run(feat, job_id="part2")
    assert m2["buckets_written"] == 11

    a = _read_sorted(w_full, spark)
    b = _read_sorted(w_resume, spark)
    pd.testing.assert_frame_equal(a, b)

    # third run: everything complete -> no-op
    m3 = w_resume.run(feat, job_id="part3")
    assert m3.get("skipped") is True and m3["buckets_written"] == 0


def test_lineage_and_metrics_tables(spark, transcripts, tmp_path):
    feat = _features(transcripts)
    w = CheckpointedFeatureWriter(str(tmp_path / "lm"), n_buckets=8)
    w.run(feat, job_id="job_a")
    lin = w.lineage(spark).toPandas()
    assert set(lin["bucket"]) == set(range(8))
    assert (lin["status"] == "complete").all()
    assert lin["rows"].sum() == transcripts.count()
    met = w.metrics(spark).toPandas()
    assert met["rows"].sum() == transcripts.count()
    assert (met["rows_per_sec"] > 0).all()


def test_bucket_pruning_in_plan(spark, transcripts, tmp_path):
    """Resumed scans must prune completed buckets at the parquet source."""
    feat = _features(transcripts)
    w = CheckpointedFeatureWriter(str(tmp_path / "prune"), n_buckets=8)
    w.run(feat, job_id="all")
    out = w.read(spark)
    plan = out.where(F.col("conv_id") == "conv_1")._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan or "Filter" in plan


def test_repartition_salted_balances_hot_keys(spark):
    """A pathologically hot key must spread across partitions after
    salted repartitioning (associative downstream work only)."""
    from pyspark.sql import functions as F

    from kamae_spark.sources.io import repartition_salted

    hot = spark.range(10000).select(F.lit("hot_conv").alias("conv_id"), "id")
    cold = spark.range(1000).select(
        F.concat(F.lit("c"), F.col("id").cast("string")).alias("conv_id"), "id"
    )
    df = hot.unionByName(cold)
    out = repartition_salted(df, "conv_id", 8, salt=8)
    sizes = [
        r["n"]
        for r in out.groupBy(F.spark_partition_id().alias("p")).agg(
            F.count("*").alias("n")
        ).collect()
    ]
    assert len(sizes) == 8
    assert max(sizes) < 11000 * 0.5  # hot key no longer on one partition


def test_read_write_table_parquet_roundtrip(spark, tmp_path):
    from kamae_spark.sources.io import read_table, write_table

    df = spark.range(20).select(
        F.col("id"), (F.col("id") % 3).alias("k")
    )
    p = str(tmp_path / "t")
    write_table(df, p, partition_by=("k",), mode="overwrite")
    back = read_table(spark, p)
    assert back.count() == 20
    assert set(back.columns) == {"id", "k"}
    # partition layout on disk
    import os
    assert any(d.startswith("k=") for d in os.listdir(p))


def test_read_table_time_travel_requires_iceberg(spark):
    import pytest

    from kamae_spark.sources.io import read_table

    with pytest.raises(ValueError, match="time travel"):
        read_table(spark, "/nonexistent", fmt="parquet", snapshot_id=1)


def test_repartition_salted_skips_map_columns(spark):
    """xxhash64 cannot hash map columns; the default salt subset must
    exclude them (and salt_cols lets callers pick the subset)."""
    from kamae_spark.sources.io import repartition_salted

    df = spark.createDataFrame(
        [(1, "a", {"k": "v"}), (2, "b", {"k": "w"})],
        "id long, conv_id string, meta map<string,string>",
    )
    out = repartition_salted(df, "conv_id", 4, salt=2)
    assert out.count() == 2
    out2 = repartition_salted(df, "conv_id", 4, salt=2, salt_cols=["id"])
    assert out2.count() == 2


def test_corrupt_lineage_fails_the_run(spark, transcripts, tmp_path):
    """Only a missing lineage path means "nothing done": an unreadable
    lineage file must fail the run instead of silently rewriting every
    bucket."""
    import pytest

    feat = _features(transcripts)
    w = CheckpointedFeatureWriter(str(tmp_path / "corrupt"), n_buckets=4)
    assert w.completed_buckets(spark) == set()
    w.run(feat, job_id="first")
    (tmp_path / "corrupt" / "lineage" / "part-corrupt.parquet").write_bytes(b"not parquet")
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        w.run(feat, job_id="second")
