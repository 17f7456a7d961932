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


def test_packaged_job_writes_the_feature_set_and_resumes(spark, tmp_path):
    """``scripts/run_pipeline.py`` as a user runs it, in its own process
    (the job stops its session): on a synthetic input it writes every
    output column of ``transcript_features``, the lineage marks each
    bucket complete with rows adding up to the input's, and a second run
    writes nothing."""
    import json
    import os
    import subprocess
    import sys
    from pathlib import Path

    from kamae_spark.features import transcript_features
    from kamae_spark.sources.synth import annotations_table, transcripts_table

    repo = Path(__file__).resolve().parents[1]
    out = tmp_path / "job"
    cmd = [sys.executable, str(repo / "scripts" / "run_pipeline.py"),
           "--synthetic-convs", "40", "--n-buckets", "4", "--output", str(out)]

    def run_job() -> dict:
        proc = subprocess.run(cmd, env={**os.environ, "PYTHONPATH": str(repo)},
                              capture_output=True, text=True, timeout=600)
        assert proc.returncode == 0, proc.stderr[-3000:]
        metrics = [line for line in proc.stdout.splitlines() if '"buckets_written"' in line]
        return json.loads(metrics[-1])

    assert run_job()["buckets_written"] == 4
    t = transcripts_table(spark, n_convs=40)
    expected = {c for s in transcript_features(annotations_table(spark, t))
                for c in s.output_columns}
    w = CheckpointedFeatureWriter(str(out), n_buckets=4)
    assert expected <= set(w.read(spark).columns)
    lin = w.lineage(spark).toPandas()
    assert sorted(lin["bucket"]) == [0, 1, 2, 3]
    assert (lin["status"] == "complete").all()
    assert lin["rows"].sum() == t.count()
    assert run_job()["buckets_written"] == 0


def test_packaged_job_annotation_source_rule(spark, tmp_path):
    """``run_pipeline.py --annotations`` follows one rule with either
    source: ``none`` joins no annotations and a path is read. Omitted,
    synthetic conversations get generated annotations and ``--input``
    joins none. The job's source choice runs in-process here (``main``
    stops the session)."""
    import importlib.util
    from pathlib import Path

    from kamae_spark.sources.synth import annotations_table, transcripts_table

    path = Path(__file__).resolve().parents[1] / "scripts" / "run_pipeline.py"
    spec = importlib.util.spec_from_file_location("_run_pipeline", path)
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)

    t = transcripts_table(spark, n_convs=6)
    t.write.parquet(str(tmp_path / "t"))
    # a one-row table, told apart from generated annotations by its count
    annotations_table(spark, t).limit(1).write.parquet(str(tmp_path / "ann"))

    def annotation_rows(*flags) -> int | None:
        args = job.parse_args([*flags, "--output", str(tmp_path / "out")])
        _, ann = job.load_sources(spark, args)
        return None if ann is None else ann.count()

    generated = annotations_table(spark, t).count()
    assert generated > 1
    for source in (["--synthetic-convs", "6"], ["--input", str(tmp_path / "t")]):
        assert annotation_rows(*source, "--annotations", "none") is None
        assert annotation_rows(*source, "--annotations", str(tmp_path / "ann")) == 1
    assert annotation_rows("--synthetic-convs", "6") == generated
    assert annotation_rows("--input", str(tmp_path / "t")) is None
