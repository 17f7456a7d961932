"""Sources, sinks, and resumable checkpointed writes.

The reference has no scan/sink operators (SURVEY.md §2.1) — users pass
DataFrames in. At 100 TB the engine must own its I/O contract instead:

- `read_table`: Iceberg when a catalog is configured, partitioned
  Parquet laid out the same way otherwise (one code path; the sandbox
  has no Iceberg jars, so Parquet is the exercised branch).
- `CheckpointedFeatureWriter`: hash-bucketed, per-partition resumable
  feature materialization with lineage + metrics side tables
  (north rule: "checkpoint per-partition progress with lineage and
  metrics tables so a killed run resumes without recomputation").

Resume protocol: output is partitioned by `_bucket = pmod(xxhash64(key),
n_buckets)`. A lineage row (job_id, bucket, rows, wall_sec, status) is
appended per completed bucket. On re-run, completed buckets are read
from lineage and EXCLUDED from the input scan — the filter on `_bucket`
prunes them at the source when the input is bucketed the same way —
and the write uses dynamic partition overwrite so a bucket that died
mid-write is rewritten atomically (idempotent per bucket).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BUCKET_COL = "_bucket"


def read_table(
    spark: SparkSession, path: str, fmt: str = "parquet",
    snapshot_id: int | None = None, as_of_timestamp: int | None = None,
) -> DataFrame:
    """Source abstraction: `fmt='iceberg'` loads via the Iceberg catalog
    (table identifier in `path`), with optional time travel —
    `snapshot_id` or `as_of_timestamp` (epoch millis) map to Iceberg's
    read options, so resumable re-runs can pin the exact table state a
    killed job saw. Otherwise partitioned Parquet with the same layout
    (the exercised branch here: the sandbox has no Iceberg jars)."""
    if fmt == "iceberg":
        r = spark.read.format("iceberg")
        if snapshot_id is not None:
            r = r.option("snapshot-id", int(snapshot_id))
        if as_of_timestamp is not None:
            r = r.option("as-of-timestamp", int(as_of_timestamp))
        return r.load(path)
    if snapshot_id is not None or as_of_timestamp is not None:
        raise ValueError("time travel requires fmt='iceberg'")
    return spark.read.parquet(path)


def write_table(
    df: DataFrame, path: str, fmt: str = "parquet",
    mode: str = "append", partition_by: Sequence[str] = (),
) -> None:
    """Sink abstraction mirroring read_table: Iceberg v2 table when a
    catalog is configured (`path` = table identifier), else partitioned
    Parquet with the same layout. Use CheckpointedFeatureWriter instead
    when resumability/lineage is needed."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if fmt == "iceberg":
        w.format("iceberg").saveAsTable(path)
    else:
        w.parquet(path)


def bucket_expr(key_cols: Sequence[str], n_buckets: int):
    return F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(n_buckets)).cast("int")


class CheckpointedFeatureWriter:
    """Resumable partition-scoped feature-table writer.

    Layout under `base_path`:
      data/      feature parquet partitioned by _bucket
      lineage/   parquet: job_id, bucket, rows, wall_sec, status, finished_at
      metrics/   parquet: job-level run metrics (rows, buckets, sec, rows/sec)
    """

    def __init__(self, base_path: str, key_cols: Sequence[str] = ("conv_id",),
                 n_buckets: int = 64):
        self.base_path = base_path.rstrip("/")
        self.key_cols = list(key_cols)
        self.n_buckets = n_buckets
        self.data_path = f"{self.base_path}/data"
        self.lineage_path = f"{self.base_path}/lineage"
        self.metrics_path = f"{self.base_path}/metrics"

    # -- lineage ----------------------------------------------------------
    def completed_buckets(self, spark: SparkSession) -> set[int]:
        """Buckets the lineage marks complete. Only a missing lineage
        path means "nothing done"; any other read error (e.g. a corrupt
        lineage file) raises rather than silently rewriting every bucket."""
        path = spark._jvm.org.apache.hadoop.fs.Path(self.lineage_path)
        if not path.getFileSystem(spark._jsc.hadoopConfiguration()).exists(path):
            return set()
        try:
            rows = (
                spark.read.parquet(self.lineage_path)
                .where(F.col("status") == "complete")
                .select("bucket").distinct().collect()
            )
        except AnalysisException as e:
            if e.getCondition() != "PATH_NOT_FOUND":
                raise
            return set()  # removed after the existence check
        return {int(r["bucket"]) for r in rows}

    def _append_lineage(self, spark: SparkSession, rows: list[dict]) -> None:
        if not rows:
            return
        spark.createDataFrame(
            [(r["job_id"], int(r["bucket"]), int(r["rows"]), float(r["wall_sec"]),
              r["status"], float(r["finished_at"])) for r in rows],
            "job_id string, bucket int, rows bigint, wall_sec double, status string, finished_at double",
        ).coalesce(1).write.mode("append").parquet(self.lineage_path)

    def _append_metrics(self, spark: SparkSession, m: dict) -> None:
        spark.createDataFrame(
            [(m["job_id"], int(m["buckets_written"]), int(m["rows"]),
              float(m["wall_sec"]), float(m["rows_per_sec"]), float(m["finished_at"]))],
            "job_id string, buckets_written int, rows bigint, wall_sec double, rows_per_sec double, finished_at double",
        ).coalesce(1).write.mode("append").parquet(self.metrics_path)

    # -- write / resume -----------------------------------------------------
    def run(self, df: DataFrame, job_id: str | None = None,
            fail_after_buckets: int | None = None) -> dict:
        """Write all not-yet-complete buckets; returns run metrics.

        `fail_after_buckets` limits how many buckets this run marks
        complete (test hook simulating a mid-job kill: the data write is
        all-or-nothing per bucket via dynamic overwrite, the lineage
        marks only the first K as done, and a re-run redoes the rest)."""
        spark = df.sparkSession
        job_id = job_id or uuid.uuid4().hex[:12]
        done = self.completed_buckets(spark)
        todo = sorted(set(range(self.n_buckets)) - done)
        if not todo:
            return {"job_id": job_id, "buckets_written": 0, "rows": 0,
                    "wall_sec": 0.0, "rows_per_sec": 0.0, "skipped": True}

        if fail_after_buckets is not None:
            todo = todo[:fail_after_buckets]

        t0 = time.time()
        bucketed = df.select("*", bucket_expr(self.key_cols, self.n_buckets).alias(BUCKET_COL))
        part = bucketed.where(F.col(BUCKET_COL).isin([int(b) for b in todo]))
        # scope dynamic partition overwrite to THIS write: leaking it into
        # the shared session would silently change overwrite semantics for
        # every later partitioned write in the same session
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            part.write.partitionBy(BUCKET_COL).mode("overwrite").parquet(self.data_path)
        finally:
            if prev is None:
                spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
            else:
                spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        wall = time.time() - t0

        # per-bucket row counts from the written files (metadata-cheap scan
        # of just-written partitions; avoids recomputing the feature plan)
        counts = {
            int(r[BUCKET_COL]): int(r["n"])
            for r in spark.read.parquet(self.data_path)
            .where(F.col(BUCKET_COL).isin([int(b) for b in todo]))
            .groupBy(BUCKET_COL).agg(F.count("*").alias("n")).collect()
        }
        now = time.time()
        self._append_lineage(spark, [
            {"job_id": job_id, "bucket": b, "rows": counts.get(b, 0),
             "wall_sec": wall / max(len(todo), 1), "status": "complete",
             "finished_at": now}
            for b in todo
        ])
        total_rows = sum(counts.values())
        metrics = {
            "job_id": job_id, "buckets_written": len(todo), "rows": total_rows,
            "wall_sec": wall, "rows_per_sec": total_rows / wall if wall > 0 else 0.0,
            "finished_at": now,
        }
        self._append_metrics(spark, metrics)
        return metrics

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.data_path).drop(BUCKET_COL)

    def lineage(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.lineage_path)

    def metrics(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.metrics_path)
