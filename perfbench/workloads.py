"""The benchmark's workloads.

Each workload generates its input tables from the seed with
``kamae_spark.sources.synth`` and caches them (``make_input``), then
runs one checked operation per ``run_pass``: a ``Pipeline`` is fitted,
``PipelineModel.transform`` compiles it, and the result is forced into a
sink. ``run_pass`` returns whether the operation's output check held.
``final_checks`` runs the checks too costly to repeat every pass.

Sizes are fixed so that one run takes under a minute on a 4-core host;
README.md gives the measurements behind them.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from kamae_spark.core.pipeline import Pipeline, PipelineModel
from kamae_spark.operators.joins import AsOfJoin
from kamae_spark.operators.math import Sum
from kamae_spark.operators.windows import (
    Backfill,
    ConditionalRollingCount,
    Lag,
    Lead,
    ListAgg,
    RollingAgg,
    Sessionize,
)
from kamae_spark.sources.io import CheckpointedFeatureWriter
from kamae_spark.sources.synth import annotations_table, transcripts_table

ORDER = ("ts", "turn_idx")
UNB = Window.unboundedPreceding


def window_stages() -> list:
    return [
        Lag(input_col="text", output_col="prev_text", order_by=ORDER),
        Lead(input_col="text", output_col="next_text", order_by=ORDER),
        Lag(input_col="ts", output_col="prev_ts", order_by=ORDER),
        RollingAgg(input_col="turn_idx", output_col="turns_5", agg="count", rows=5, order_by=ORDER),
        RollingAgg(input_col="turn_idx", output_col="mean_10", agg="mean", rows=10, order_by=ORDER),
        ConditionalRollingCount(input_col="role", output_col="role_freq_10", value="assistant",
                                rows=10, order_by=ORDER),
        Backfill(input_col="tool", output_col="tool_ff", order_by=ORDER),
    ]


def sessionize_stage():
    return Sessionize(ts_col="ts", output_col="session_idx", gap_seconds=1800, order_by=ORDER,
                      session_id_col="session_id")


def listagg_stage():
    return ListAgg(input_col="turn_idx", output_col="conv_len", agg="count")


def asof_stage(ann: DataFrame):
    return AsOfJoin(on=("conv_id",), right=ann, strategy="union")


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """Shared input handling: transcripts plus annotations, cached.

    The annotations carry their own timestamp as the payload column
    ``ann_ts``, so the joined ``ann_ts_asof`` shows which annotation each
    turn received."""

    n_convs = 0
    joins_annotations = False
    vocab_col = "conv_id"  # the column the traced run's indexer probe fits on

    def __init__(self, spark, seed: int, tracer):
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.t = self.ann = self.model = None
        self.turns = 0

    def make_input(self) -> None:
        t = transcripts_table(self.spark, n_convs=self.n_convs, seed=self.seed)
        # the generator leaves rows hash-partitioned by conversation; input
        # read from files is not, so spread rows round-robin (deterministic:
        # Spark sorts before a round-robin repartition) and let the
        # pipeline's own exchanges run
        parts = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        self.t = self.shape(t.repartition(parts)).cache()
        self.turns = self.t.count()
        if self.joins_annotations:
            self.annotations()

    def annotations(self) -> DataFrame:
        """The annotation table over the cached transcripts, cached."""
        if self.ann is None:
            ann = annotations_table(self.spark, self.t, seed=self.seed + 1)
            self.ann = ann.select("*", F.col("ts").alias("ann_ts")).cache()
            self.ann.count()
        return self.ann

    def shape(self, t: DataFrame) -> DataFrame:
        return t

    def drop_input(self) -> None:
        self.t.unpersist(blocking=True)
        if self.ann is not None:
            self.ann.unpersist(blocking=True)
            self.ann = None

    def stages(self) -> list:
        raise NotImplementedError

    def compile(self, df: DataFrame) -> DataFrame:
        with self.tracer.span("pipeline.fit"):
            self.model = Pipeline(self.stages()).fit(df)
        with self.tracer.span("pipeline.compile") as s:
            out = self.model.transform(df)
            if s is not None:
                s["stages"] = len(self.model.stages)
        return out

    def final_checks(self) -> list[bool]:
        return []


class Flagship(Workload):
    """The ten-stage point-in-time feature model into a noop sink."""

    name = "flagship"
    n_convs = 25_000
    joins_annotations = True
    vocab_col = "text"  # > 65,536 labels: the broadcast-join lookup tier

    def stages(self) -> list:
        return [*window_stages(), sessionize_stage(), listagg_stage(), asof_stage(self.ann)]

    def run_pass(self) -> bool:
        out = self.compile(self.t)
        obs = Observation()
        late = F.sum(F.when(F.col("ann_ts_asof") > F.col("ts"), 1).otherwise(0))
        with self.tracer.span("exec"):
            noop(out.observe(obs, F.count(F.lit(1)).alias("rows"), late.alias("late")))
        got = obs.get
        return got["rows"] == self.turns and got["late"] == 0

    def final_checks(self) -> list[bool]:
        """A slice of conversations through the program, compared row by
        row with an independent plain-DataFrame computation."""
        ids = [f"conv_{i}" for i in range(200)]
        t = self.t.where(F.col("conv_id").isin(ids))
        ann = self.ann.where(F.col("conv_id").isin(ids))
        prog = PipelineModel([*window_stages(), sessionize_stage(), listagg_stage(),
                              asof_stage(ann)]).transform(t)
        return [_slice_mismatches(prog, reference_features(t, ann)) == 0]


FEATURES = ("prev_text", "next_text", "prev_ts", "turns_5", "mean_10", "role_freq_10",
            "tool_ff", "session_idx", "session_id", "conv_len")


def reference_features(t: DataFrame, ann: DataFrame) -> DataFrame:
    """The flagship features written directly with pyspark window
    functions, joins and aggregates, without kamae_spark."""
    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    sec = F.col("ts").cast("long")
    feats = t.select(
        "*",
        F.lag("text").over(w).alias("prev_text"),
        F.lead("text").over(w).alias("next_text"),
        F.lag("ts").over(w).alias("prev_ts"),
        F.count("turn_idx").over(w.rowsBetween(-4, 0)).alias("turns_5"),
        F.avg("turn_idx").over(w.rowsBetween(-9, 0)).alias("mean_10"),
        F.count(F.when(F.col("role") == "assistant", 1)).over(w.rowsBetween(-9, 0)).alias("role_freq_10"),
        F.last("tool", ignorenulls=True).over(w.rowsBetween(UNB, 0)).alias("tool_ff"),
        F.when(sec - F.lag(sec).over(w) > 1800, 1).otherwise(0).alias("new_session"),
    )
    feats = feats.select("*", F.sum("new_session").over(w.rowsBetween(UNB, 0)).cast("int").alias("session_idx"))
    feats = feats.select("*", F.concat_ws("#", "conv_id", "session_idx").alias("session_id"))
    lengths = t.groupBy("conv_id").agg(F.count("*").alias("conv_len"))
    # as-of by range join: the latest annotation at or before each turn
    a = ann.select("conv_id", F.col("ts").alias("a_ts"))
    latest = (
        t.select("conv_id", "turn_idx", "ts").join(a, "conv_id")
        .where(F.col("a_ts") <= F.col("ts"))
        .groupBy("conv_id", "turn_idx").agg(F.max("a_ts").alias("ref_ann_ts"))
    )
    at_ts = ann.groupBy("conv_id", F.col("ts").alias("ref_ann_ts")).agg(
        F.count("*").alias("n_at_ts"), F.min("label").alias("ref_label"), F.min("score").alias("ref_score")
    )
    return (
        feats.join(lengths, "conv_id")
        .join(latest, ["conv_id", "turn_idx"], "left")
        .join(at_ts, ["conv_id", "ref_ann_ts"], "left")
    )


def _row_hash(df: DataFrame, cols) -> "F.Column":
    # coalesce: Spark's hash skips nulls, which would let a value move
    # between columns unnoticed
    return F.xxhash64(*[F.coalesce(df[c].cast("string"), F.lit("\u0000")) for c in cols])


def _slice_mismatches(prog: DataFrame, ref: DataFrame) -> int:
    """Rows where the program and the reference disagree. The window
    features are compared by row hash and the as-of timestamp exactly.
    Label and score are compared where one annotation sits at the
    matched timestamp; with several there, either may be picked."""
    p = prog.select("conv_id", "turn_idx", _row_hash(prog, FEATURES).alias("h"),
                    "ann_ts_asof", "label_asof", "score_asof")
    r = ref.select("conv_id", "turn_idx", _row_hash(ref, FEATURES).alias("ref_h"),
                   "ref_ann_ts", "n_at_ts", "ref_label", "ref_score")
    j = p.join(r, ["conv_id", "turn_idx"], "full_outer")
    payload_bad = (
        F.when(F.col("n_at_ts").isNull(), F.col("label_asof").isNotNull() | F.col("score_asof").isNotNull())
        .when(F.col("n_at_ts") == 1, ~(F.col("label_asof").eqNullSafe(F.col("ref_label"))
                                       & F.col("score_asof").eqNullSafe(F.col("ref_score"))))
        .otherwise(F.lit(False))
    )
    bad = (
        F.col("h").isNull() | F.col("ref_h").isNull() | (F.col("h") != F.col("ref_h"))
        | ~F.col("ann_ts_asof").eqNullSafe(F.col("ref_ann_ts")) | payload_bad
    )
    return j.where(bad).count()


class DeepPipeline(Workload):
    """A dependent chain of projection stages over a small table: c_k =
    c_{k-1} + 1, so the last column is c_0 + STAGES. No window, no
    shuffle: driver-side compile and planning dominate."""

    name = "deep_pipeline"
    n_convs = 1_300
    STAGES = 40

    def shape(self, t: DataFrame) -> DataFrame:
        return t.select("*", F.col("turn_idx").cast("double").alias("c0"))

    def stages(self) -> list:
        return [Sum(input_cols=[f"c{k}"], output_col=f"c{k + 1}", constant=1.0) for k in range(self.STAGES)]

    def run_pass(self) -> bool:
        out = self.compile(self.t)
        obs = Observation()
        wrong = F.count(F.when(F.col(f"c{self.STAGES}") != F.col("c0") + self.STAGES, 1))
        with self.tracer.span("exec"):
            noop(out.observe(obs, F.count(F.lit(1)).alias("rows"), wrong.alias("wrong")))
        got = obs.get
        return got["rows"] == self.turns and got["wrong"] == 0


def write_and_resume(spark, df: DataFrame, path: str, tracer, expect_rows: int, buckets: int) -> bool:
    """Write ``df`` through CheckpointedFeatureWriter into a fresh
    directory, check the read-back against the lineage and the expected
    row count, resume the finished directory, then remove it."""
    writer = CheckpointedFeatureWriter(path, key_cols=("conv_id",), n_buckets=buckets)
    try:
        with tracer.span("io.write") as s:
            first = writer.run(df)
            if s is not None:
                s["buckets_written"] = first["buckets_written"]
                s.update(_dir_stats(writer.data_path))
        read_back = writer.read(spark).count()
        lineage_rows = writer.lineage(spark).agg(F.sum("rows")).first()[0]
        with tracer.span("io.resume") as s:
            second = writer.run(df)
            if s is not None:
                s["buckets_written"] = second["buckets_written"]
        with tracer.span("io.completed_buckets"):
            done = writer.completed_buckets(spark)
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return (
        read_back == lineage_rows == expect_rows
        and first["buckets_written"] == buckets
        and second["buckets_written"] == 0
        and done == set(range(buckets))
    )


def _dir_stats(path: str) -> dict:
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return {"files_written": files, "bytes_written_mb": size / 2**20}


WORKLOADS = {w.name: w for w in (Flagship, DeepPipeline)}
