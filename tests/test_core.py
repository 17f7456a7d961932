"""Core pipeline machinery: toposort, select fusion, estimator-ancestor
pruning, save/load roundtrip."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from kamae_spark.core.pipeline import Pipeline, PipelineModel, _toposort
from kamae_spark.core.stage import Estimator, Transformer, keyword_params


class AddOne(Transformer):
    @keyword_params
    def __init__(self, input_col: str, output_col: str):
        pass

    def build(self, df):
        return {self.output_col: F.col(self.input_col) + 1}


class MeanShift(Estimator):
    """Toy estimator: fit global mean, transform subtracts it."""

    fit_count = 0

    @keyword_params
    def __init__(self, input_col: str, output_col: str, sample_fraction=None, seed=42):
        pass

    def fit(self, df):
        MeanShift.fit_count += 1
        mean = self._fit_input(df).agg(F.mean(self.input_col)).first()[0]
        return ShiftBy(input_col=self.input_col, output_col=self.output_col, amount=float(mean))


class ShiftBy(Transformer):
    @keyword_params
    def __init__(self, input_col: str, output_col: str, amount: float = 0.0):
        pass

    def build(self, df):
        return {self.output_col: F.col(self.input_col) - F.lit(self.amount)}


def test_toposort_reorders_and_detects_cycle(spark):
    a = AddOne(input_col="x", output_col="a")
    b = AddOne(input_col="a", output_col="b")
    assert [s.output_col for s in _toposort([b, a])] == ["a", "b"]
    import pytest

    c1 = AddOne(input_col="u", output_col="v")
    c2 = AddOne(input_col="v", output_col="u")
    with pytest.raises(ValueError, match="cycle"):
        _toposort([c1, c2])


def test_select_fusion_single_projection(spark):
    df = spark.range(10).select(F.col("id").cast("double").alias("x"))
    model = PipelineModel(
        [
            AddOne(input_col="x", output_col="a"),
            AddOne(input_col="x", output_col="b"),  # independent: same batch
            AddOne(input_col="a", output_col="c"),  # depends on a: new batch
        ]
    )
    out = model.transform(df)
    pdf = out.toPandas()
    assert (pdf["c"] == pdf["x"] + 2).all()
    # plan should contain no more Project nodes than batches (2) + the
    # source df's own cast projection
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Project") <= 3


def test_estimator_ancestor_pruning(spark):
    MeanShift.fit_count = 0
    df = spark.range(100).select(F.col("id").cast("double").alias("x"))
    pipe = Pipeline(
        [
            AddOne(input_col="x", output_col="a"),
            MeanShift(input_col="a", output_col="a_centered"),
            AddOne(input_col="x", output_col="unrelated"),  # NOT an ancestor
        ]
    )
    model = pipe.fit(df)
    out = model.transform(df).toPandas()
    # mean(a) = mean(x)+1 = 50.5 -> centered values are x+1-50.5
    pd.testing.assert_series_equal(
        out["a_centered"], out["x"] + 1 - 50.5, check_names=False
    )
    assert "unrelated" in out.columns
    assert MeanShift.fit_count == 1


def test_pipeline_save_load_roundtrip(spark, tmp_path):
    df = spark.range(10).select(F.col("id").cast("double").alias("x"))
    pipe = Pipeline(
        [AddOne(input_col="x", output_col="a"), MeanShift(input_col="a", output_col="ac")]
    )
    p = str(tmp_path / "pipe.json")
    pipe.save(p)
    pipe2 = Pipeline.load(p)
    model = pipe2.fit(df)
    mp = str(tmp_path / "model.json")
    model.save(mp)
    model2 = PipelineModel.load(mp)
    a = model.transform(df).toPandas()
    b = model2.transform(df).toPandas()
    pd.testing.assert_frame_equal(a, b)


def test_nested_pipeline_flattening(spark):
    inner = Pipeline([AddOne(input_col="x", output_col="a")])
    outer = Pipeline([inner, AddOne(input_col="a", output_col="b")])
    assert len(outer.stages) == 2


def test_transform_output_pruning(spark):
    df = spark.range(5).select(F.col("id").cast("double").alias("x"))
    calls = []

    class Tracking(AddOne):
        def build(self, d):
            calls.append(self.output_col)
            return super().build(d)

    model = PipelineModel(
        [
            Tracking(input_col="x", output_col="a"),
            Tracking(input_col="a", output_col="b"),
            Tracking(input_col="x", output_col="unrelated"),
        ]
    )
    out = model.transform(df, outputs=["b"])
    assert "b" in out.columns and "unrelated" not in out.columns
    assert calls == ["a", "b"]  # unrelated stage never built


def test_pipeline_big_vocab_mid_dag(spark, tmp_path):
    """A big-vocab StringIndexTransformer (build() -> None, per-stage
    transform fallback) sitting BETWEEN fusible expression stages must
    (a) produce the same values as the literal small-vocab path,
    (b) leave the surrounding stages fused (the plan shows the
    broadcast-join lookup, and downstream exprs still compute), and
    (c) survive a fitted-pipeline save/load round trip including
    vocab_join_threshold."""
    from kamae_spark.core.pipeline import Pipeline, PipelineModel
    from kamae_spark.operators.indexers import StringIndexEstimator
    from kamae_spark.operators.math import AbsoluteValue, Sum

    df = spark.createDataFrame(
        [(f"w{i % 7}", float(i), -float(i)) for i in range(40)],
        "s string, a double, b double",
    )
    mk = lambda thr: Pipeline([
        AbsoluteValue(input_col="b", output_col="b_abs"),
        StringIndexEstimator(
            input_col="s", output_col="s_idx",
            string_order_type="alphabeticalAsc",
            vocab_join_threshold=thr,
        ),
        Sum(input_cols=["a", "b_abs"], output_col="a2"),
    ])
    # threshold 3 < 7 labels -> big-vocab join path; 100 -> literal map
    big = mk(3).fit(df)
    lit = mk(100).fit(df)
    out_big = big.transform(df)
    plan = out_big._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    rows_big = sorted(map(tuple, out_big.select("s_idx", "a2", "b_abs").collect()))
    rows_lit = sorted(map(tuple, lit.transform(df).select("s_idx", "a2", "b_abs").collect()))
    assert rows_big == rows_lit

    p = str(tmp_path / "bigvocab_model")
    big.save(p)
    reloaded = PipelineModel.load(p)
    assert reloaded.stages[1].vocab_join_threshold == 3
    rows_re = sorted(map(tuple, reloaded.transform(df).select("s_idx", "a2", "b_abs").collect()))
    assert rows_re == rows_big


def test_pipeline_fit_prunes_around_big_vocab(spark):
    """Estimator-ancestor pruning + the big-vocab transform fallback
    interact: a second estimator DOWNSTREAM of a big-vocab indexer must
    fit on the indexed column's values (i.e. the fallback transform ran
    during fit), and the fitted model must transform correctly."""
    from kamae_spark.core.pipeline import Pipeline
    from kamae_spark.operators.indexers import StringIndexEstimator
    from kamae_spark.operators.scalers import StandardScaleEstimator

    df = spark.createDataFrame(
        [(f"k{i % 5}", float(i)) for i in range(20)],
        "s string, x double",
    )
    model = Pipeline([
        StringIndexEstimator(
            input_col="s", output_col="s_idx",
            string_order_type="alphabeticalAsc", vocab_join_threshold=2,
        ),
        StandardScaleEstimator(input_col="s_idx", output_col="s_z",
                               input_dtype="double"),
    ]).fit(df)
    got = model.transform(df).select("s_z").toPandas()["s_z"]
    import numpy as np

    # s_idx of k0..k4 (alphabetical, offset 1) repeats over 20 rows:
    # mean/std of the indexed values must be what the scaler fitted
    idx = np.array([(i % 5) + 1 for i in range(20)], dtype=float)
    want = (idx - idx.mean()) / idx.std(ddof=0)
    assert np.allclose(sorted(got), sorted(want), atol=1e-9)


def test_500_stage_pipeline_analysis_bounded(spark):
    """SURVEY §7 risk 4 demonstrated at width (VERDICT r4 #8), both axes.

    BREADTH: 500 independent stages fuse into ONE select (a single
    Project) — zero per-stage analysis of the accumulated plan.

    CHAIN: 500 dependent stages (each consumes the previous output —
    the analyzer-hostile shape) compile via lateral-column-alias
    batches of _MAX_LCA_DEPTH. Cost is LINEAR: each stage builds on an
    empty frame of its inputs, and each alias is typed once, on the
    frame it was built on — vs O(n^2) for one select per stage. The
    ceiling below is generous for shared-host noise; the point is the
    scaling shape, which the breadth/chain contrast pins."""
    import time as _t

    from kamae_spark.core.pipeline import PipelineModel
    from kamae_spark.operators.math import Sum

    df = spark.createDataFrame([(float(i),) for i in range(100)], "c0 double")

    # breadth: one fused select
    wide = [Sum(input_cols=["c0"], output_col=f"b{i}", constant=float(i))
            for i in range(500)]
    t0 = _t.perf_counter()
    out_w = PipelineModel(wide).transform(df)
    assert out_w.select("b499").orderBy("c0").first()[0] == 499.0
    wall_w = _t.perf_counter() - t0
    assert wall_w < 90.0, f"500-stage breadth took {wall_w:.1f}s"
    plan = out_w._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Project") <= 2, plan.count("Project")

    # chain: LCA depth-capped batches, linear build cost
    chain = [Sum(input_cols=[f"c{i}"], output_col=f"c{i+1}", constant=1.0)
             for i in range(500)]
    t0 = _t.perf_counter()
    out_c = PipelineModel(chain).transform(df)
    rows = out_c.select("c0", "c500").orderBy("c0").limit(3).collect()
    wall_c = _t.perf_counter() - t0
    assert [r["c500"] for r in rows] == [500.0, 501.0, 502.0]
    assert wall_c < 150.0, f"500-stage chain took {wall_c:.1f}s"


import pytest


def test_pipeline_output_col_overwrites_input_in_place(spark):
    """Reference pipeline semantics (tests/kamae/spark/pipeline/
    test_pipeline.py:581-592, valid_stages_with_uid_set_same_as_input):
    output_col == an existing column replaces it in place (withColumn),
    preserving column position — not a duplicate, not a cycle."""
    from kamae_spark.operators.math import AbsoluteValue, Log

    df = spark.createDataFrame([(1, -2.0)], "col1 int, col2 double")
    out = PipelineModel(
        [AbsoluteValue(input_col="col2", output_col="col2")]
    ).transform(df)
    assert out.columns == ["col1", "col2"]
    assert out.first()["col2"] == 2.0

    # replacement mid-pipeline: the downstream consumer reads the
    # replaced value
    out2 = PipelineModel([
        AbsoluteValue(input_col="col2", output_col="col2"),
        Log(input_col="col2", output_col="lg", alpha=1.0),
    ]).transform(df)
    r = out2.first()
    assert r["col2"] == 2.0
    assert r["lg"] == pytest.approx(1.0986122886681098)


def test_pipeline_same_input_diff_dtypes_keeps_schema(spark):
    """Two stages casting the same input to different dtypes must not
    mutate the source column's schema (reference test_pipeline.py:
    561-579): casts compose into each stage's expression."""
    from kamae_spark.operators.math import AbsoluteValue, Log

    df = spark.createDataFrame([(1, -2.0)], "col1 int, col2 double")
    out = PipelineModel([
        Log(input_col="col1", output_col="l1", alpha=1.0, input_dtype="double"),
        AbsoluteValue(input_col="col1", output_col="a1", input_dtype="float"),
    ]).transform(df)
    assert dict(out.dtypes)["col1"] == "int"
    assert dict(out.dtypes)["a1"] == "float"


def test_pipeline_fit_with_in_place_replacement(spark):
    """Estimators downstream of an in-place replacement fit on the
    replaced values."""
    from kamae_spark.operators.math import AbsoluteValue
    from kamae_spark.operators.scalers import ImputeEstimator

    df = spark.createDataFrame([(-2.0,), (-4.0,)], "col2 double")
    model = Pipeline([
        AbsoluteValue(input_col="col2", output_col="col2"),
        ImputeEstimator(input_col="col2", output_col="imp", strategy="mean"),
    ]).fit(df)
    assert model.stages[1].statistic == pytest.approx(3.0)


def test_inplace_consumer_declared_before_replacer_reads_original(spark):
    """Reference sequential (withColumn) semantics: a stage declared
    BEFORE an in-place replacement of a column it consumes reads the
    PRE-replacement value — the toposort must not silently reorder it
    after the replacer (r6 advice fix)."""
    import math

    from kamae_spark.operators.math import AbsoluteValue, Log

    df = spark.createDataFrame([(-0.5,)], "col2 double")
    out = PipelineModel([
        Log(input_col="col2", output_col="lg", alpha=1.0),
        AbsoluteValue(input_col="col2", output_col="col2"),
    ]).transform(df).first()
    assert out["col2"] == 0.5
    assert out["lg"] == pytest.approx(math.log(0.5))  # NOT log(1.5)


def test_inplace_replacer_consuming_derived_column_is_not_a_cycle(spark):
    """A: x->y then B: (y, x)->x is sequentially valid (B replaces x
    after A read it); the r5 toposort raised a spurious cycle here."""
    import math

    from kamae_spark.operators.math import Log, Sum

    df = spark.createDataFrame([(1.0,)], "x double")
    out = PipelineModel([
        Log(input_col="x", output_col="y", alpha=1.0),
        Sum(input_cols=["y", "x"], output_col="x"),
    ]).transform(df).first()
    assert out["y"] == pytest.approx(math.log(2.0))
    assert out["x"] == pytest.approx(math.log(2.0) + 1.0)


def test_asof_hoisted_early_keeps_canonical_schema_and_values(spark, transcripts, annotations):
    """AsOfJoin declared last is SCHEDULED first (its union shuffle then
    carries only base columns and the window family reuses the
    partitioning) but the output schema must keep the declared order
    and the values must be unchanged."""
    from kamae_spark.operators.joins import AsOfJoin
    from kamae_spark.operators.windows import Lag

    order = ("ts", "turn_idx")
    stages = [
        Lag(input_col="text", output_col="prev_text", order_by=order),
        AsOfJoin(on=("conv_id",), right=annotations, strategy="union"),
    ]
    out = PipelineModel(stages).transform(transcripts)
    # asof outputs come after the lag output, as declared
    cols = out.columns
    assert cols.index("prev_text") < cols.index("label_asof")
    # values identical to the sequential (declared-order) application
    seq = stages[1].transform(stages[0].transform(transcripts))
    a = out.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    b = seq.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b[a.columns])


def test_500_stage_pipeline_with_inplace_replacements_bounded(spark):
    """VERDICT r5 #8: the analyzer-cost bound must hold when half the
    stages are IN-PLACE replacements — replacements fuse into the base
    position of the batched select, so 250 of them stay ceiling-bounded
    instead of regressing to the O(n^2) analyzer wall of 250 sequential
    replacing selects."""
    import time as _t

    from pyspark.sql import functions as F
    from kamae_spark.core.pipeline import PipelineModel
    from kamae_spark.operators.math import Sum

    n = 250
    df = spark.range(3).select(
        F.col("id").cast("double").alias("c0"),
        *[(F.col("id") * 0 + float(i)).alias(f"r{i}") for i in range(n)],
    )
    stages = []
    for i in range(n):
        stages.append(Sum(input_cols=["c0"], output_col=f"b{i}", constant=float(i)))
        stages.append(Sum(input_cols=[f"r{i}"], output_col=f"r{i}", constant=1.0))
    t0 = _t.perf_counter()
    out = PipelineModel(stages).transform(df)
    row = out.orderBy("c0").select("c0", f"b{n-1}", f"r{n-1}", "r0").first()
    wall = _t.perf_counter() - t0
    assert row[f"b{n-1}"] == row["c0"] + float(n - 1)
    assert row[f"r{n-1}"] == float(n - 1) + 1.0
    assert row["r0"] == 1.0
    assert wall < 240.0, f"500-stage in-place pipeline took {wall:.1f}s"


def test_pending_alias_read_with_column_from_non_projection_stage(spark):
    """A stage reading both a pending alias and a column a non-projection
    stage (ListAgg) added earlier: the column's type must come from the
    frame as it is after that stage ran."""
    from kamae_spark.operators.math import Sum
    from kamae_spark.operators.windows import ListAgg

    df = spark.createDataFrame(
        [("c1", 1, 1.0), ("c1", 2, 2.0), ("c2", 1, 5.0)],
        "conv_id string, t int, x double",
    )
    out = PipelineModel([
        ListAgg(input_col="x", output_col="n", agg="count"),
        Sum(input_cols=["x"], output_col="a", constant=1.0),
        Sum(input_cols=["a", "n"], output_col="b"),
    ]).transform(df)
    rows = sorted(map(tuple, out.select("conv_id", "t", "b").collect()))
    assert rows == [("c1", 1, 4.0), ("c1", 2, 5.0), ("c2", 1, 7.0)]


def test_compile_typed_empty_frames_bounded(spark, transcripts, annotations, monkeypatch):
    """Compile fence: typed empty frames made while compiling. Each
    stage reading a pending alias builds on one empty frame of its
    inputs; aliases are typed on the frame they were built on, so a
    dependent chain makes at most one frame per stage, and stages that
    read no pending alias make none."""
    from pyspark.sql import SparkSession

    from kamae_spark.operators.joins import AsOfJoin
    from kamae_spark.operators.math import Sum
    from kamae_spark.operators.windows import (
        Backfill, ConditionalRollingCount, Lag, Lead, ListAgg, RollingAgg,
        Sessionize,
    )

    made = []
    create = SparkSession.createDataFrame

    def counting(self, *args, **kwargs):
        made.append(1)
        return create(self, *args, **kwargs)

    df = spark.createDataFrame([(float(i),) for i in range(10)], "c0 double")
    monkeypatch.setattr(SparkSession, "createDataFrame", counting)

    chain = [Sum(input_cols=[f"c{i}"], output_col=f"c{i + 1}", constant=1.0)
             for i in range(40)]
    PipelineModel(chain).transform(df)
    assert len(made) <= 40, len(made)

    made.clear()
    wide = [Sum(input_cols=["c0"], output_col=f"b{i}", constant=float(i))
            for i in range(500)]
    PipelineModel(wide).transform(df)
    assert made == []

    order = ("ts", "turn_idx")
    flagship = [
        Lag(input_col="text", output_col="prev_text", order_by=order),
        Lead(input_col="text", output_col="next_text", order_by=order),
        Lag(input_col="ts", output_col="prev_ts", order_by=order),
        RollingAgg(input_col="turn_idx", output_col="turns_5", agg="count",
                   rows=5, order_by=order),
        RollingAgg(input_col="turn_idx", output_col="mean_10", agg="mean",
                   rows=10, order_by=order),
        ConditionalRollingCount(input_col="role", output_col="role_freq_10",
                                value="assistant", rows=10, order_by=order),
        Backfill(input_col="tool", output_col="tool_ff", order_by=order),
        Sessionize(ts_col="ts", output_col="session_idx", gap_seconds=1800,
                   order_by=order, session_id_col="session_id"),
        ListAgg(input_col="turn_idx", output_col="conv_len", agg="count"),
        AsOfJoin(on=("conv_id",), right=annotations, strategy="union"),
    ]
    made.clear()
    PipelineModel(flagship).transform(transcripts)
    assert made == []
