"""As-of join vs pandas merge_asof oracle + zero-leakage checks
(FIXTURES.md F8 expectations)."""

from __future__ import annotations

import pandas as pd
import pytest

from kamae_spark.operators.joins import AsOfJoin


def _oracle(tpdf: pd.DataFrame, apdf: pd.DataFrame, tolerance=None) -> pd.DataFrame:
    left = tpdf.sort_values("ts", kind="stable").reset_index(drop=True)
    right = (
        apdf.sort_values("ts", kind="stable").reset_index(drop=True)
        [["conv_id", "ts", "label", "score"]]
    )
    kw = {"tolerance": pd.Timedelta(seconds=tolerance)} if tolerance else {}
    m = pd.merge_asof(
        left, right, on="ts", by="conv_id", direction="backward",
        suffixes=("", "_asof"), **kw,
    )
    return m.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


def _got(df) -> pd.DataFrame:
    return df.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


@pytest.mark.parametrize("strategy", ["union", "broadcast"])
def test_asof_matches_merge_asof(transcripts, transcripts_pdf, annotations, strategy):
    apdf = annotations.toPandas()
    op = AsOfJoin(on=("conv_id",), right=annotations, strategy=strategy)
    got = _got(op.transform(transcripts))
    exp = _oracle(transcripts_pdf, apdf)
    assert got["label_asof"].fillna("∅").tolist() == exp["label"].fillna("∅").tolist()
    pd.testing.assert_series_equal(
        got["score_asof"], exp["score"], check_names=False, atol=1e-9, rtol=0
    )


@pytest.mark.parametrize("strategy", ["union", "broadcast"])
def test_asof_tolerance(transcripts, transcripts_pdf, annotations, strategy):
    apdf = annotations.toPandas()
    op = AsOfJoin(on=("conv_id",), right=annotations, strategy=strategy,
                  tolerance_seconds=3600)
    got = _got(op.transform(transcripts))
    exp = _oracle(transcripts_pdf, apdf, tolerance=3600)
    assert got["label_asof"].fillna("∅").tolist() == exp["label"].fillna("∅").tolist()


def test_asof_zero_leakage(spark, transcripts, annotations):
    """Deleting all annotations with ts > T must not change any feature at
    times <= T (FIXTURES.md F8)."""
    from pyspark.sql import functions as F

    cutoff = annotations.selectExpr("percentile_approx(cast(ts as long), 0.5)").first()[0]
    full = AsOfJoin(on=("conv_id",), right=annotations).transform(transcripts)
    trunc_ann = annotations.where(F.col("ts").cast("long") <= cutoff)
    trunc = AsOfJoin(on=("conv_id",), right=trunc_ann).transform(transcripts)
    cols = ["conv_id", "turn_idx", "label_asof", "score_asof"]
    a = _got(full.where(F.col("ts").cast("long") <= cutoff).select(cols))
    b = _got(trunc.where(F.col("ts").cast("long") <= cutoff).select(cols))
    pd.testing.assert_frame_equal(a, b)


def test_asof_tie_annotation_wins(spark):
    """Annotation at exactly turn.ts must be visible to that turn."""
    t = spark.createDataFrame(
        [("c", 0, "2025-01-01 00:00:00"), ("c", 1, "2025-01-01 00:10:00")],
        "conv_id string, turn_idx int, ts_s string",
    ).selectExpr("conv_id", "turn_idx", "cast(ts_s as timestamp) ts")
    a = spark.createDataFrame(
        [("c", "2025-01-01 00:10:00", "L")], "conv_id string, ts_s string, label string"
    ).selectExpr("conv_id", "cast(ts_s as timestamp) ts", "label")
    for strategy in ("union", "broadcast"):
        got = _got(AsOfJoin(on=("conv_id",), right=a, strategy=strategy).transform(t))
        assert got["label_asof"].tolist() == [None, "L"]


def _ts_frame(spark, rows, ddl):
    """Build a frame from rows whose ``ts`` is an ISO string."""
    return spark.createDataFrame(rows, ddl.replace(" ts ", " ts_s ")).selectExpr(
        "*", "cast(ts_s as timestamp) ts"
    ).drop("ts_s")


@pytest.mark.parametrize("strategy", ["union", "broadcast"])
def test_asof_latest_annotation_is_taken_whole(spark, strategy):
    """A null payload field in the latest annotation stays null: it is
    never filled from an older annotation (merge_asof semantics)."""
    left = _ts_frame(
        spark,
        [("c1", 1, "2025-01-01 00:00:10"), ("c1", 2, "2025-01-01 00:00:30")],
        "conv_id string, turn_idx int, ts string",
    )
    right = _ts_frame(
        spark,
        [("c1", "2025-01-01 00:00:05", "A", 1.0), ("c1", "2025-01-01 00:00:20", None, 2.0)],
        "conv_id string, ts string, label string, score double",
    )
    got = _got(AsOfJoin(on=("conv_id",), right=right, strategy=strategy).transform(left))
    rows = list(zip(got["turn_idx"], got["label_asof"], got["score_asof"]))
    assert rows == [(1, "A", 1.0), (2, None, 2.0)]
    exp = pd.merge_asof(
        left.toPandas().sort_values("ts"), right.toPandas().sort_values("ts"),
        on="ts", by="conv_id", direction="backward",
    )
    assert exp["label"].tolist() == ["A", None]


def test_asof_default_payload_is_declared(spark, transcripts, annotations):
    """With ``payload_cols`` left at its default the outputs are known at
    construction, so an estimator can read a payload column."""
    from kamae_spark.core.pipeline import Pipeline
    from kamae_spark.operators.scalers import StandardScaleEstimator

    op = AsOfJoin(on=("conv_id",), right=annotations)
    assert op.output_columns == ["label_asof", "score_asof"]
    left = transcripts.select("conv_id", "turn_idx", "ts")
    model = Pipeline(
        [op, StandardScaleEstimator(input_col="score_asof", output_col="z")]
    ).fit(left)
    out = model.transform(left)
    assert out.columns == ["conv_id", "turn_idx", "ts", "label_asof", "score_asof", "z"]
    assert out.where("score_asof IS NOT NULL AND z IS NULL").count() == 0


@pytest.mark.parametrize("strategy", ["union", "broadcast"])
def test_asof_null_key_or_ts_annotations_match_nothing(spark, strategy):
    """Annotations with a null key or a null ts are never picked, by
    either strategy (as in a SQL ASOF JOIN)."""
    left = _ts_frame(
        spark,
        [("c1", 1, "2025-01-01 00:00:10"), (None, 2, "2025-01-01 00:00:10")],
        "conv_id string, turn_idx int, ts string",
    )
    right = _ts_frame(
        spark,
        [("c1", None, "A"), (None, "2025-01-01 00:00:05", "B")],
        "conv_id string, ts string, label string",
    )
    got = _got(AsOfJoin(on=("conv_id",), right=right, strategy=strategy).transform(left))
    assert got["label_asof"].tolist() == [None, None]


def test_asof_right_without_join_key_raises(spark, transcripts, annotations):
    from pyspark.errors import AnalysisException

    op = AsOfJoin(on=("conv_id",), right=annotations.drop("conv_id"),
                  payload_cols=("label",))
    with pytest.raises(AnalysisException):
        op.transform(transcripts)
