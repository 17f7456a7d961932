"""Window-operator golden tests against a pandas groupby oracle
(SURVEY.md §5: parity = allclose(1e-6) vs pandas per-conv_id oracle)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from kamae_spark.core.pipeline import Pipeline, PipelineModel
from kamae_spark.operators.windows import (
    Backfill,
    ConditionalRollingCount,
    Lag,
    Lead,
    ListAgg,
    ListRank,
    RollingAgg,
    Sessionize,
)


def _sorted(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


def test_lag_lead_text(transcripts, transcripts_pdf):
    model = PipelineModel(
        [
            Lag(input_col="text", output_col="prev_text"),
            Lead(input_col="text", output_col="next_text"),
            Lag(input_col="ts", output_col="prev_ts", offset=2),
        ]
    )
    got = _sorted(model.transform(transcripts).toPandas())
    g = transcripts_pdf.groupby("conv_id", sort=False)
    exp_prev = g["text"].shift(1)
    exp_next = g["text"].shift(-1)
    exp_prev_ts = g["ts"].shift(2)
    assert got["prev_text"].fillna("∅").tolist() == exp_prev.fillna("∅").tolist()
    assert got["next_text"].fillna("∅").tolist() == exp_next.fillna("∅").tolist()
    assert got["prev_ts"].fillna(pd.Timestamp(0)).tolist() == exp_prev_ts.fillna(
        pd.Timestamp(0)
    ).tolist()


def test_rolling_count_and_mean(transcripts, transcripts_pdf):
    model = PipelineModel(
        [
            RollingAgg(input_col="turn_idx", output_col="turns_5", agg="count", rows=5),
            RollingAgg(input_col="turn_idx", output_col="cum_turns", agg="count"),
        ]
    )
    got = _sorted(model.transform(transcripts).toPandas())
    g = transcripts_pdf.groupby("conv_id", sort=False)
    exp5 = g["turn_idx"].rolling(5, min_periods=1).count().reset_index(drop=True)
    expc = g.cumcount() + 1
    np.testing.assert_array_equal(got["turns_5"].to_numpy(), exp5.to_numpy())
    np.testing.assert_array_equal(got["cum_turns"].to_numpy(), expc.to_numpy())


def test_rolling_range_seconds(transcripts, transcripts_pdf):
    model = PipelineModel(
        [RollingAgg(input_col="turn_idx", output_col="turns_10m", agg="count",
                    order_by=("ts",), range_seconds=600)]
    )
    got = _sorted(model.transform(transcripts).toPandas())
    exp = []
    for _, grp in transcripts_pdf.groupby("conv_id", sort=False):
        t = grp["ts"].astype("int64") // 10**9
        for v in t:
            exp.append(int(((t >= v - 600) & (t <= v)).sum()))
    np.testing.assert_array_equal(got["turns_10m"].to_numpy(), np.array(exp))


def test_role_frequency(transcripts, transcripts_pdf):
    model = PipelineModel(
        [ConditionalRollingCount(input_col="role", output_col="asst_5",
                                 value="assistant", rows=5)]
    )
    got = _sorted(model.transform(transcripts).toPandas())
    flag = (transcripts_pdf["role"] == "assistant").astype(float)
    exp = (
        flag.groupby(transcripts_pdf["conv_id"], sort=False)
        .rolling(5, min_periods=1)
        .sum()
        .reset_index(drop=True)
    )
    np.testing.assert_array_equal(got["asst_5"].to_numpy(), exp.to_numpy())


def test_backfill_tool(transcripts, transcripts_pdf):
    model = PipelineModel([Backfill(input_col="tool", output_col="tool_ff")])
    got = _sorted(model.transform(transcripts).toPandas())
    exp = transcripts_pdf.groupby("conv_id", sort=False)["tool"].ffill()
    assert got["tool_ff"].fillna("∅").tolist() == exp.fillna("∅").tolist()


def _session_oracle(pdf: pd.DataFrame, gap: int) -> pd.Series:
    out = []
    for _, grp in pdf.groupby("conv_id", sort=False):
        t = grp.sort_values(["ts", "turn_idx"])["ts"].astype("int64") / 1e9
        d = t.diff().fillna(0.0)
        out.append((d > gap).cumsum())
    return pd.concat(out).sort_index()


def test_sessionize(transcripts, transcripts_pdf):
    model = PipelineModel(
        [Sessionize(ts_col="ts", output_col="session_idx", gap_seconds=1800,
                    session_id_col="session_id")]
    )
    got = _sorted(model.transform(transcripts).toPandas())
    exp = _session_oracle(transcripts_pdf, 1800)
    np.testing.assert_array_equal(got["session_idx"].to_numpy(), exp.to_numpy())
    # multiple sessions must exist for the fixture to be meaningful
    assert got["session_idx"].max() >= 2
    sid = got["conv_id"] + "#" + got["session_idx"].astype(str)
    assert got["session_id"].tolist() == sid.tolist()


def test_listwise_stats_against_pandas(listwise):
    model = PipelineModel(
        [
            ListAgg(input_col="col2", output_col="q_max", agg="max", group_cols=("query_id",)),
            ListAgg(input_col="col2", output_col="q_mean", agg="mean", group_cols=("query_id",)),
            ListAgg(input_col="col2", output_col="q_median", agg="median", group_cols=("query_id",)),
            ListAgg(input_col="col2", output_col="q_std", agg="stddev", group_cols=("query_id",)),
            ListAgg(input_col="col2", output_col="seg_min", agg="min",
                    group_cols=("query_id",), segment_col="col4"),
            ListRank(output_col="q_rank", group_cols=("query_id",), sort_by=("-col2",)),
        ]
    )
    got = model.transform(listwise).toPandas().sort_values(["query_id", "col3"])
    pdf = listwise.toPandas().sort_values(["query_id", "col3"])
    for name, fn in [("q_max", "max"), ("q_mean", "mean"), ("q_median", "median"), ("q_std", "std")]:
        exp = pdf.groupby("query_id")["col2"].transform(fn)
        np.testing.assert_allclose(got[name].to_numpy(), exp.to_numpy(), atol=1e-6)
    exp_seg = pdf.groupby(["query_id", "col4"])["col2"].transform("min")
    np.testing.assert_allclose(got["seg_min"].to_numpy(), exp_seg.to_numpy())
    exp_rank = pdf.groupby("query_id")["col2"].rank(ascending=False, method="first")
    np.testing.assert_array_equal(got["q_rank"].to_numpy(), exp_rank.to_numpy().astype(int))


def test_listwise_topn_and_min_filter(listwise):
    # top-2 by col3 ascending contribute; everyone receives the stat
    model = PipelineModel(
        [ListAgg(input_col="col2", output_col="top2_mean", agg="mean",
                 group_cols=("query_id",), top_n=2, sort_by=("col3",), nan_fill=-9.0)]
    )
    got = model.transform(listwise).toPandas().sort_values(["query_id", "col3"])
    pdf = listwise.toPandas().sort_values(["query_id", "col3"])
    exp = pdf.groupby("query_id").apply(
        lambda g: pd.Series(g.nsmallest(2, "col3")["col2"].mean(), index=g.index),
        include_groups=False,
    ).reset_index(level=0, drop=True)
    np.testing.assert_allclose(got["top2_mean"].to_numpy(), exp.to_numpy(), atol=1e-6)

    model2 = PipelineModel(
        [ListAgg(input_col="col2", output_col="hi_mean", agg="mean",
                 group_cols=("query_id",), min_filter_value=5.0)]
    )
    got2 = model2.transform(listwise).toPandas().sort_values(["query_id", "col3"])
    exp2 = pdf.assign(v=pdf["col2"].where(pdf["col2"] >= 5.0)).groupby("query_id")["v"].transform("mean")
    np.testing.assert_allclose(got2["hi_mean"].to_numpy(), exp2.to_numpy(), atol=1e-6)


def test_temporal_leakage_invariance(spark, transcripts):
    """Point-in-time features at ts<=T must be invariant to deleting rows
    with ts>T (SURVEY.md §5 leakage test)."""
    from pyspark.sql import functions as F

    model = PipelineModel(
        [
            Lag(input_col="text", output_col="prev_text"),
            RollingAgg(input_col="turn_idx", output_col="turns_5", agg="count", rows=5),
            Backfill(input_col="tool", output_col="tool_ff"),
            Sessionize(ts_col="ts", output_col="session_idx"),
        ]
    )
    cutoff = transcripts.selectExpr("percentile_approx(cast(ts as long), 0.5)").first()[0]
    full = model.transform(transcripts).where(F.col("ts").cast("long") <= cutoff)
    trunc = model.transform(transcripts.where(F.col("ts").cast("long") <= cutoff))
    cols = ["conv_id", "turn_idx", "prev_text", "turns_5", "tool_ff", "session_idx"]
    a = full.select(cols).toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    b = trunc.select(cols).toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


@pytest.mark.parametrize(
    "make",
    [
        pytest.param(lambda: Lag(input_col="x", output_col="y", offset=-1), id="lag_offset_-1"),
        pytest.param(lambda: Lag(input_col="x", output_col="y", offset=0), id="lag_offset_0"),
        pytest.param(lambda: Lead(input_col="x", output_col="y", offset=0), id="lead_offset_0"),
        pytest.param(lambda: RollingAgg(input_col="x", output_col="y", rows=0), id="rolling_rows_0"),
        pytest.param(
            lambda: ConditionalRollingCount(input_col="x", output_col="y", value="a", rows=0),
            id="conditional_rows_0",
        ),
        pytest.param(
            lambda: RollingAgg(input_col="x", output_col="y", order_by=("ts",), range_seconds=-3600),
            id="rolling_range_-3600",
        ),
        pytest.param(lambda: ListAgg(input_col="x", output_col="y", top_n=2), id="listagg_top_n_no_sort_by"),
        pytest.param(
            lambda: RollingAgg(input_col="x", output_col="y", order_by=("-ts",), range_seconds=10),
            id="rolling_range_descending",
        ),
        pytest.param(lambda: Sessionize(ts_col="ts", output_col="s", order_by=("-ts",)),
                     id="sessionize_descending"),
    ],
)
def test_point_in_time_frames_checked_at_construction(make):
    """A frame that would read the current-or-later row, or no row at
    all, or that assumes forward time over a descending key (a range
    frame, the session gaps), is refused when the stage is built, not
    silently turned into leaked, all-null or all-zero values, or a
    missing-key error, at transform."""
    with pytest.raises(ValueError):
        make()


@pytest.mark.parametrize(
    "cls, kw, key, name",
    [
        (RollingAgg, dict(input_col="turn_idx", output_col="n_1h", order_by=("ts",),
                          range_seconds=3600), "partition_by", "conv_id"),
        (RollingAgg, dict(input_col="turn_idx", output_col="n_1h", range_seconds=3600),
         "order_by", "ts"),
        (Sessionize, dict(ts_col="ts", output_col="s", session_id_col="sid"),
         "partition_by", "conv_id"),
        (ListAgg, dict(input_col="turn_idx", output_col="m"), "group_cols", "conv_id"),
    ],
    ids=["rolling_range_partition", "rolling_range_order", "sessionize_partition", "listagg_group"],
)
def test_bare_string_key_is_one_key(transcripts, cls, kw, key, name):
    """A bare column name is one key, the same as a one-element tuple,
    never a sequence of single-letter columns."""
    bare, one = cls(**kw, **{key: name}), cls(**kw, **{key: (name,)})
    assert not [c for c in bare.input_columns if len(c) == 1]
    assert bare.input_columns == one.input_columns

    def rows(stage):
        out = stage.transform(transcripts)
        cols = ["conv_id", "turn_idx", *stage.output_columns]
        return out.select(cols).orderBy("conv_id", "turn_idx").collect()

    assert rows(bare) == rows(one)


def test_listagg_and_sessionize_outputs_replace_existing_columns_in_place(listwise, transcripts):
    """An output named like an existing column replaces it in place, as
    a ``build`` stage's output does: the frame keeps one column of that
    name at its position, holding the new value, and no temporary is
    left behind."""
    cols = listwise.columns
    for stage in (ListAgg(input_col="col2", output_col="col2", agg="sum", group_cols=("query_id",)),
                  ListAgg(input_col="col2", output_col="col2", agg="sum", group_cols=("query_id",),
                          top_n=2, sort_by=("col3",))):
        out = PipelineModel([stage]).transform(listwise)
        assert out.columns == cols
        got = out.toPandas().sort_values(["query_id", "col3"])
        pdf = listwise.toPandas().sort_values(["query_id", "col3"])
        if stage.top_n is not None:
            pdf = pdf.assign(col2=pdf["col2"].where(pdf.groupby("query_id")["col3"].rank() <= 2))
        exp = pdf.groupby("query_id")["col2"].transform("sum")
        np.testing.assert_allclose(got["col2"].to_numpy(), exp.to_numpy())

    # tool and role exist already: the session index and id replace them
    sess = Sessionize(ts_col="ts", output_col="tool", gap_seconds=1800, session_id_col="role")
    out = sess.transform(transcripts)
    assert out.columns == transcripts.columns
    ref = Sessionize(ts_col="ts", output_col="session_idx", gap_seconds=1800,
                     session_id_col="session_id").transform(transcripts)
    key = ["conv_id", "turn_idx"]
    assert (out.select(*key, "tool", "role").orderBy(*key).collect()
            == ref.select(*key, "session_idx", "session_id").orderBy(*key).collect())


def test_pass_replacing_a_column_its_stage_reads_runs_after_the_readers(
        listwise, transcripts, row_hashes):
    """A pass may write a column that an earlier pass of its stage
    reads: a session index over an order key, a top-n statistic over its
    sort key. In a pipeline, as in the stage's own ``transform``, the
    earlier passes and a stage declared before read the original
    column; the Lag still plans in the Window node of the running sum."""
    order = ("ts", "turn_idx")
    cases = [(transcripts, [Lag(input_col="turn_idx", output_col="prev_turn", order_by=order),
                            Sessionize(ts_col="ts", output_col="turn_idx", order_by=order,
                                       session_id_col="sid")]),
             (listwise, [ListAgg(input_col="col2", output_col="col3", agg="sum",
                                 group_cols=("query_id",), top_n=2, sort_by=("col3",))])]
    for df, stages in cases:
        compiled = PipelineModel(stages).transform(df)
        applied = df
        for s in stages:
            applied = s.transform(applied)
        assert compiled.columns == applied.columns
        assert row_hashes(compiled) == row_hashes(applied)
    plan = PipelineModel(cases[0][1]).transform(transcripts)._jdf.queryExecution().executedPlan()
    plan = plan.toString()
    assert plan[:plan.find("InMemoryTableScan")].count("Window [") == 2, plan
