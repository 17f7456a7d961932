"""Windowed / point-in-time operators — the engine's core feature family.

Extends the reference's "listwise" operators (reference:
src/kamae/spark/utils/list_utils.py:59-159, transformers/list_*.py) with
ordered frames for point-in-time-correct features over conversation
transcripts (north rule): lag/lead, rolling row/range aggregates,
conditional role-frequency counts, timestamp-gap sessionization, and
forward-fill (backfill) of sparse annotations.

Scale design:
- every operator here is ONE hash-shuffle on the partition key
  (conv_id); co-windowed stages fused by the pipeline share the same
  Exchange because their WindowSpecs are identical — Spark reuses the
  child exchange for equal partitioning
- frames are ALWAYS `<= current row` for point-in-time ops: temporal
  leakage is impossible by construction (SURVEY.md §7 risk 1); `Lead`
  and unbounded listwise stats exist for training-label use and are
  explicitly not point-in-time
- deterministic ordering: order specs should include a unique
  tie-breaker (e.g. ``["ts", "turn_idx"]``) per SURVEY.md §7 risk 2
- skew: conversations are bounded (≤ ~10^4 turns) so per-key state fits
  an executor; hot keys are not salted, because a window needs all rows
  of its key in one partition
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from kamae_spark.core.stage import Transformer, keyword_params
from kamae_spark.functions.time import epoch_fractional, epoch_seconds

UNB = Window.unboundedPreceding
CUR = Window.currentRow


def order_cols(spec: Sequence[str]) -> list[Column]:
    """['ts', '-score'] -> [asc(ts), desc(score)]."""
    out = []
    for s in spec:
        if s.startswith("-"):
            out.append(F.col(s[1:]).desc())
        else:
            out.append(F.col(s).asc())
    return out


def make_window(
    partition_by: Sequence[str] | str, order_by: Sequence[str] | str | None = None
) -> WindowSpec:
    # accept a bare column name: iterating a str as chars would silently
    # build a window over nonsense single-letter columns
    if isinstance(partition_by, str):
        partition_by = (partition_by,)
    if isinstance(order_by, str):
        order_by = (order_by,)
    w = Window.partitionBy(*[F.col(c) for c in partition_by])
    if order_by:
        w = w.orderBy(*order_cols(order_by))
    return w


_AGGS = {
    "count": F.count,
    "sum": F.sum,
    "mean": F.mean,
    "min": F.min,
    "max": F.max,
    "stddev": F.stddev,  # sample stddev, matching reference ListStdDev (list_std_dev.py:118)
    "first": lambda c: F.first(c, ignorenulls=True),
    "last": lambda c: F.last(c, ignorenulls=True),
    "collect": F.collect_list,
}


def _as_seq(v) -> tuple:
    return (v,) if isinstance(v, str) else tuple(v or ())


class _WindowedStage:
    """Mixin for stages whose built expression is a window function:

    - ``lca_fuse = False``: a window expression may not reference a
      lateral column alias (Spark LATERAL_COLUMN_ALIAS_IN_WINDOW), so
      the fused-select pipeline must flush pending projections these
      stages depend on.
    - ``input_columns`` includes the partition/order keys, so both the
      pipeline toposort and the flush check see the TRUE dependencies
      (a session id produced by an earlier stage and used as a
      partition key is a real edge)."""

    lca_fuse = False

    @property
    def input_columns(self):
        from kamae_spark.core.stage import Stage

        base = Stage.input_columns.fget(self)
        extra = [
            *_as_seq(getattr(self, "partition_by", ())),
            *[c.lstrip("-") for c in _as_seq(getattr(self, "order_by", ()))],
        ]
        return [*base, *extra]


class Lag(_WindowedStage, Transformer):
    """Per-partition lag of any column (text/tool/ts/...) — point-in-time safe.

    North-rule op; reference has no lag (nearest relative: listwise ops).
    """

    @keyword_params
    def __init__(
        self,
        input_col: str,
        output_col: str,
        partition_by: Sequence[str] = ("conv_id",),
        order_by: Sequence[str] = ("turn_idx",),
        offset: int = 1,
        default=None,
    ):
        pass

    def build(self, df):
        w = make_window(self.partition_by, self.order_by)
        return {self.output_col: F.lag(self.input_col, self.offset, self.default).over(w)}


class Lead(_WindowedStage, Transformer):
    """Per-partition lead — NOT point-in-time (label/training use only)."""

    @keyword_params
    def __init__(
        self,
        input_col: str,
        output_col: str,
        partition_by: Sequence[str] = ("conv_id",),
        order_by: Sequence[str] = ("turn_idx",),
        offset: int = 1,
        default=None,
    ):
        pass

    def build(self, df):
        w = make_window(self.partition_by, self.order_by)
        return {self.output_col: F.lead(self.input_col, self.offset, self.default).over(w)}


class RollingAgg(_WindowedStage, Transformer):
    """Rolling aggregate over a trailing row- or time-range frame.

    ``rows=k`` -> frame [current-k+1, current] (last k rows incl. current);
    ``range_seconds=s`` -> frame [ts - s, ts] ordered by a single timestamp
    column cast to epoch seconds. Exactly one of the two must be set; both
    None -> cumulative (unbounded preceding .. current).
    """

    @keyword_params
    def __init__(
        self,
        input_col: str,
        output_col: str,
        agg: str = "count",
        partition_by: Sequence[str] = ("conv_id",),
        order_by: Sequence[str] = ("turn_idx",),
        rows: int | None = None,
        range_seconds: int | None = None,
    ):
        if agg not in _AGGS:
            raise ValueError(f"agg must be one of {sorted(_AGGS)}")
        if rows is not None and range_seconds is not None:
            raise ValueError("set at most one of rows / range_seconds")

    def build(self, df):
        if self.range_seconds is not None:
            if len(self.order_by) != 1:
                raise ValueError("range_seconds requires exactly one order column")
            oc = F.col(self.order_by[0])
            kind = df.schema[self.order_by[0]].dataType.typeName()
            if kind.startswith("timestamp") or kind == "date":
                oc = epoch_seconds(oc)
            else:
                oc = oc.cast("long")
            w = Window.partitionBy(*self.partition_by).orderBy(oc).rangeBetween(
                -int(self.range_seconds), 0
            )
        else:
            w = make_window(self.partition_by, self.order_by)
            lo = UNB if self.rows is None else -(self.rows - 1)
            w = w.rowsBetween(lo, CUR)
        return {self.output_col: _AGGS[self.agg](F.col(self.input_col)).over(w)}


class ConditionalRollingCount(_WindowedStage, Transformer):
    """Rolling count of rows where ``input_col == value`` (role-frequency).

    North-rule "rolling role-frequency aggregate": e.g. how many of the
    last k turns were by role='assistant'.
    """

    @keyword_params
    def __init__(
        self,
        input_col: str,
        output_col: str,
        value,
        partition_by: Sequence[str] = ("conv_id",),
        order_by: Sequence[str] = ("turn_idx",),
        rows: int | None = None,
    ):
        pass

    def build(self, df):
        w = make_window(self.partition_by, self.order_by)
        lo = UNB if self.rows is None else -(self.rows - 1)
        w = w.rowsBetween(lo, CUR)
        flag = F.when(F.col(self.input_col) == F.lit(self.value), 1).otherwise(0)
        return {self.output_col: F.sum(flag).over(w)}


class Backfill(_WindowedStage, Transformer):
    """Forward-fill the latest non-null value at/before the current row.

    Point-in-time-correct by construction (frame ends at current row):
    north-rule "backfill of sparse tool annotations". Equivalent SQL:
    ``LAST_VALUE(x IGNORE NULLS) OVER (PARTITION .. ORDER .. ROWS
    UNBOUNDED PRECEDING)``.
    """

    @keyword_params
    def __init__(
        self,
        input_col: str,
        output_col: str,
        partition_by: Sequence[str] = ("conv_id",),
        order_by: Sequence[str] = ("turn_idx",),
    ):
        pass

    def build(self, df):
        w = make_window(self.partition_by, self.order_by).rowsBetween(UNB, CUR)
        return {self.output_col: F.last(self.input_col, ignorenulls=True).over(w)}


class Sessionize(Transformer):
    """Timestamp-gap sessionization: new session when gap > threshold.

    Produces an integer session index (0-based per partition) and, when
    ``session_id_col`` is set, a string id ``{conv_id}#{idx}``. Two window
    passes (gap flag via lag, then cumulative sum) — Spark forbids nesting
    a window inside a window aggregate, but both passes share one
    partitioning so AQE plans a single Exchange. The lag reads the raw
    timestamp column, so Catalyst merges it into an earlier window batch
    on the same spec.
    """

    @keyword_params
    def __init__(
        self,
        ts_col: str,
        output_col: str,
        gap_seconds: int = 1800,
        partition_by: Sequence[str] = ("conv_id",),
        order_by: Sequence[str] = ("ts", "turn_idx"),
        session_id_col: str | None = None,
    ):
        pass

    @property
    def input_columns(self):
        return [self.ts_col, *self.partition_by, *[c.lstrip("-") for c in self.order_by]]

    @property
    def output_columns(self):
        out = [self.output_col]
        if self.session_id_col:
            out.append(self.session_id_col)
        return out

    def transform(self, df: DataFrame) -> DataFrame:
        w = make_window(self.partition_by, self.order_by)
        # lag the raw column: a window over plain input columns collapses
        # into the preceding window batch on the same spec
        prev = F.lag(self.ts_col).over(w)
        gap = epoch_fractional(F.col(self.ts_col)) - epoch_fractional(prev)
        flag = F.when(gap > F.lit(float(self.gap_seconds)), 1).otherwise(0)
        tmp = f"__gap_flag_{self.output_col}"
        df = df.select("*", flag.alias(tmp))
        idx = F.sum(tmp).over(w.rowsBetween(UNB, CUR)).cast("int")
        out = [idx.alias(self.output_col)]
        df = df.select("*", *out).drop(tmp)
        if self.session_id_col:
            sid = F.concat_ws(
                "#", *[F.col(c).cast("string") for c in self.partition_by],
                F.col(self.output_col).cast("string"),
            )
            df = df.select("*", sid.alias(self.session_id_col))
        return df


class ListAgg(Transformer):
    """Reference "listwise" statistic over a query/conversation group.

    Reference semantics (list_utils.py:112-159): window partitioned by
    ``group_cols`` (+ optional segment col), unbounded frame; optional
    top-N gate — only rows ranked ≤ N by ``sort_by`` contribute; optional
    ``min_filter_value`` — only values ≥ threshold contribute; rows
    outside the gate still RECEIVE the statistic. ``nan_fill`` replaces
    null/NaN results. agg ∈ count/sum/mean/min/max/stddev/median.

    ``median`` is Spark's exact ``median`` (percentile 0.5) window
    aggregate, the reference's midpoint (even n -> mean of the two
    middles): one Window node, no value-ordered rank pass.
    """

    @keyword_params
    def __init__(
        self,
        input_col: str,
        output_col: str,
        agg: str = "mean",
        group_cols: Sequence[str] = ("conv_id",),
        segment_col: str | None = None,
        top_n: int | None = None,
        sort_by: Sequence[str] = (),
        min_filter_value: float | None = None,
        nan_fill: float | None = None,
    ):
        if agg not in (*_AGGS, "median"):
            raise ValueError(f"unsupported listwise agg {agg!r}")

    @property
    def input_columns(self):
        cols = [self.input_col, *self.group_cols]
        if self.segment_col:
            cols.append(self.segment_col)
        cols += [c.lstrip("-") for c in self.sort_by]
        return cols

    def _gated_value(self, df: DataFrame) -> tuple[DataFrame, Column, str | None]:
        value: Column = F.col(self.input_col)
        cond = None
        tmp = None
        if self.min_filter_value is not None:
            cond = value >= F.lit(self.min_filter_value)
        if self.top_n is not None:
            if not self.sort_by:
                raise ValueError("top_n requires sort_by")
            rn = F.row_number().over(
                make_window(self._partition_cols(), self.sort_by)
            )
            tmp = f"__topn_{self.output_col}"
            df = df.select("*", (rn <= self.top_n).alias(tmp))
            c = F.col(tmp)
            cond = c if cond is None else (cond & c)
        if cond is not None:
            value = F.when(cond, value)
        return df, value, tmp

    def _partition_cols(self) -> list[str]:
        cols = list(self.group_cols)
        if self.segment_col:
            cols.append(self.segment_col)
        return cols

    def transform(self, df: DataFrame) -> DataFrame:
        w = Window.partitionBy(*self._partition_cols())
        df, value, tmp = self._gated_value(df)
        # median: Spark's exact percentile(0.5), the reference's midpoint
        # (list_median.py:156-183: even n -> mean of the two middles)
        agg = F.median if self.agg == "median" else _AGGS[self.agg]
        res = agg(value).over(w)
        if self.nan_fill is not None:
            res = F.when(res.isNull() | F.isnan(res.cast("double")), F.lit(self.nan_fill)).otherwise(res)
        df = df.select("*", res.alias(self.output_col))
        return df.drop(tmp) if tmp else df


class ListRank(Transformer):
    """Row number within a group ordered by sort columns (reference:
    transformers/list_rank.py:97-133)."""

    lca_fuse = False  # window expr: no lateral-alias references

    @keyword_params
    def __init__(
        self,
        output_col: str,
        group_cols: Sequence[str] = ("conv_id",),
        sort_by: Sequence[str] = (),
        method: str = "row_number",  # row_number | rank | dense_rank
    ):
        if method not in ("row_number", "rank", "dense_rank"):
            raise ValueError("method must be row_number|rank|dense_rank")

    @property
    def input_columns(self):
        return [*self.group_cols, *[c.lstrip("-") for c in self.sort_by]]

    def build(self, df):
        fn = {"row_number": F.row_number, "rank": F.rank, "dense_rank": F.dense_rank}[
            self.method
        ]
        w = make_window(self.group_cols, self.sort_by)
        return {self.output_col: fn().over(w)}
