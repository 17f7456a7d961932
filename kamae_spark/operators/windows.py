"""Windowed / point-in-time operators — the engine's core feature family.

Extends the reference's "listwise" operators (reference:
src/kamae/spark/utils/list_utils.py:59-159, transformers/list_*.py) with
ordered frames for point-in-time-correct features over conversation
transcripts (north rule): lag/lead, rolling row/range aggregates,
conditional role-frequency counts, timestamp-gap sessionization, and
forward-fill (backfill) of sparse annotations.

Every operator is a ``_Windowed`` stage: its partition and order keys
may be one column name or a sequence of names (a bare string is ONE
key, never split into letters), are read in one place, and feed one
window-spec builder.

Scale design:
- every operator here is ONE hash-shuffle on the partition key
  (conv_id); co-windowed stages fused by the pipeline share the same
  Exchange because their WindowSpecs are identical — Spark reuses the
  child exchange for equal partitioning
- frames are ALWAYS `<= current row` for point-in-time ops, and the
  frame params are checked at construction (``offset >= 1``,
  ``rows >= 1``, ``range_seconds >= 0``; a range frame and Sessionize,
  which assume forward time, take no descending key): temporal leakage
  is impossible by construction (SURVEY.md §7 risk 1); `Lead` and
  unbounded listwise stats exist for training-label use and are
  explicitly not point-in-time
- deterministic ordering: order specs should include a unique
  tie-breaker (e.g. ``["ts", "turn_idx"]``) per SURVEY.md §7 risk 2
- skew: conversations are bounded (≤ ~10^4 turns) so per-key state fits
  an executor; hot keys are not salted, because a window needs all rows
  of its key in one partition
"""

from __future__ import annotations

import copy
from typing import Sequence

from pyspark.sql import Column, Window, WindowSpec
from pyspark.sql import functions as F

from kamae_spark.core.stage import Transformer, keyword_params
from kamae_spark.functions.time import epoch_fractional, epoch_seconds

UNB = Window.unboundedPreceding
CUR = Window.currentRow
UNF = Window.unboundedFollowing

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

_RANKS = {"row_number": F.row_number, "rank": F.rank, "dense_rank": F.dense_rank}


def _as_seq(v) -> tuple:
    return (v,) if isinstance(v, str) else tuple(v or ())


class _Windowed(Transformer):
    """Base of every window operator: the keys, the spec and the frame.

    - ``keys`` names the partition and order params; ``_partition()`` and
      ``_order()`` read them, so a bare string is one key everywhere.
    - ``input_columns`` adds the keys (``-`` stripped) to the declared
      inputs, so both the pipeline toposort and the flush check see the
      TRUE dependencies (a session id produced by an earlier stage and
      used as a partition key is a real edge).
    - ``lca_fuse = False``: a window expression may not reference a
      lateral column alias (Spark LATERAL_COLUMN_ALIAS_IN_WINDOW), so
      the fused-select pipeline flushes pending projections first.
    """

    keys = ("partition_by", "order_by")
    lca_fuse = False

    def _partition(self) -> tuple:
        return _as_seq(getattr(self, self.keys[0]))

    def _order(self) -> tuple:
        return _as_seq(getattr(self, self.keys[1]))

    @property
    def input_columns(self):
        return [*super().input_columns, *self._partition(),
                *[c.lstrip("-") for c in self._order()]]

    def window(self, frame: tuple[int, int] | None = None,
               order: tuple | None = None) -> WindowSpec:
        """The spec over the partition keys and ``order`` (default: the
        order keys); ``'-col'`` orders descending. Keys go by name (a
        name orders ascending): each wrapped ``Column`` call costs py4j
        round trips at compile time."""
        order = self._order() if order is None else order
        w = Window.partitionBy(*self._partition())
        if order:
            w = w.orderBy(*[F.col(c[1:]).desc() if c.startswith("-") else c for c in order])
        return w if frame is None else w.rowsBetween(*frame)

    def spec(self) -> tuple | None:
        """``(partition keys, order keys)`` of this stage's window, which
        the pipeline compares to find the windows that share one sort;
        None when the window is ordered by something other than its
        keys."""
        return self._partition(), self._order()


class _Pass(_Windowed):
    """One select of a multi-pass window stage ``of``: ``fn(df)`` builds
    its outputs over ``of``'s partition keys and ``order_by``, or, with
    ``order_by=None``, a projection of the outputs of earlier passes.
    An output that ``of`` reads counts as an input too: the pass then
    replaces it in place, so the passes before it read the original."""

    def __init__(self, of: _Windowed, fn, input_cols, output_cols, order_by: tuple | None):
        ins = [*input_cols, *(c for c in output_cols if c in of.input_columns)]
        super().__init__(input_cols=ins, output_cols=list(output_cols),
                         partition_by=of._partition(), order_by=order_by or ())
        self.of, self._fn = of, fn
        self.lca_fuse = order_by is None

    def build(self, df):
        return self._fn(df)


class Lag(_Windowed):
    """Per-partition lag of any column (text/tool/ts/...) — point-in-time safe.

    North-rule op; reference has no lag (nearest relative: listwise ops).
    ``offset`` must be >= 1: a non-positive lag would read the current
    or a later row.
    """

    _shift = staticmethod(F.lag)

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
        if offset < 1:
            raise ValueError(f"{type(self).__name__} offset must be >= 1, got {offset}")

    def build(self, df):
        return {self.output_col: self._shift(self.input_col, self.offset, self.default)
                .over(self.window())}


class Lead(Lag):
    """Per-partition lead — NOT point-in-time (label/training use only)."""

    _shift = staticmethod(F.lead)


class RollingAgg(_Windowed):
    """Rolling aggregate over a trailing row- or time-range frame.

    ``rows=k`` (k >= 1) -> frame [current-k+1, current] (last k rows incl.
    current); ``range_seconds=s`` (s >= 0) -> frame [ts - s, ts] ordered
    by a single timestamp column cast to epoch seconds. At most one of
    the two may be set; neither -> cumulative (unbounded preceding ..
    current).
    """

    # the frame of subclasses that do not take these params: cumulative
    rows = range_seconds = None

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
        self._check_frame()

    def _check_frame(self) -> None:
        if self.rows is not None and self.range_seconds is not None:
            raise ValueError("set at most one of rows / range_seconds")
        if self.rows is not None and self.rows < 1:
            raise ValueError(f"rows must be >= 1, got {self.rows}")
        if self.range_seconds is not None:
            if self.range_seconds < 0:
                raise ValueError(f"range_seconds must be >= 0, got {self.range_seconds}")
            if len(self._order()) != 1:
                raise ValueError("range_seconds requires exactly one order column")
            if self._order()[0].startswith("-"):
                raise ValueError(
                    f"range_seconds frames look back in time; order_by {self.order_by!r} is descending"
                )

    def spec(self):
        # a range frame orders by the timestamp's epoch seconds, not the key
        return None if self.range_seconds is not None else super().spec()

    def _value(self) -> Column | str:
        return self.input_col

    def build(self, df):
        if self.range_seconds is None:
            w = self.window((UNB if self.rows is None else 1 - self.rows, CUR))
        else:
            (c,) = self._order()
            kind = df.schema[c].dataType.typeName()
            oc = (epoch_seconds(F.col(c)) if kind.startswith("timestamp") or kind == "date"
                  else F.col(c).cast("long"))
            w = Window.partitionBy(*self._partition()).orderBy(oc).rangeBetween(
                -int(self.range_seconds), 0
            )
        return {self.output_col: _AGGS[self.agg](self._value()).over(w)}


class ConditionalRollingCount(RollingAgg):
    """Rolling count of rows where ``input_col == value`` (role-frequency).

    North-rule "rolling role-frequency aggregate": e.g. how many of the
    last k turns were by role='assistant'. A ``RollingAgg`` sum of the
    0/1 match flag.
    """

    agg = "sum"

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
        self._check_frame()

    def _value(self) -> Column:
        return F.when(F.col(self.input_col) == F.lit(self.value), 1).otherwise(0)


class Backfill(RollingAgg):
    """Forward-fill the latest non-null value at/before the current row.

    Point-in-time-correct by construction (frame ends at current row):
    north-rule "backfill of sparse tool annotations". A cumulative
    ``RollingAgg(agg="last")``; equivalent SQL: ``LAST_VALUE(x IGNORE
    NULLS) OVER (PARTITION .. ORDER .. ROWS UNBOUNDED PRECEDING)``.
    """

    agg = "last"

    @keyword_params
    def __init__(
        self,
        input_col: str,
        output_col: str,
        partition_by: Sequence[str] = ("conv_id",),
        order_by: Sequence[str] = ("turn_idx",),
    ):
        pass


class Sessionize(_Windowed):
    """Timestamp-gap sessionization: new session when gap > threshold.

    Produces an integer session index (0-based per partition) and, when
    ``session_id_col`` is set, a string id ``{conv_id}#{idx}``. Two
    window passes, because Spark nests no window inside a window
    aggregate: the gap flag (a lag of the raw timestamp), then the
    running sum of the flag. A third pass, a projection, casts that sum
    to the index and builds the id from it, so the sum is evaluated
    once (a copy of its window expression in the id would be a second
    sum in the same Window node), and the projection collapses into the
    select above the Window node (the sum's column, unlike the cast
    index, is cheap to read twice). The pipeline puts the second pass
    in the Window node of the other windows on the same spec; the flag
    and the sum are temporaries, dropped at the end. The order keys
    must ascend: a descending key makes every gap negative, so every
    row would fall into session 0.
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
        if any(c.startswith("-") for c in self._order()):
            raise ValueError(f"Sessionize needs ascending order keys, got {order_by!r}")

    @property
    def input_columns(self):
        return [self.ts_col, *super().input_columns]

    @property
    def output_columns(self):
        return [self.output_col, *([self.session_id_col] if self.session_id_col else [])]

    def passes(self):
        flag, gaps = f"__gap_flag_{self.output_col}", f"__gaps_{self.output_col}"

        def gap(df):
            prev = F.lag(self.ts_col).over(self.window())
            secs = epoch_fractional(F.col(self.ts_col)) - epoch_fractional(prev)
            return {flag: F.when(secs > F.lit(float(self.gap_seconds)), 1).otherwise(0)}

        def index(df):
            idx = F.col(gaps).cast("int")
            out = {self.output_col: idx}
            if self.session_id_col:
                out[self.session_id_col] = F.concat_ws(
                    "#", *[F.col(c).cast("string") for c in self._partition()], idx.cast("string"),
                )
            return out

        order = self._order()
        return [_Pass(self, gap, [self.ts_col], [flag], order),
                _Pass(self, lambda df: {gaps: F.sum(flag).over(self.window((UNB, CUR)))},
                      [flag], [gaps], order),
                _Pass(self, index, [gaps], self.output_columns, None)]


class ListAgg(_Windowed):
    """Reference "listwise" statistic over a query/conversation group.

    Reference semantics (list_utils.py:112-159): window partitioned by
    ``group_cols`` (+ optional segment col), unbounded frame; optional
    top-N gate — only rows ranked ≤ N by ``sort_by`` (required with
    ``top_n``) contribute; optional ``min_filter_value`` — only values ≥
    threshold contribute; rows outside the gate still RECEIVE the
    statistic. ``nan_fill`` replaces null/NaN results. agg ∈
    count/sum/mean/min/max/stddev/median.

    ``median`` is Spark's exact ``median`` (percentile 0.5) window
    aggregate, the reference's midpoint (even n -> mean of the two
    middles): one Window node, no value-ordered rank pass.

    The statistic's window is unordered. With ``top_n`` the stage runs
    as two passes, the rank gate (a temporary) and then the statistic.
    Without it, a ``count``, ``min`` or ``max`` may be evaluated over an
    ordered window of the same partition with a whole-partition frame
    (``over``), which gives the same value: the pipeline does so to put
    it in the Window node of the ordered windows it is compiled with.
    """

    keys = ("group_cols", "sort_by")
    _over: tuple = ()  # the order ``over`` evaluates the statistic by

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
        if top_n is not None and not self._order():
            raise ValueError("top_n requires sort_by")

    def _partition(self) -> tuple:
        return (*super()._partition(), *_as_seq(self.segment_col))

    def spec(self):
        return self._partition(), self._over

    def over(self, spec: tuple) -> "ListAgg | None":
        """This stage evaluated over the ordered window ``spec``
        (``(partition keys, order keys)``) with a whole-partition ROWS
        frame, or None when that could change its value or is not
        allowed: a ``top_n`` gate, an agg other than ``count``, ``min``
        and ``max`` (an ordered ``median`` is rejected by Spark; a sum
        could round differently), or another partition."""
        partition, order = spec
        if self.top_n is not None or self.agg not in ("count", "min", "max") \
                or partition != self._partition():
            return None
        folded = copy.copy(self)
        folded._over = order
        return folded

    def passes(self):
        if self.top_n is None:
            return [self]
        gate = f"__topn_{self.output_col}"
        return [
            _Pass(self, lambda df: {gate: F.row_number().over(self.window()) <= self.top_n},
                  [], [gate], self._order()),
            _Pass(self, lambda df: self._stat(F.col(gate)), [self.input_col, gate],
                  self.output_columns, ()),
        ]

    def build(self, df):
        return self._stat()

    def _stat(self, gate: Column | None = None) -> dict[str, Column]:
        value: Column = F.col(self.input_col)
        cond = None if self.min_filter_value is None else value >= F.lit(self.min_filter_value)
        if gate is not None:
            cond = gate if cond is None else cond & gate
        if cond is not None:
            value = F.when(cond, value)
        # median: Spark's exact percentile(0.5), the reference's midpoint
        # (list_median.py:156-183: even n -> mean of the two middles)
        agg = F.median if self.agg == "median" else _AGGS[self.agg]
        # the statistic covers the whole group, not a running prefix
        w = self.window((UNB, UNF), self._over) if self._over else self.window(order=())
        res = agg(value).over(w)
        if self.nan_fill is not None:
            res = F.when(res.isNull() | F.isnan(res.cast("double")), F.lit(self.nan_fill)).otherwise(res)
        return {self.output_col: res}


class ListRank(_Windowed):
    """Row number within a group ordered by sort columns (reference:
    transformers/list_rank.py:97-133)."""

    keys = ("group_cols", "sort_by")

    @keyword_params
    def __init__(
        self,
        output_col: str,
        group_cols: Sequence[str] = ("conv_id",),
        sort_by: Sequence[str] = (),
        method: str = "row_number",  # row_number | rank | dense_rank
    ):
        if method not in _RANKS:
            raise ValueError("method must be row_number|rank|dense_rank")

    def build(self, df):
        return {self.output_col: _RANKS[self.method]().over(self.window())}
