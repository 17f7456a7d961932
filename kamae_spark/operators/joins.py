"""Point-in-time as-of join — the north-rule centerpiece.

The reference implements NO joins (SURVEY.md §2.9 — verified: no
``.join(`` under src/kamae/spark); this operator is new, designed
Spark-first.

Semantics: for each left row (turn), attach the payload of the latest
right row (annotation) with the same key and ``right.ts <= left.ts``
(ties: annotation wins), null if none — pandas
``merge_asof(direction="backward")`` semantics, leak-proof by
construction.

Whole-record rule: each annotation travels as ONE record,
``struct(right_ts AS __ts, payload...)``, and a turn takes the latest
record whole. A null payload field in the latest annotation stays null;
it is never filled from an older annotation (filling each payload column
separately would pair one annotation's ``label`` with another's
``score``). Annotations with a null key or ts are dropped first: they
match no turn, exactly as in an equi-join / SQL ``ASOF JOIN``. Both
strategies below pick the record; one shared step then applies
``tolerance_seconds`` (a record older than the bound is dropped whole)
and unpacks the payload.

Two physical strategies, selectable per call. Both stay because they
scale in opposite directions: ``union`` shuffles the left side once and
takes any right size; ``broadcast`` never shuffles the left side but
needs the right side to fit in memory.

- ``union`` (default, scales to any right size): tag both sides, union,
  one window pass of ``last(record, ignorenulls=True)`` over (key)
  ordered by (ts, side) with an UNBOUNDED PRECEDING frame, filter back
  to left rows. Cost: ONE shuffle of left+right on the key — no join
  node at all, no row explosion, skew bounded by per-key group size.
  This is the 100 TB path: a sort-merge join + groupwise filter would
  shuffle the same bytes but also materialize match candidates.
- ``broadcast``: the (small) right side is packed to one row per key
  holding a ts-sorted ``array<record>``, broadcast-equi-joined, and the
  latest ``ts <= left.ts`` record picked by a pure array expression.
  GENUINELY zero shuffle of the (huge) left side: no hash partitioning,
  no sort, no row explosion, no window (asserted by
  test_plan_quality.test_broadcast_asof_left_plan_is_exchange_free).
  Use when annotations are a small dimension.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kamae_spark.core.stage import Transformer, keyword_params
from kamae_spark.functions.time import epoch_seconds

UNB = Window.unboundedPreceding
CUR = Window.currentRow


class AsOfJoin(Transformer):
    """As-of join a right DataFrame onto the pipeline's left DataFrame.

    The right side is supplied at construction (DataFrame) or via
    ``right_path`` (parquet path, for serializable pipelines).
    ``payload_cols`` are the right columns to attach (default: all
    non-key, non-ts). The default is resolved once, here, from the right
    side's schema (``right_path`` is read through the active session),
    so ``output_columns`` is exact and a saved spec pins the payload.
    """

    # the pipeline schedules this stage as early as its deps allow: the
    # union-fill exchange then shuffles only pre-existing columns (not
    # later window/projection outputs) and downstream stages keyed on
    # the same columns reuse its hash partitioning (guide §2.3/§2.4)
    schedule_early = True

    @keyword_params
    def __init__(
        self,
        on: Sequence[str] = ("conv_id",),
        left_ts: str = "ts",
        right_ts: str = "ts",
        payload_cols: Sequence[str] | None = None,
        suffix: str = "_asof",
        strategy: str = "union",
        tolerance_seconds: int | None = None,
        right_path: str | None = None,
        right: DataFrame | None = None,
    ):
        if strategy not in ("union", "broadcast"):
            raise ValueError("strategy must be union|broadcast")
        if right is None and not right_path:
            raise ValueError("AsOfJoin needs `right` DataFrame or `right_path`")
        if payload_cols is None:
            cols = self._right_df(SparkSession.active()).columns
            self.payload_cols = [c for c in cols if c not in (*on, right_ts)]

    def params(self):
        p = super().params()
        p.pop("right", None)  # DataFrames are not serializable; keep right_path
        return p

    @property
    def input_columns(self):
        return [*self.on, self.left_ts]

    @property
    def output_columns(self):
        return [f"{c}{self.suffix}" for c in self.payload_cols]

    def _right_df(self, spark: SparkSession) -> DataFrame:
        if self.right is not None:
            return self.right
        return spark.read.parquet(self.right_path)

    def transform(self, df: DataFrame) -> DataFrame:
        right = self._right_df(df.sparkSession).dropna(subset=[*self.on, self.right_ts])
        rec = F.struct(F.col(self.right_ts).alias("__ts"), *self.payload_cols).alias("__rec")
        pick = self._broadcast if self.strategy == "broadcast" else self._union
        picked = pick(df, right, rec)
        latest = F.col("__rec")
        if self.tolerance_seconds is not None:
            age = epoch_seconds(F.col(self.left_ts)) - epoch_seconds(latest["__ts"])
            latest = F.when(age <= int(self.tolerance_seconds), latest)
        # pass-through columns go by name: each wrapped ``Column`` call
        # costs py4j round trips at compile time
        return picked.select(
            *df.columns,
            *[latest[c].alias(o) for c, o in zip(self.payload_cols, self.output_columns)],
        )

    # -- broadcast packed-array path ---------------------------------------
    def _broadcast(self, left: DataFrame, right: DataFrame, rec: Column) -> DataFrame:
        """Zero-shuffle-of-the-left plan: the (small) right side collapses
        to one row per key holding a ts-sorted ``array<record>``, which
        broadcast-equi-joins onto the left; the latest record with
        ``ts <= left.ts`` is then picked by a pure array expression. The
        only exchanges in the plan are the right-side aggregation (small
        by precondition) and the broadcast itself — the huge left side
        is never hash-partitioned, sorted, or row-exploded (a naive range
        join would duplicate each left row per candidate and need a
        window to pick one back).
        """
        r = right.groupBy(*self.on).agg(F.sort_array(F.collect_list(rec)).alias("__ann"))
        joined = left.join(F.broadcast(r), on=list(self.on), how="left")
        lts = F.col(self.left_ts)
        seen = F.filter(F.col("__ann"), lambda s: s["__ts"] <= lts)
        # picked in its own select: the tolerance step and every payload
        # field then read one column instead of re-evaluating the filter
        return joined.select(
            *left.columns,
            F.try_element_at(seen, F.lit(-1)).alias("__rec"),
        )

    # -- union + window fill path (scale default) --------------------------
    def _union(self, left: DataFrame, right: DataFrame, rec: Column) -> DataFrame:
        r_tagged = right.select(
            *self.on, F.col(self.right_ts).alias(self.left_ts), rec, F.lit(0).alias("__side")
        )
        # each side's missing columns (left: __rec, right: the other left
        # columns) come in as typed nulls; a turn's null __rec is skipped
        # by the fill, so only annotations are ever picked
        u = left.select("*", F.lit(1).alias("__side")).unionByName(
            r_tagged, allowMissingColumns=True
        )
        # annotation sorts before the turn at equal ts => tie goes to the annotation
        w = (
            Window.partitionBy(*self.on)
            .orderBy(self.left_ts, "__side")
            .rowsBetween(UNB, CUR)
        )
        filled = u.select(
            *left.columns,
            "__side",
            F.last("__rec", ignorenulls=True).over(w).alias("__rec"),
        )
        return filled.where(F.col("__side") == 1)
