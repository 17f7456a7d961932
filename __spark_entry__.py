"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash).

The engine's domain is feature engineering over conversation transcripts
(BASELINE.json input_hint). The testdata has no transcript table, so a
transcript view is DERIVED deterministically from ``events``
(conv_id=user_id, turn ordering by ts+event_id, role=event_type,
text=props, sparse tool from value thresholds) — the same derivation is
expressed in ANSI SQL inside every oracle, so Spark engine operators and
DuckDB compute over identical rows.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

GAP_SECONDS = 4 * 3600  # sessionization gap for the events-derived transcripts


# ---------------------------------------------------------------------------
# shared derivation: events -> transcripts / annotations
# ---------------------------------------------------------------------------

def _transcripts(
    spark: SparkSession, sf_dir: str, keep_keys: bool = False
) -> DataFrame:
    """events -> transcripts. ``keep_keys=True`` additionally exposes the
    raw (user_id, event_id) columns so downstream window operators can
    partition by ``user_id`` and order by ``(ts, event_id)`` — provably
    the same groups/order as (conv_id, ts, turn_idx), since conv_id is an
    injective cast of user_id and turn_idx is BY DEFINITION the rank of
    (ts, event_id) — letting Spark reuse this derivation's Exchange AND
    Sort instead of re-shuffling on the derived string key (r6 guide
    §2.4: co-keyed windows share one exchange)."""
    from kamae_spark.operators.windows import ListRank

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # keep_keys=False consumers window on the conv_id STRING (operator
    # defaults), so rank over the pre-cast string there: the derivation
    # then leaves hash(conv_id) partitioning behind and those windows
    # reuse it instead of re-shuffling (identical groups either way —
    # the cast is injective)
    key = "user_id" if keep_keys else "conv_id"
    if not keep_keys:
        ev = ev.withColumn("conv_id", F.col("user_id").cast("string"))
    rank = ListRank(
        output_col="__rn", group_cols=(key,), sort_by=("ts", "event_id")
    )
    t = rank.transform(ev)
    extra = ["user_id", "event_id"] if keep_keys else []
    # forward the ATTRIBUTE (not a fresh equal expression) when it
    # exists, so alias-aware output partitioning carries hash(conv_id)
    # through this projection to downstream windows
    conv = (
        F.col("user_id").cast("string").alias("conv_id")
        if keep_keys else F.col("conv_id")
    )
    return t.select(
        conv,
        (F.col("__rn") - 1).cast("int").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.col("props").alias("text"),
        F.when(F.col("value") >= 150.0, F.lit("search"))
        .when(F.col("value") <= 25.0, F.lit("code"))
        .alias("tool"),
        F.col("ts"),
        F.col("value"),
        *extra,
    )


# window spec over keep_keys transcripts that REUSES the derivation's
# exchange + sort (identical partition/order semantics, see _transcripts)
_TKEY = {"partition_by": ("user_id",), "order_by": ("ts", "event_id")}


# the same derivation in ANSI SQL (DuckDB oracle side)
_T_SQL = """
SELECT cast(user_id AS varchar) AS conv_id,
       cast(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS int) AS turn_idx,
       event_type AS role,
       props AS text,
       CASE WHEN value >= 150.0 THEN 'search'
            WHEN value <= 25.0 THEN 'code' END AS tool,
       ts,
       value
FROM events
"""

_ANN_SQL = """
SELECT cast(user_id AS varchar) AS conv_id, ts,
       event_type AS label, value AS score
FROM events WHERE event_type = 'purchase'
"""


def _annotations(
    spark: SparkSession, sf_dir: str, keep_keys: bool = False
) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    extra = ["user_id"] if keep_keys else []
    return ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").cast("string").alias("conv_id"),
        "ts",
        F.col("event_type").alias("label"),
        F.col("value").alias("score"),
        *extra,
    )


# ---------------------------------------------------------------------------
# queries (engine operators) + oracles (ANSI SQL)
# ---------------------------------------------------------------------------

def _q_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kamae_spark.core.pipeline import PipelineModel
    from kamae_spark.operators.windows import Lag, Lead

    model = PipelineModel(
        [
            Lag(input_col="text", output_col="prev_text", **_TKEY),
            Lead(input_col="text", output_col="next_text", **_TKEY),
            Lag(input_col="role", output_col="prev_role", offset=2, **_TKEY),
        ]
    )
    t = _transcripts(spark, sf_dir, keep_keys=True)
    return model.transform(t).select(
        "conv_id", "turn_idx", "prev_text", "next_text", "prev_role"
    )


_LAG_LEAD_SQL = f"""
WITH t AS ({_T_SQL})
SELECT conv_id, turn_idx,
       lag(text) OVER w AS prev_text,
       lead(text) OVER w AS next_text,
       lag(role, 2) OVER w AS prev_role
FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
"""


def _q_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kamae_spark.core.pipeline import PipelineModel
    from kamae_spark.operators.windows import ConditionalRollingCount, RollingAgg

    model = PipelineModel(
        [
            RollingAgg(input_col="value", output_col="turns_5", agg="count", rows=5, **_TKEY),
            RollingAgg(input_col="value", output_col="sum_value_5", agg="sum", rows=5, **_TKEY),
            RollingAgg(input_col="value", output_col="__cum_sum", agg="sum", **_TKEY),
            RollingAgg(input_col="value", output_col="__cum_n", agg="count", **_TKEY),
            ConditionalRollingCount(
                input_col="role", output_col="clicks_10", value="click", rows=10, **_TKEY
            ),
        ]
    )
    t = _transcripts(spark, sf_dir, keep_keys=True)
    out = model.transform(t)
    # hash-exact cross-engine floats: round SUMS (2-decimal-grid inputs make
    # that safe) and derive the mean by identical IEEE division on both
    # sides; never round raw means (boundary flips, see tests history)
    return out.select(
        "conv_id",
        "turn_idx",
        "turns_5",
        F.round("sum_value_5", 4).alias("sum_value_5"),
        (F.round("__cum_sum", 4) / F.col("__cum_n")).alias("cum_mean_value"),
        "clicks_10",
    )


_ROLLING_SQL = f"""
WITH t AS ({_T_SQL})
SELECT conv_id, turn_idx,
       count(value) OVER w5 AS turns_5,
       round(sum(value) OVER w5, 4) AS sum_value_5,
       round(sum(value) OVER wc, 4) / count(value) OVER wc AS cum_mean_value,
       cast(sum(CASE WHEN role = 'click' THEN 1 ELSE 0 END) OVER w10 AS bigint) AS clicks_10
FROM t WINDOW
  w5 AS (PARTITION BY conv_id ORDER BY turn_idx ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
  w10 AS (PARTITION BY conv_id ORDER BY turn_idx ROWS BETWEEN 9 PRECEDING AND CURRENT ROW),
  wc AS (PARTITION BY conv_id ORDER BY turn_idx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def _q_rolling_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kamae_spark.operators.windows import RollingAgg

    op = RollingAgg(
        input_col="value",
        output_col="events_24h",
        agg="count",
        partition_by=("user_id",),
        order_by=("ts",),
        range_seconds=86400,
    )
    t = _transcripts(spark, sf_dir, keep_keys=True)
    return op.transform(t).select("conv_id", "turn_idx", "events_24h")


_ROLLING_RANGE_SQL = f"""
WITH t AS ({_T_SQL})
SELECT conv_id, turn_idx,
       count(value) OVER (PARTITION BY conv_id ORDER BY cast(floor(epoch(ts)) AS bigint)
                          RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW) AS events_24h
FROM t
"""


def _q_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kamae_spark.operators.windows import Backfill

    op = Backfill(input_col="tool", output_col="tool_ff", **_TKEY)
    t = _transcripts(spark, sf_dir, keep_keys=True)
    return op.transform(t).select("conv_id", "turn_idx", "tool", "tool_ff")


_BACKFILL_SQL = f"""
WITH t AS ({_T_SQL})
SELECT conv_id, turn_idx, tool,
       last_value(tool IGNORE NULLS) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tool_ff
FROM t
"""


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kamae_spark.operators.windows import Sessionize

    op = Sessionize(
        ts_col="ts",
        output_col="session_idx",
        gap_seconds=GAP_SECONDS,
        session_id_col="session_id",
        **_TKEY,
    )
    t = _transcripts(spark, sf_dir, keep_keys=True)
    return op.transform(t).select("conv_id", "turn_idx", "session_idx", "session_id")


_SESSIONIZE_SQL = f"""
WITH t AS ({_T_SQL}),
g AS (
  SELECT conv_id, turn_idx, ts,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx))
                   > {GAP_SECONDS} THEN 1 ELSE 0 END AS flag
  FROM t
)
SELECT conv_id, turn_idx,
       cast(sum(flag) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS int) AS session_idx,
       conv_id || '#' || cast(cast(sum(flag) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS int) AS varchar) AS session_id
FROM g
"""


def _q_list_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kamae_spark.core.pipeline import PipelineModel
    from kamae_spark.operators.windows import ListAgg, ListRank

    t = _transcripts(spark, sf_dir, keep_keys=True).withColumn(
        "value_sq", F.col("value") * F.col("value")
    )
    g = ("user_id",)
    model = PipelineModel(
        [
            ListAgg(input_col="value", output_col="v_max", agg="max", group_cols=g),
            ListAgg(input_col="value", output_col="v_median", agg="median", group_cols=g),
            ListAgg(input_col="value", output_col="__s", agg="sum", group_cols=g),
            ListAgg(input_col="value_sq", output_col="__ssq", agg="sum", group_cols=g),
            ListAgg(input_col="value", output_col="__n", agg="count", group_cols=g),
            ListRank(output_col="v_rank", group_cols=g, sort_by=("-value", "turn_idx")),
        ]
    )
    out = model.transform(t)
    # bit-identical cross-engine stats: mean & stddev derived from rounded
    # sums (inputs are 2-decimal -> sums/ssq on a coarse grid, rounding safe);
    # max/median are copies/midpoints and stay unrounded
    s, ssq, n = F.round("__s", 4), F.round("__ssq", 4), F.col("__n")
    v_mean = s / n
    v_std = F.when(n > 1, F.sqrt((ssq - s * s / n) / (n - 1)))
    return out.select(
        "conv_id",
        "turn_idx",
        "v_max",
        v_mean.alias("v_mean"),
        "v_median",
        v_std.alias("v_std"),
        "v_rank",
    )


_LIST_STATS_SQL = f"""
WITH t AS ({_T_SQL}),
w AS (
  SELECT conv_id, turn_idx, value,
         max(value) OVER win AS v_max,
         median(value) OVER win AS v_median,
         round(sum(value) OVER win, 4) AS s,
         round(sum(value * value) OVER win, 4) AS ssq,
         count(value) OVER win AS n,
         cast(row_number() OVER (PARTITION BY conv_id ORDER BY value DESC, turn_idx) AS int) AS v_rank
  FROM t WINDOW win AS (PARTITION BY conv_id)
)
SELECT conv_id, turn_idx, v_max,
       s / n AS v_mean,
       v_median,
       CASE WHEN n > 1 THEN sqrt((ssq - s * s / n) / (n - 1)) END AS v_std,
       v_rank
FROM w
"""


def _q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kamae_spark.operators.joins import AsOfJoin

    # join on the raw long key (same groups as conv_id, its injective
    # cast): the union-fill window hashes/sorts 8-byte longs, not strings
    t = _transcripts(spark, sf_dir, keep_keys=True)
    ann = _annotations(spark, sf_dir, keep_keys=True)
    op = AsOfJoin(
        on=("user_id",), right=ann, strategy="union",
        payload_cols=("label", "score"),
    )
    return op.transform(t).select("conv_id", "turn_idx", "label_asof", "score_asof")


_ASOF_SQL = f"""
WITH t AS ({_T_SQL}), a AS ({_ANN_SQL})
SELECT t.conv_id, t.turn_idx, a.label AS label_asof, a.score AS score_asof
FROM t ASOF LEFT JOIN a ON t.conv_id = a.conv_id AND t.ts >= a.ts
"""


def _q_asof_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kamae_spark.operators.joins import AsOfJoin

    t = _transcripts(spark, sf_dir)
    ann = _annotations(spark, sf_dir)
    op = AsOfJoin(
        on=("conv_id",), right=ann, strategy="broadcast", tolerance_seconds=7 * 86400
    )
    return op.transform(t).select("conv_id", "turn_idx", "label_asof", "score_asof")


_ASOF_BROADCAST_SQL = f"""
WITH t AS ({_T_SQL}), a AS ({_ANN_SQL})
SELECT t.conv_id, t.turn_idx,
       CASE WHEN epoch(t.ts) - epoch(a.ts) <= {7 * 86400} THEN a.label END AS label_asof,
       CASE WHEN epoch(t.ts) - epoch(a.ts) <= {7 * 86400} THEN a.score END AS score_asof
FROM t ASOF LEFT JOIN a ON t.conv_id = a.conv_id AND t.ts >= a.ts
"""


def _q_list_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Listwise stat with the reference's top-N gate + segment grouping
    (list_utils.py:97-99 semantics): only the 3 earliest turns per
    (conv, role) contribute; every row receives the stat."""
    from kamae_spark.operators.windows import ListAgg

    op = ListAgg(
        input_col="value", output_col="top3_max", agg="max",
        group_cols=("user_id",), segment_col="role",
        top_n=3, sort_by=("turn_idx",), nan_fill=-1.0,
    )
    t = _transcripts(spark, sf_dir, keep_keys=True)
    return op.transform(t).select("conv_id", "turn_idx", "role", "top3_max")


_LIST_TOPN_SQL = f"""
WITH t AS ({_T_SQL}),
g AS (
  SELECT conv_id, turn_idx, role, value,
         row_number() OVER (PARTITION BY conv_id, role ORDER BY turn_idx) AS rn
  FROM t
)
SELECT conv_id, turn_idx, role,
       coalesce(max(CASE WHEN rn <= 3 THEN value END)
                  OVER (PARTITION BY conv_id, role), -1.0) AS top3_max
FROM g
"""


# ---------------------------------------------------------------------------
# row-wise transformer queries (lineitem / orders)
# ---------------------------------------------------------------------------

def _q_rowwise_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kamae_spark.core.pipeline import PipelineModel
    from kamae_spark.operators.math import AbsoluteValue, Log, Multiply, Subtract, Sum

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    model = PipelineModel(
        [
            Log(input_col="l_extendedprice", output_col="log_price", alpha=1.0),
            Sum(input_cols=["l_discount", "l_tax"], output_col="disc_plus_tax"),
            Subtract(input_cols=["l_discount"], output_col="disc_m05", constant=0.05),
            AbsoluteValue(input_col="disc_m05", output_col="abs_disc_m05"),
            Multiply(input_cols=["l_extendedprice"], output_col="neg_price", constant=-1.0),
        ]
    )
    out = model.transform(li)
    return out.select(
        "l_orderkey", "l_linenumber",
        F.round("log_price", 6).alias("log_price"),
        F.round("disc_plus_tax", 6).alias("disc_plus_tax"),
        F.round("abs_disc_m05", 6).alias("abs_disc_m05"),
        F.round("neg_price", 6).alias("neg_price"),
    )


_ROWWISE_MATH_SQL = """
SELECT l_orderkey, l_linenumber,
       round(ln(1.0 + l_extendedprice), 6) AS log_price,
       round(l_discount + l_tax, 6) AS disc_plus_tax,
       round(abs(l_discount - 0.05), 6) AS abs_disc_m05,
       round(l_extendedprice * -1.0, 6) AS neg_price
FROM lineitem
"""


def _q_rowwise_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kamae_spark.core.pipeline import PipelineModel
    from kamae_spark.operators.conditional import Bin, StringMap
    from kamae_spark.operators.strings import (
        StringAffix,
        StringCase,
        StringConcatenate,
        StringContains,
        SubStringDelimAtIndex,
    )

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    model = PipelineModel(
        [
            StringCase(input_col="o_orderpriority", output_col="prio_up", case="upper"),
            StringAffix(input_col="o_orderstatus", output_col="status_tag", prefix="st_", suffix="_end"),
            StringConcatenate(input_cols=["o_orderstatus", "o_orderpriority"], output_col="cat", separator="|"),
            StringContains(input_cols=["o_orderpriority"], output_col="is_urgent", constant="URGENT"),
            SubStringDelimAtIndex(input_col="o_orderpriority", output_col="prio_word", delimiter="-", index=1, default_value="NA"),
            Bin(
                input_col="o_totalprice", output_col="price_bucket",
                conditions=[("lt", 50000.0, "low"), ("lt", 150000.0, "mid")],
                default_label="high",
            ),
            StringMap(
                input_col="o_orderstatus", output_col="status_name",
                mapping={"O": "open", "F": "finished", "P": "pending"},
                default_value="unknown",
            ),
        ]
    )
    return model.transform(o).select(
        "o_orderkey", "prio_up", "status_tag", "cat", "is_urgent",
        "prio_word", "price_bucket", "status_name",
    )


_ROWWISE_STRINGS_SQL = """
SELECT o_orderkey,
       upper(o_orderpriority) AS prio_up,
       'st_' || o_orderstatus || '_end' AS status_tag,
       o_orderstatus || '|' || o_orderpriority AS cat,
       contains(o_orderpriority, 'URGENT') AS is_urgent,
       coalesce(string_split(o_orderpriority, '-')[2], 'NA') AS prio_word,
       CASE WHEN o_totalprice < 50000.0 THEN 'low'
            WHEN o_totalprice < 150000.0 THEN 'mid'
            ELSE 'high' END AS price_bucket,
       CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'finished'
            WHEN 'P' THEN 'pending' ELSE 'unknown' END AS status_name
FROM orders
"""


def _q_rowwise_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kamae_spark.core.pipeline import PipelineModel
    from kamae_spark.operators.datetimes import DateAdd, DateParse, DateTimeToUnixTimestamp

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumn(
        "od", F.date_format("o_orderdate", "yyyy-MM-dd")
    )
    model = PipelineModel(
        [
            DateParse(input_col="od", output_col="o_year", date_part="Year"),
            DateParse(input_col="od", output_col="o_month", date_part="MonthOfYear"),
            DateParse(input_col="od", output_col="o_dow", date_part="DayOfWeek"),
            DateAdd(input_cols=["od"], output_col="od_plus30", num_days=30),
            DateTimeToUnixTimestamp(input_col="od", output_col="od_unix", unit="s"),
        ]
    )
    return model.transform(o).select(
        "o_orderkey", "o_year", "o_month", "o_dow", "od_plus30", "od_unix"
    )


_ROWWISE_DATES_SQL = """
SELECT o_orderkey,
       cast(year(o_orderdate) AS int) AS o_year,
       cast(month(o_orderdate) AS int) AS o_month,
       cast(isodow(o_orderdate) AS int) AS o_dow,
       strftime(cast(o_orderdate AS date) + INTERVAL 30 DAY, '%Y-%m-%d') AS od_plus30,
       cast(epoch(cast(strftime(o_orderdate, '%Y-%m-%d') AS timestamp)) AS double) AS od_unix
FROM orders
"""


def _q_encoders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fitted estimators: string-index (freq desc, ties label asc; 1 OOV),
    min-max scale, impute-mean — all oracle-expressible because the fit
    statistics are themselves SQL aggregates."""
    from kamae_spark.core.pipeline import Pipeline
    from kamae_spark.operators.indexers import StringIndexEstimator
    from kamae_spark.operators.scalers import MinMaxScaleEstimator

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    pipe = Pipeline(
        [
            StringIndexEstimator(input_col="o_orderpriority", output_col="prio_idx"),
            MinMaxScaleEstimator(input_col="o_totalprice", output_col="price_mm"),
        ]
    )
    out = pipe.fit(o).transform(o)
    return out.select(
        "o_orderkey",
        "prio_idx",
        F.round("price_mm", 6).alias("price_mm"),
    )


_ENCODERS_SQL = """
WITH vocab AS (
  SELECT o_orderpriority AS label,
         cast(row_number() OVER (ORDER BY count(*) DESC, o_orderpriority ASC) AS int) AS idx
  FROM orders GROUP BY o_orderpriority
),
stats AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders)
SELECT o.o_orderkey,
       v.idx AS prio_idx,
       round((o.o_totalprice - s.lo) / (s.hi - s.lo), 6) AS price_mm
FROM orders o JOIN vocab v ON o.o_orderpriority = v.label CROSS JOIN stats s
"""


def _q_fitted_transcript_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Kamae-style fit/transform flow end-to-end on transcripts:
    vocab-indexed role + min-max and z-scored value. min-max output is
    bit-exact cross-engine (min/max are copies); z is rounded to 6 (the
    fitted moments differ only at ~1e-14 between engines and z-scores
    do not sit on rounding-grid points)."""
    from kamae_spark.core.pipeline import Pipeline
    from kamae_spark.operators.indexers import StringIndexEstimator
    from kamae_spark.operators.scalers import MinMaxScaleEstimator, StandardScaleEstimator

    t = _transcripts(spark, sf_dir)
    pipe = Pipeline(
        [
            StringIndexEstimator(input_col="role", output_col="role_idx"),
            MinMaxScaleEstimator(input_col="value", output_col="value_mm"),
            StandardScaleEstimator(input_col="value", output_col="value_z"),
        ]
    )
    out = pipe.fit(t).transform(t)
    return out.select(
        "conv_id", "turn_idx", "role_idx", "value_mm",
        F.round("value_z", 6).alias("value_z"),
    )


_FITTED_SQL = f"""
WITH t AS ({_T_SQL}),
vocab AS (
  SELECT role AS label,
         cast(row_number() OVER (ORDER BY count(*) DESC, role ASC) AS int) AS idx
  FROM t GROUP BY role
),
stats AS (
  SELECT min(value) AS lo, max(value) AS hi,
         avg(value) AS m, stddev_pop(value) AS s
  FROM t
)
SELECT t.conv_id, t.turn_idx,
       v.idx AS role_idx,
       (t.value - st.lo) / (st.hi - st.lo) AS value_mm,
       round((t.value - st.m) / st.s, 6) AS value_z
FROM t JOIN vocab v ON t.role = v.label CROSS JOIN stats st
"""


# ---------------------------------------------------------------------------
# training-data pipeline queries (documents / embeddings)
# ---------------------------------------------------------------------------

def _q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kamae_spark.core.pipeline import PipelineModel
    from kamae_spark.data.partitioning import ensure_scan_parallelism
    from kamae_spark.data.text import Fingerprint, TokenCount

    # the regex/md5 map work inherits the scan's partitioning — a small
    # single-file corpus reads as ONE partition and serializes it on a
    # single core (guide §2.1/§6.2); no-op at multi-file layouts
    d = ensure_scan_parallelism(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), "doc_id"
    )
    model = PipelineModel(
        [
            TokenCount(input_col="text", output_col="n_tokens", mode="whitespace"),
            Fingerprint(input_col="text", output_col="fp"),
        ]
    )
    return model.transform(d).select("doc_id", "n_tokens", "fp")


_TEXT_STATS_SQL = r"""
SELECT doc_id,
       CASE WHEN trim(text) = '' THEN 0
            ELSE cast(length(regexp_split_to_array(trim(text), '\s+')) AS int)
       END AS n_tokens,
       md5(trim(regexp_replace(regexp_replace(lower(text), '[!-/:-@\[-`{-~]', '', 'g'),
                               '\s+', ' ', 'g'))) AS fp
FROM documents
"""


def _q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kamae_spark.data.dedup import exact_dedup

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return exact_dedup(d, "text", "doc_id")


_EXACT_DEDUP_SQL = r"""
SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[!-/:-@\[-`{-~]', '', 'g'),
                               '\s+', ' ', 'g'))) AS fingerprint,
       min(doc_id) AS keep_id,
       count(*) AS n_dups
FROM documents GROUP BY 1
"""


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kamae_spark.data.dedup import ngram_jaccard_pairs

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = ngram_jaccard_pairs(
        d, "text", "doc_id", block_cols=("lang", "source"),
        n=3, threshold=0.5, length_bucket=None,
    )
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


_NGRAM_JACCARD_SQL = """
WITH grams AS (
  SELECT doc_id, lang, source,
         list_distinct([substring(text, i, 3)
                        FOR i IN range(1, greatest(length(text) - 2, 1) + 1)]) AS g
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(cast(length(list_intersect(a.g, b.g)) AS double)
             / length(list_distinct(list_concat(a.g, b.g))), 6) AS jaccard
FROM grams a JOIN grams b
  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
WHERE cast(length(list_intersect(a.g, b.g)) AS double)
      / length(list_distinct(list_concat(a.g, b.g))) >= 0.5
"""


def _q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kamae_spark.data.similarity import brute_force_topk

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.where(F.col("vec_id") < 8)
    return brute_force_topk(e, q, "embedding", "vec_id", k=10).select(
        "query_id", "neighbor_id", "score", "rank"
    )


_ANN_TOPK_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round(list_sum([qv[i] * emb[i] FOR i IN range(1, length(qv) + 1)])
               / (sqrt(list_sum([qv[i] * qv[i] FOR i IN range(1, length(qv) + 1)]))
                  * sqrt(list_sum([emb[i] * emb[i] FOR i IN range(1, length(emb) + 1)]))), 6) AS score
  FROM q, (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings) e
  WHERE q.query_id != e.vec_id
)
SELECT query_id, neighbor_id, score,
       cast(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS int) AS rank
FROM scored
QUALIFY rank <= 10
"""


def _q_emb_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine near-dup pairs blocked on the embeddings `label`
    column (oracle-checkable); the unblocked LSH-bucketed variant is
    kamae_spark.data.dedup.embedding_neardup_pairs."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"), "label"
    )
    from kamae_spark.data.similarity import cosine

    a, b = e.alias("a"), e.alias("b")
    pairs = a.join(
        b,
        (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("id_a"),
        F.col("b.vec_id").alias("id_b"),
        F.round(cosine(F.col("a.v"), F.col("b.v")), 6).alias("cosine"),
    )
    return pairs.where(F.col("cosine") >= 0.25)


_EMB_NEARDUP_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_sum([a.v[i] * b.v[i] FOR i IN range(1, length(a.v) + 1)])
             / (sqrt(list_sum([a.v[i] * a.v[i] FOR i IN range(1, length(a.v) + 1)]))
                * sqrt(list_sum([b.v[i] * b.v[i] FOR i IN range(1, length(b.v) + 1)]))), 6) AS cosine
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_sum([a.v[i] * b.v[i] FOR i IN range(1, length(a.v) + 1)])
            / (sqrt(list_sum([a.v[i] * a.v[i] FOR i IN range(1, length(a.v) + 1)]))
               * sqrt(list_sum([b.v[i] * b.v[i] FOR i IN range(1, length(b.v) + 1)]))), 6) >= 0.25
"""


def _q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full minhash->band->bucket->verify machinery, FULLY ORACLED.

    With one row per band (bands == num_perm) a pair collides whenever
    any of the 64 minhash values agree — miss probability (1-j)^64 <
    1e-25 at j >= 0.6 — and the exact-jaccard verify filters to the true
    pair set, so the emitted pairs equal DuckDB's exhaustive word-bigram
    jaccard join bit-for-bit (division of identical exact-int sizes).
    Upgraded from the round-2 rows-only check; the selective S-curve
    banding (the sub-quadratic production setting) stays exercised by
    unit tests + bench.py minhash_lsh_synth."""
    from kamae_spark.data.dedup import minhash_lsh_pairs

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return minhash_lsh_pairs(
        d, "text", "doc_id", n=2, num_perm=64, bands=64, threshold=0.6,
        tokenizer="word",
    )


_MINHASH_LSH_SQL = """
WITH grams AS (
  SELECT doc_id,
         list_distinct([array_to_string(words[i:least(i+1, len(words))], ' ')
                        FOR i IN range(1, greatest(len(words)-1, 1) + 1)]) AS g
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words
        FROM documents)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       cast(length(list_intersect(a.g, b.g)) AS double)
       / length(list_distinct(list_concat(a.g, b.g))) AS jaccard
FROM grams a JOIN grams b ON a.doc_id < b.doc_id
WHERE cast(length(list_intersect(a.g, b.g)) AS double)
      / length(list_distinct(list_concat(a.g, b.g))) >= 0.6
"""


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded simhash near-dup machinery, FULLY ORACLED via synthetic
    signatures both engines can construct: sig = bit-spread of the even
    anchor doc_id, odd ids flip the low (doc_id % 11) bits. With
    bands = max_hamming + 1 = 11 the pigeonhole guarantee makes recall
    EXACTLY 1.0 (any pair within hamming 10 shares a band), and the
    exact-hamming verify makes precision 1.0, so the emitted pair set
    equals DuckDB's exhaustive popcount(xor) join. The text SimHash
    signature itself (bit-majority of xxhash64 token hashes) is
    engine-specific; the SimHash stage is executed here as a smoke gate
    and value-tested in unit tests (tests/test_data_ops.py)."""
    from kamae_spark.data.dedup import SimHash, simhash_pairs_from_sigs

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # smoke-run the real text-signature stage (values engine-specific)
    toks = d.select(F.split(F.lower("text"), r"\s+").alias("toks")).limit(64)
    n_sigs = SimHash(input_col="toks", output_col="s").transform(toks).where(
        F.col("s").isNotNull()).count()
    if n_sigs == 0:
        raise RuntimeError("SimHash stage produced no signatures")

    # base bounded to < 8192 so base<<50 fits in 63 bits on BOTH engines
    # (DuckDB raises Out of Range on signed shift overflow where Spark
    # silently wraps — divergence on any corpus with doc_id >= 8192)
    base = F.col("doc_id") % 8192 - F.col("doc_id") % 2
    spread = base
    for s in (10, 20, 30, 40, 50):
        spread = spread.bitwiseXOR(F.shiftleft(base, s))
    flip = F.when(
        F.col("doc_id") % 2 == 1,
        F.expr("shiftleft(cast(1 as bigint), cast(doc_id % 11 as int)) - 1"),
    ).otherwise(F.lit(0).cast("long"))
    sigs = d.select("doc_id", spread.bitwiseXOR(flip).alias("sig"))
    return simhash_pairs_from_sigs(sigs, "sig", "doc_id", max_hamming=10, bands=11)


_SIMHASH_PAIRS_SQL = """
WITH s AS (
  SELECT doc_id,
         xor(xor(xor(xor(xor(xor(b, b<<10), b<<20), b<<30), b<<40), b<<50),
             CASE WHEN doc_id % 2 = 1
                  THEN (CAST(1 AS BIGINT) << CAST(doc_id % 11 AS INT)) - 1
                  ELSE CAST(0 AS BIGINT) END) AS sig
  FROM (SELECT doc_id, doc_id % 8192 - doc_id % 2 AS b FROM documents)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       cast(bit_count(xor(a.sig, b.sig)) AS int) AS hamming
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sig, b.sig)) <= 10
"""


def _q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF machinery FULLY ORACLED by probing every bucket: with
    nprobe == n_centroids the bucket-pruned search degenerates to an
    exhaustive scan, so centroid fit, Arrow assignment, bucket join,
    vectorized rescoring and ranking must together reproduce the exact
    brute-force top-k (same oracle as ann_topk, bit-equal scores at
    round 6). The production nprobe << K setting is exercised by
    ivf_topk_probe (recall-gated) and bench.py ivf_topk_synth."""
    from kamae_spark.data.similarity import ivf_topk

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.where(F.col("vec_id") < 8)
    return ivf_topk(e, q, "embedding", "vec_id", k=10, n_centroids=16, nprobe=16)


def _q_ivf_topk_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pruned IVF (nprobe=2 of 10 buckets) on a deterministically
    CLUSTERED corpus (the raw testdata embeddings are uniform random —
    nearest-neighbor structure there is noise, so bucket pruning cannot
    and should not preserve it). Rows-only at the driver, but gated
    in-query: recall@10 against the exact brute-force result must be
    >= 0.9 or the query raises."""
    from kamae_spark.data.similarity import brute_force_topk, ivf_topk

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    clustered = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda i: F.cos(F.col("label") * 7 + i)
        + 0.25 * F.try_element_at("embedding", (i + 1).cast("int")).cast("double"),
    )
    c = e.select("vec_id", "label", clustered.alias("vec"))
    q = c.where(F.col("vec_id") < 16)
    ivf = ivf_topk(c, q, "vec", "vec_id", k=10, n_centroids=10, nprobe=2)
    exact = brute_force_topk(c, q, "vec", "vec_id", k=10)
    hits = ivf.join(exact, ["query_id", "neighbor_id"], "left_semi").count()
    total = exact.count()
    recall = hits / max(total, 1)
    if recall < 0.9:
        raise RuntimeError(f"ivf_topk_probe recall@10 {recall:.3f} < 0.9")
    return ivf


def _q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing + Arrow feature extraction (stub decoders).

    The mapInPandas output carries an ``array<float>`` feature column
    the driver's rows-only canonicalizer cannot hash, so the query
    projects integer-exact derivations: the byte histogram recovered
    from the L2-normalized feature (feature_i * n_bytes / sum(feature)
    == hist_i exactly, up to float32 noise << 0.5), its argmax, and its
    nonzero count — all reproducible from the raw text bytes in ANSI
    SQL, upgrading this query from rows-only to fully oracled."""
    from kamae_spark.data.multimodal import extract_features, synthesize_assets

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    feats = extract_features(synthesize_assets(d, "doc_id", "text"), dim=16)
    fsum = F.aggregate("feature", F.lit(0.0), lambda a, x: a + x.cast("double"))
    hist = F.transform(
        "feature",
        lambda x: F.round(x.cast("double") * F.col("n_bytes") / fsum).cast("int"),
    )
    return feats.select(
        "asset_id",
        "kind",
        "n_bytes",
        F.when(F.col("n_bytes") > 0, F.to_json(hist)).otherwise(F.lit("[]")).alias("hist_json"),
        F.array_position("feature", F.array_max("feature")).cast("int").alias("argmax_bucket"),
        F.size(F.filter("feature", lambda x: x != 0.0)).cast("int").alias("n_nonzero"),
    )


_MULTIMODAL_SQL = """
WITH h AS (
  SELECT doc_id,
         [len(list_filter([unicode(text[i]) % 16 FOR i IN range(1, len(text) + 1)],
                          x -> x = b))
          FOR b IN range(0, 16)] AS hist,
         octet_length(encode(text)) AS nb
  FROM documents
)
SELECT doc_id AS asset_id,
       CASE cast(doc_id % 3 AS int) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
            ELSE 'video' END AS kind,
       cast(nb AS int) AS n_bytes,
       CASE WHEN nb > 0 THEN to_json(hist) ELSE '[]' END AS hist_json,
       cast(list_position(hist, list_aggregate(hist, 'max')) AS int) AS argmax_bucket,
       cast(len(list_filter(hist, x -> x > 0)) AS int) AS n_nonzero
FROM h
"""


# ---------------------------------------------------------------------------
# wide-coverage row-wise queries (round 2: every SURVEY §2 operator oracled)
# ---------------------------------------------------------------------------

def _q_rowwise_math2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exp/Exponent/Divide/Mean/Max/Min/Modulo/Round modes/RoundToDecimal/
    logical ops/Identity/NumericalIfStatement/Bucketize over lineitem."""
    from kamae_spark.core.pipeline import PipelineModel
    from kamae_spark.operators.conditional import Bucketize, Identity, NumericalIfStatement
    from kamae_spark.operators.math import (
        Divide, Exp, Exponent, Log, LogicalAnd, LogicalNot, LogicalOr,
        Max, Mean, Min, Modulo, Round, RoundToDecimal,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    model = PipelineModel(
        [
            Identity(input_col="l_quantity", output_col="qty_id"),
            Exp(input_col="l_discount", output_col="e_disc"),
            Exponent(input_cols=["l_discount"], output_col="disc_sq", constant=2.0),
            Divide(input_cols=["l_extendedprice", "l_quantity"], output_col="unit_price"),
            Mean(input_cols=["l_discount", "l_tax"], output_col="dt_mean"),
            Max(input_cols=["l_discount", "l_tax"], output_col="dt_max"),
            Min(input_cols=["l_discount", "l_tax"], output_col="dt_min"),
            Modulo(input_cols=["l_linenumber"], output_col="ln_mod", constant=-3.0),
            Round(input_col="l_extendedprice", output_col="price_floor", mode="floor"),
            Round(input_col="l_extendedprice", output_col="price_ceil", mode="ceil"),
            Log(input_col="l_extendedprice", output_col="__lp", alpha=1.0),
            RoundToDecimal(input_col="__lp", output_col="lp_r3", scale=3),
            NumericalIfStatement(
                input_cols=["l_discount"], output_col="hi_disc",
                condition_operator="gt", value_to_compare_constant=0.05,
                result_if_true_constant=True, result_if_false_constant=False,
            ),
            NumericalIfStatement(
                input_cols=["l_tax"], output_col="hi_tax",
                condition_operator="gt", value_to_compare_constant=0.04,
                result_if_true_constant=True, result_if_false_constant=False,
            ),
            LogicalAnd(input_cols=["hi_disc", "hi_tax"], output_col="both_hi"),
            LogicalOr(input_cols=["hi_disc", "hi_tax"], output_col="any_hi"),
            LogicalNot(input_col="hi_disc", output_col="not_hi"),
            Bucketize(input_col="l_quantity", output_col="qty_bucket",
                      splits=[10.0, 20.0, 30.0, 40.0]),
        ]
    )
    out = model.transform(li)
    return out.select(
        "l_orderkey", "l_linenumber", "qty_id",
        F.round("e_disc", 6).alias("e_disc"),
        F.round("disc_sq", 6).alias("disc_sq"),
        "unit_price", "dt_mean", "dt_max", "dt_min",
        # +0.0 normalizes the IEEE -0.0 that floormod yields at exact
        # multiples of a negative divisor (hash-exactness across engines)
        (F.col("ln_mod") + F.lit(0.0)).alias("ln_mod"),
        "price_floor", "price_ceil", "lp_r3",
        "hi_disc", "both_hi", "any_hi", "not_hi", "qty_bucket",
    )


_ROWWISE_MATH2_SQL = """
SELECT l_orderkey, l_linenumber,
       l_quantity AS qty_id,
       round(exp(l_discount), 6) AS e_disc,
       round(power(l_discount, 2.0), 6) AS disc_sq,
       l_extendedprice / l_quantity AS unit_price,
       (l_discount + l_tax) / 2.0 AS dt_mean,
       greatest(l_discount, l_tax) AS dt_max,
       least(l_discount, l_tax) AS dt_min,
       CASE WHEN (l_linenumber % CAST(-3.0 AS DOUBLE)) >= 0
            THEN l_linenumber % CAST(-3.0 AS DOUBLE)
            ELSE (l_linenumber % CAST(-3.0 AS DOUBLE)) + CAST(-3.0 AS DOUBLE)
       END + 0.0 AS ln_mod,
       floor(l_extendedprice) AS price_floor,
       ceil(l_extendedprice) AS price_ceil,
       round(ln(1.0 + l_extendedprice), 3) AS lp_r3,
       l_discount > 0.05 AS hi_disc,
       (l_discount > 0.05) AND (l_tax > 0.04) AS both_hi,
       (l_discount > 0.05) OR (l_tax > 0.04) AS any_hi,
       NOT (l_discount > 0.05) AS not_hi,
       CASE WHEN l_quantity < 10.0 THEN 1 WHEN l_quantity < 20.0 THEN 2
            WHEN l_quantity < 30.0 THEN 3 WHEN l_quantity < 40.0 THEN 4
            ELSE 5 END AS qty_bucket
FROM lineitem
"""


def _q_geo_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HaversineDistance + BearingAngle vs a constant point, incl. the
    out-of-range-coordinate -> null rule."""
    from kamae_spark.core.pipeline import PipelineModel
    from kamae_spark.operators.math import BearingAngle, HaversineDistance

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    d = o.select(
        "o_orderkey",
        ((F.col("o_totalprice") % 180.0) - 90.0).alias("lat1"),
        ((F.col("o_custkey") % 360).cast("double") - 180.0).alias("lon1"),
        ((F.col("o_totalprice") % 200.0) - 100.0).alias("lat_maybe"),
    )
    model = PipelineModel(
        [
            HaversineDistance(input_cols=["lat1", "lon1"], output_col="hav_km",
                              lat_lon_constant=[40.7, -74.0]),
            BearingAngle(input_cols=["lat1", "lon1"], output_col="bearing",
                         lat_lon_constant=[40.7, -74.0]),
            HaversineDistance(input_cols=["lat_maybe", "lon1"], output_col="hav_guard",
                              lat_lon_constant=[40.7, -74.0]),
        ]
    )
    out = model.transform(d)
    return out.select(
        "o_orderkey",
        F.round("hav_km", 4).alias("hav_km"),
        F.round("bearing", 4).alias("bearing"),
        F.round("hav_guard", 4).alias("hav_guard"),
    )


_GEO_SQL = """
WITH g AS (
  SELECT o_orderkey,
         (o_totalprice % 180.0) - 90.0 AS lat1,
         cast(o_custkey % 360 AS double) - 180.0 AS lon1,
         (o_totalprice % 200.0) - 100.0 AS lat_maybe
  FROM orders
), r AS (
  SELECT o_orderkey,
         lat1 * (pi() / 180.0) AS la1, lon1 * (pi() / 180.0) AS lo1,
         40.7 * (pi() / 180.0) AS la2, -74.0 * (pi() / 180.0) AS lo2,
         CASE WHEN lat_maybe BETWEEN -90.0 AND 90.0
              THEN lat_maybe * (pi() / 180.0) END AS lam
  FROM g
)
SELECT o_orderkey,
  round(12742.0 * asin(sqrt(power(sin((la2 - la1) / 2), 2)
        + cos(la1) * cos(la2) * power(sin((lo2 - lo1) / 2), 2))), 4) AS hav_km,
  round(((atan2(sin(lo2 - lo1) * cos(la2),
                cos(la1) * sin(la2) - sin(la1) * cos(la2) * cos(lo2 - lo1))
          * 180.0 / pi()) + 360.0) % 360.0, 4) AS bearing,
  round(12742.0 * asin(sqrt(power(sin((la2 - lam) / 2), 2)
        + cos(lam) * cos(la2) * power(sin((lo2 - lo1) / 2), 2))), 4) AS hav_guard
FROM r
"""


def _q_rowwise_strings2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StringReplace (regex + literal), StringToStringList->StringListToString,
    StringIsInList, StringContainsList, negative-index SubStringDelimAtIndex,
    StringArrayConstant, StringSequenceToEmbedding (incl. reverse)."""
    from kamae_spark.core.pipeline import PipelineModel
    from kamae_spark.operators.strings import (
        StringArrayConstant, StringContainsList, StringIsInList,
        StringListToString, StringReplace, StringSequenceToEmbedding,
        StringToStringList, SubStringDelimAtIndex,
    )

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    d = o.select(
        "o_orderkey", "o_orderstatus", "o_orderpriority",
        F.concat(
            (F.col("o_orderkey") % 7).cast("int").cast("string"), F.lit(","),
            (F.col("o_custkey") % 5).cast("int").cast("string"), F.lit(";"),
            (F.col("o_orderkey") % 3).cast("int").cast("string"),
        ).alias("seq_str"),
    )
    model = PipelineModel(
        [
            StringReplace(input_cols=["o_orderpriority"], output_col="pr_nonum",
                          pattern_constant="[0-9]", replacement_constant="#"),
            StringReplace(input_cols=["o_orderpriority"], output_col="pr_us",
                          pattern_constant="-", replacement_constant="_", regex=False),
            StringToStringList(input_col="o_orderpriority", output_col="__parts",
                               separator="-", list_length=3, default_value="NA"),
            StringListToString(input_col="__parts", output_col="parts3", separator="|"),
            StringIsInList(input_col="o_orderstatus", output_col="in_of",
                           constants=["O", "F"]),
            StringContainsList(input_col="o_orderpriority", output_col="is_prio",
                               constants=["URGENT", "HIGH"]),
            SubStringDelimAtIndex(input_col="o_orderpriority", output_col="last_word",
                                  delimiter="-", index=-1, default_value="NA"),
            StringArrayConstant(output_col="__const_arr", values=["x", "y", "z"]),
            StringListToString(input_col="__const_arr", output_col="const_str", separator=","),
            StringSequenceToEmbedding(input_col="seq_str", output_col="__emb",
                                      seq_len=2, embedding_dim=2,
                                      separator=",", sequence_separator=";"),
            StringSequenceToEmbedding(input_col="seq_str", output_col="__embr",
                                      seq_len=2, embedding_dim=2,
                                      separator=",", sequence_separator=";", reverse=True),
        ]
    )
    out = model.transform(d)
    e = lambda c, i, j: F.try_element_at(F.try_element_at(c, F.lit(i)), F.lit(j)).cast("double")  # noqa: E731
    return out.select(
        "o_orderkey", "pr_nonum", "pr_us", "parts3", "in_of", "is_prio",
        "last_word", "const_str",
        e("__emb", 1, 1).alias("e00"), e("__emb", 1, 2).alias("e01"),
        e("__emb", 2, 1).alias("e10"), e("__emb", 2, 2).alias("e11"),
        e("__embr", 1, 1).alias("r00"), e("__embr", 1, 2).alias("r01"),
    )


_ROWWISE_STRINGS2_SQL = """
WITH d AS (
  SELECT o_orderkey, o_orderstatus, o_orderpriority,
         cast(o_orderkey % 7 AS int) AS k1,
         cast(o_custkey % 5 AS int) AS k2,
         cast(o_orderkey % 3 AS int) AS k3
  FROM orders
)
SELECT o_orderkey,
       regexp_replace(o_orderpriority, '[0-9]', '#', 'g') AS pr_nonum,
       replace(o_orderpriority, '-', '_') AS pr_us,
       coalesce(string_split(o_orderpriority, '-')[1], 'NA') || '|'
         || coalesce(string_split(o_orderpriority, '-')[2], 'NA') || '|'
         || coalesce(string_split(o_orderpriority, '-')[3], 'NA') AS parts3,
       o_orderstatus IN ('O', 'F') AS in_of,
       (contains(o_orderpriority, 'URGENT') OR contains(o_orderpriority, 'HIGH')) AS is_prio,
       string_split(o_orderpriority, '-')[-1] AS last_word,
       'x,y,z' AS const_str,
       cast(k1 AS double) AS e00, cast(k2 AS double) AS e01,
       cast(k3 AS double) AS e10, 0.0 AS e11,
       cast(k3 AS double) AS r00, 0.0 AS r01
FROM d
"""


def _q_rowwise_dates2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DateParse extra parts, DateDiff, Current* (injected now),
    UnixTimestampToDateTime s/ms paths."""
    from kamae_spark.core.pipeline import PipelineModel
    from kamae_spark.operators.datetimes import (
        CurrentDate, CurrentDateTime, CurrentUnixTimestamp, DateDiff,
        DateParse, UnixTimestampToDateTime,
    )

    NOW = "2026-08-16 12:34:56"
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    d = ev.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("dts"),
        F.col("ts").cast("timestamp").cast("long").alias("unix_s"),
        F.lit("2024-06-15").alias("ref_date"),
    ).withColumn("unix_ms", F.col("unix_s") * 1000 + F.col("event_id") % 1000)
    model = PipelineModel(
        [
            DateParse(input_col="dts", output_col="doy", date_part="DayOfYear"),
            DateParse(input_col="dts", output_col="dom", date_part="DayOfMonth"),
            DateParse(input_col="dts", output_col="hh", date_part="Hour"),
            DateParse(input_col="dts", output_col="mi", date_part="Minute"),
            DateParse(input_col="dts", output_col="ss", date_part="Second"),
            DateDiff(input_cols=["dts", "ref_date"], output_col="days_to_ref"),
            CurrentDate(output_col="today", now=NOW),
            CurrentDateTime(output_col="now_str", now=NOW),
            CurrentUnixTimestamp(output_col="now_ms", unit="ms", now=NOW),
            UnixTimestampToDateTime(input_col="unix_s", output_col="dt_s", unit="s",
                                    include_time=False),
            UnixTimestampToDateTime(input_col="unix_ms", output_col="dt_ms",
                                    unit="ms"),
        ]
    )
    return model.transform(d).select(
        "event_id", "doy", "dom", "hh", "mi", "ss", "days_to_ref",
        "today", "now_str", "now_ms", "dt_s", "dt_ms",
    )


_ROWWISE_DATES2_SQL = """
SELECT event_id,
       cast(strftime(ts, '%j') AS int) AS doy,
       cast(dayofmonth(ts) AS int) AS dom,
       cast(hour(ts) AS int) AS hh,
       cast(minute(ts) AS int) AS mi,
       cast(second(ts) AS int) AS ss,
       cast(datediff('day', cast(ts AS date), DATE '2024-06-15') AS int) AS days_to_ref,
       '2026-08-16' AS today,
       '2026-08-16 12:34:56.000' AS now_str,
       cast(epoch(TIMESTAMP '2026-08-16 12:34:56') AS bigint) * 1000 AS now_ms,
       strftime(make_timestamp(cast(floor(epoch(ts)) AS bigint) * 1000000),
                '%Y-%m-%d') AS dt_s,
       strftime(make_timestamp(cast(floor(epoch(ts)) AS bigint) * 1000000),
                '%Y-%m-%d %H:%M:%S')
         || '.' || lpad(cast(event_id % 1000 AS varchar), 3, '0') AS dt_ms
FROM events
"""


def _q_arrays_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ArrayConcatenate/Split/Crop/ReduceMax/ReduceMin/SubtractMinimum,
    CosineSimilarity, PairwiseCosineSimilarity, OrdinalArrayEncode."""
    from kamae_spark.core.pipeline import PipelineModel
    from kamae_spark.operators.arrays import (
        ArrayConcatenate, ArrayCrop, ArrayReduceMax, ArrayReduceMin,
        ArraySplit, ArraySubtractMinimum, CosineSimilarity,
        OrdinalArrayEncode, PairwiseCosineSimilarity,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    model = PipelineModel(
        [
            ArrayConcatenate(input_cols=["l_quantity", "l_discount", "l_tax"],
                             output_col="vec"),
            ArrayConcatenate(input_cols=["l_tax", "l_discount", "l_quantity"],
                             output_col="vec2"),
            ArrayConcatenate(input_cols=["l_extendedprice", "vec"], output_col="vec4"),
            ArraySplit(input_col="vec", output_cols=["q2", "d2", "t2"]),
            ArrayCrop(input_col="vec", output_col="vec5", length=5, pad_value=-1.0),
            ArrayReduceMax(input_col="vec", output_col="vmax"),
            ArrayReduceMin(input_col="vec", output_col="vmin"),
            ArraySubtractMinimum(input_col="vec", output_col="__vsub"),
            ArrayReduceMax(input_col="__vsub", output_col="vspread"),
            CosineSimilarity(input_cols=["vec", "vec2"], output_col="cos12"),
            ArrayConcatenate(input_cols=["vec", "vec2"], output_col="__flat6"),
            PairwiseCosineSimilarity(input_cols=["vec", "__flat6"],
                                     output_col="__pc", embedding_dim=3),
            ArrayConcatenate(input_cols=["l_returnflag", "l_linestatus", "l_returnflag"],
                             output_col="__strs"),
            OrdinalArrayEncode(input_col="__strs", output_col="__ord"),
        ]
    )
    out = model.transform(li)
    return out.select(
        "l_orderkey", "l_linenumber", "q2", "d2", "t2",
        F.try_element_at("vec5", F.lit(4)).alias("c4"),
        F.try_element_at("vec5", F.lit(1)).alias("c1"),
        F.try_element_at("vec4", F.lit(1)).alias("v4_1"),
        "vmax", "vmin", "vspread",
        F.round("cos12", 6).alias("cos12"),
        F.round(F.try_element_at("__pc", F.lit(1)), 6).alias("p1"),
        F.round(F.try_element_at("__pc", F.lit(2)), 6).alias("p2"),
        F.try_element_at("__ord", F.lit(1)).alias("o1"),
        F.try_element_at("__ord", F.lit(2)).alias("o2"),
        F.try_element_at("__ord", F.lit(3)).alias("o3"),
    )


_ARRAYS_OPS_SQL = """
WITH b AS (
  SELECT l_orderkey, l_linenumber,
         l_quantity AS q, l_discount AS d, l_tax AS t, l_extendedprice AS p,
         l_returnflag AS rf, l_linestatus AS ls,
         0.0 + l_quantity * l_quantity + l_discount * l_discount
             + l_tax * l_tax AS n1,
         0.0 + l_tax * l_tax + l_discount * l_discount
             + l_quantity * l_quantity AS n2,
         0.0 + l_quantity * l_tax + l_discount * l_discount
             + l_tax * l_quantity AS dot12
  FROM lineitem
)
SELECT l_orderkey, l_linenumber,
       q AS q2, d AS d2, t AS t2,
       -1.0 AS c4, q AS c1, p AS v4_1,
       greatest(q, d, t) AS vmax,
       least(q, d, t) AS vmin,
       greatest(q, d, t) - least(q, d, t) AS vspread,
       round(dot12 / (sqrt(n1) * sqrt(n2)), 6) AS cos12,
       round(n1 / (sqrt(n1) * sqrt(n1)), 6) AS p1,
       round(dot12 / (sqrt(n1) * sqrt(n2)), 6) AS p2,
       cast(0 AS int) AS o1,
       cast(CASE WHEN ls = rf THEN 0 ELSE 1 END AS int) AS o2,
       cast(0 AS int) AS o3
FROM b
"""


def _q_encoders2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SharedStringIndex, OneHotEncode, Impute mean+median, Conditional
    scalers (filter / log10 / binary), SingleFeatureArray scale."""
    from kamae_spark.core.pipeline import Pipeline
    from kamae_spark.operators.indexers import (
        OneHotEncodeEstimator, SharedStringIndexEstimator,
    )
    from kamae_spark.operators.scalers import (
        ConditionalStandardScaleEstimator, ImputeEstimator,
        SingleFeatureArrayStandardScaleEstimator,
    )

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    d = o.select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice",
        F.when(F.col("o_orderkey") % 11 != 0, F.col("o_totalprice")).alias("v_null"),
        F.when(F.col("o_totalprice") > 150000.0, 1.0).otherwise(0.0).alias("bin_ind"),
        F.when(F.col("o_orderstatus") == "F", 1.0).otherwise(0.0).alias("rel"),
        F.array(F.col("o_totalprice"), (F.col("o_custkey") % 100).cast("double")).alias("varr"),
    )
    pipe = Pipeline(
        [
            SharedStringIndexEstimator(input_cols=["o_orderstatus", "o_orderpriority"],
                                       output_cols=["st_idx", "pr_idx"]),
            OneHotEncodeEstimator(input_col="o_orderstatus", output_col="__oh"),
            ImputeEstimator(input_col="v_null", output_col="v_med", strategy="median"),
            ImputeEstimator(input_col="v_null", output_col="v_mean", strategy="mean"),
            ConditionalStandardScaleEstimator(input_col="o_totalprice", output_col="z_f",
                                              filter_expr="o_orderstatus = 'F'"),
            ConditionalStandardScaleEstimator(input_col="o_totalprice", output_col="z_log",
                                              scaling="log10"),
            ConditionalStandardScaleEstimator(input_col="bin_ind", output_col="z_bin",
                                              scaling="binary", relevance_col="rel"),
            SingleFeatureArrayStandardScaleEstimator(input_col="varr", output_col="__sfa"),
        ]
    )
    out = pipe.fit(d).transform(d)
    return out.select(
        "o_orderkey", "st_idx", "pr_idx",
        F.try_element_at("__oh", F.lit(1)).alias("oh1"),
        F.try_element_at("__oh", F.lit(2)).alias("oh2"),
        F.try_element_at("__oh", F.lit(3)).alias("oh3"),
        F.try_element_at("__oh", F.lit(4)).alias("oh4"),
        "v_med",
        F.round("v_mean", 2).alias("v_mean"),
        F.round("z_f", 6).alias("z_f"),
        F.round("z_log", 6).alias("z_log"),
        F.round("z_bin", 6).alias("z_bin"),
        F.round(F.try_element_at("__sfa", F.lit(1)), 6).alias("sfa1"),
    )


_ENCODERS2_SQL = """
WITH d AS (
  SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice,
         CASE WHEN o_orderkey % 11 != 0 THEN o_totalprice END AS v_null,
         CASE WHEN o_totalprice > 150000.0 THEN 1.0 ELSE 0.0 END AS bin_ind,
         CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS rel,
         o_totalprice AS a1, cast(o_custkey % 100 AS double) AS a2
  FROM orders
),
shared_vocab AS (
  SELECT v, cast(row_number() OVER (ORDER BY cnt DESC, v ASC) AS int) AS idx
  FROM (SELECT v, count(*) AS cnt FROM (
          SELECT o_orderstatus AS v FROM orders
          UNION ALL SELECT o_orderpriority FROM orders) GROUP BY v)
),
st_vocab AS (
  SELECT o_orderstatus AS v,
         cast(row_number() OVER (ORDER BY count(*) DESC, o_orderstatus ASC) AS int) AS idx
  FROM orders GROUP BY o_orderstatus
),
imp AS (
  SELECT median(v_null) AS med, avg(v_null) AS mn FROM d
),
fstats AS (
  SELECT avg(o_totalprice) AS m, stddev_pop(o_totalprice) AS s
  FROM d WHERE o_orderstatus = 'F'
),
lstats AS (
  SELECT avg(log10(o_totalprice)) AS m, stddev_pop(log10(o_totalprice)) AS s FROM d
),
bstats AS (
  SELECT cast(sum(CASE WHEN bin_ind = 1.0 THEN 1 ELSE 0 END) AS double) AS n,
         cast(sum(CASE WHEN bin_ind = 1.0 AND rel > 0 THEN 1 ELSE 0 END) AS double) AS f
  FROM d
),
astats AS (
  SELECT sum(0.0 + a1 + a2) AS s1, sum(0.0 + a1 * a1 + a2 * a2) AS s2,
         cast(count(*) AS double) * 2.0 AS n
  FROM d
)
SELECT d.o_orderkey,
       sv1.idx AS st_idx, sv2.idx AS pr_idx,
       0.0 AS oh1,
       CASE WHEN stv.idx = 1 THEN 1.0 ELSE 0.0 END AS oh2,
       CASE WHEN stv.idx = 2 THEN 1.0 ELSE 0.0 END AS oh3,
       CASE WHEN stv.idx = 3 THEN 1.0 ELSE 0.0 END AS oh4,
       coalesce(d.v_null, imp.med) AS v_med,
       round(coalesce(d.v_null, imp.mn), 2) AS v_mean,
       round((d.o_totalprice - fstats.m) / fstats.s, 6) AS z_f,
       round((log10(d.o_totalprice) - lstats.m) / lstats.s, 6) AS z_log,
       round((d.bin_ind - (1.0 - bstats.f / bstats.n))
             / sqrt((bstats.f * power(1.0 - bstats.f / bstats.n, 2)
                     + (bstats.n - bstats.f) * power(bstats.f / bstats.n, 2))
                    / (bstats.n - 1.0)), 6) AS z_bin,
       round((d.a1 - astats.s1 / astats.n)
             / sqrt(astats.s2 / astats.n
                    - power(astats.s1 / astats.n, 2)), 6) AS sfa1
FROM d
JOIN shared_vocab sv1 ON d.o_orderstatus = sv1.v
JOIN shared_vocab sv2 ON d.o_orderpriority = sv2.v
JOIN st_vocab stv ON d.o_orderstatus = stv.v
CROSS JOIN imp CROSS JOIN fstats CROSS JOIN lstats CROSS JOIN bstats CROSS JOIN astats
"""


def _q_hash_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-family layout properties (bucket values are xxhash64-specific
    so not cross-engine reproducible, but the LAYOUT contract is: 0
    reserved for null/mask, buckets in [1, bins), per-hash offset ranges,
    minhash signature length / permutation-invariance / superset
    dominance — each checked per row and oracled as its expected class)."""
    from kamae_spark.core.pipeline import PipelineModel
    from kamae_spark.operators.hashing import BloomEncode, HashIndex, MinHashIndex

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    toks = F.split(
        F.concat((F.col("o_custkey") % 97).cast("string"), F.lit("-"),
                 F.col("o_orderpriority")),
        "-",
    )
    d = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 13 == 0, F.lit(None).cast("string"))
        .when(F.col("o_orderkey") % 7 == 0, F.lit("MASK"))
        .otherwise(F.col("o_custkey").cast("string")).alias("clerk"),
        toks.alias("toks"),
        F.concat(F.reverse(toks), F.slice(toks, 1, 1)).alias("toks_perm"),
        F.concat(toks, F.array(F.lit("zzz_extra"))).alias("toks_sup"),
    )
    model = PipelineModel(
        [
            HashIndex(input_col="clerk", output_col="__h", num_bins=50,
                      mask_value="MASK"),
            BloomEncode(input_col="clerk", output_col="__b", num_bins=50,
                        num_hash_fns=3, use_offsets=True, mask_value="MASK"),
            MinHashIndex(input_col="toks", output_col="__sig", num_permutations=8),
            MinHashIndex(input_col="toks_perm", output_col="__sig2", num_permutations=8),
            MinHashIndex(input_col="toks_sup", output_col="__sig3", num_permutations=8),
        ]
    )
    out = model.transform(d)

    def hclass(c, lo: int, hi: int):
        return (
            F.when(c == lo, F.lit("reserved"))
            .when(c.between(lo + 1, hi), F.lit("hashed"))
            .otherwise(F.lit("invalid"))
        )

    dom = F.aggregate(
        F.zip_with("__sig3", "__sig", lambda a, b: (a <= b).cast("int")),
        F.lit(0), lambda acc, x: acc + x,
    )
    return out.select(
        "o_orderkey",
        hclass(F.col("__h"), 0, 49).alias("h_class"),
        hclass(F.try_element_at("__b", F.lit(1)), 0, 49).alias("b0_class"),
        hclass(F.try_element_at("__b", F.lit(2)), 50, 99).alias("b1_class"),
        hclass(F.try_element_at("__b", F.lit(3)), 100, 149).alias("b2_class"),
        F.size("__sig").alias("mh_len"),
        (F.col("__sig") == F.col("__sig2")).alias("mh_perm_inv"),
        (dom == 8).alias("mh_superset_dom"),
    )


_HASH_LAYOUT_SQL = """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 13 = 0 OR o_orderkey % 7 = 0
            THEN 'reserved' ELSE 'hashed' END AS h_class,
       CASE WHEN o_orderkey % 13 = 0 OR o_orderkey % 7 = 0
            THEN 'reserved' ELSE 'hashed' END AS b0_class,
       CASE WHEN o_orderkey % 13 = 0 OR o_orderkey % 7 = 0
            THEN 'reserved' ELSE 'hashed' END AS b1_class,
       CASE WHEN o_orderkey % 13 = 0 OR o_orderkey % 7 = 0
            THEN 'reserved' ELSE 'hashed' END AS b2_class,
       cast(8 AS int) AS mh_len,
       TRUE AS mh_perm_inv,
       TRUE AS mh_superset_dom
FROM orders
"""


def _q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LanguageId + QualityScore + regex TokenCount (pure regexp exprs,
    fully SQL-oracled)."""
    from kamae_spark.core.pipeline import PipelineModel
    from kamae_spark.data.partitioning import ensure_scan_parallelism
    from kamae_spark.data.text import LanguageId, QualityScore, TokenCount

    d = ensure_scan_parallelism(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), "doc_id"
    )
    model = PipelineModel(
        [
            LanguageId(input_col="text", output_col="lang_id"),
            QualityScore(input_col="text", output_col="quality"),
            TokenCount(input_col="text", output_col="n_tok_re", mode="regex"),
        ]
    )
    return model.transform(d).select(
        "doc_id", "lang_id", F.round("quality", 6).alias("quality"), "n_tok_re"
    )


_TEXT_QUALITY_SQL = r"""
WITH c AS (
  SELECT doc_id,
    length(regexp_extract_all(lower(text), '\b(the|and|of|to|is|in|that|it|was|for)\b')) AS c_en,
    length(regexp_extract_all(lower(text), '\b(el|la|de|que|y|los|en|un|una|por)\b')) AS c_es,
    length(regexp_extract_all(lower(text), '\b(le|la|les|de|et|un|une|des|du|est)\b')) AS c_fr,
    length(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|von|den|nicht|mit|sich)\b')) AS c_de,
    cast(length(text) AS double) AS n_chars,
    cast(length(regexp_extract_all(text, '[A-Za-z0-9_]+')) AS double) AS words,
    cast(length(regexp_extract_all(text, '[!-/:-@\[-`{-~]')) AS double) AS punct,
    cast(length(regexp_extract_all(lower(text), '\b(the|and|of|to|is|in|that|it|was|for)\b')) AS double) AS stop
  FROM documents
), s AS (
  SELECT doc_id, c_en, c_es, c_fr, c_de,
         greatest(c_en, c_es, c_fr, c_de) AS best,
         least(n_chars / 500.0, 1.0) AS length_score,
         least((CASE WHEN words > 0 THEN stop / words ELSE 0.0 END) * 4.0, 1.0) AS stop_score,
         greatest(1.0 - (CASE WHEN n_chars > 0 THEN punct / n_chars ELSE 0.0 END) * 5.0, 0.0) AS punct_penalty,
         words + punct AS n_tok
  FROM c
)
SELECT doc_id,
       CASE WHEN best = 0 THEN 'und'
            WHEN c_en = best THEN 'en'
            WHEN c_es = best THEN 'es'
            WHEN c_fr = best THEN 'fr'
            ELSE 'de' END AS lang_id,
       round((length_score + stop_score + punct_penalty) / 3.0, 6) AS quality,
       cast(n_tok AS int) AS n_tok_re
FROM s
"""


def _pf_scaled(s):
    """Module-level vectorized fn for PandasFunctionTransformer (pickled
    by value into the pipeline; must be top-level for cloudpickle)."""
    return s * 2.0 + 1.0


def _mip_props(it):
    """MapInPandas batch fn: project event_id/value + per-row char count."""
    import pandas as pd

    for pdf in it:
        yield pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "value": pdf["value"],
                "n_props_char": pdf["props"].str.len().astype("int64"),
            }
        )


def _q_pandas_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-function escape hatches: MapInPandasTransformer (Arrow batch,
    schema-changing) then PandasFunctionTransformer (vectorized scalar)."""
    from kamae_spark.core.pipeline import PipelineModel
    from kamae_spark.operators.pandas_fn import (
        MapInPandasTransformer, PandasFunctionTransformer,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    model = PipelineModel(
        [
            MapInPandasTransformer(
                schema="event_id bigint, value double, n_props_char bigint",
                fn=_mip_props,
            ),
            PandasFunctionTransformer(
                input_cols=["value"], output_col="v_scaled",
                return_type="double", fn=_pf_scaled,
            ),
        ]
    )
    return model.transform(ev).select("event_id", "n_props_char", "v_scaled")


_PANDAS_FN_SQL = """
SELECT event_id,
       cast(length(props) AS bigint) AS n_props_char,
       value * 2.0 + 1.0 AS v_scaled
FROM events
"""


def _q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling PLAN (multimodal §: one row per sampled
    frame; decode stubbed, the explode/row-multiplication shape is what
    matters at scale). Fully oracled: the schedule is pure arithmetic."""
    from kamae_spark.data.multimodal import frame_sample_plan, synthesize_assets

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assets = synthesize_assets(d, "doc_id", "text")
    return frame_sample_plan(assets, every_ms=1000).select(
        "asset_id", "frame_idx", "frame_ts_ms"
    )


_FRAME_SAMPLE_SQL = """
WITH v AS (
  SELECT doc_id AS asset_id,
         cast((doc_id % 30000) + 1000 AS int) AS duration_ms
  FROM documents
  WHERE cast(doc_id % 3 AS int) = 2  -- kind = 'video'
)
SELECT asset_id,
       cast(f AS int) AS frame_idx,
       cast(f AS int) * 1000 AS frame_ts_ms
FROM (
  SELECT asset_id, duration_ms,
         unnest(range(0, cast(floor(duration_ms / 1000) AS int) + 1)) AS f
  FROM v
)
WHERE cast(f AS int) * 1000 <= duration_ms
"""


def _q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming job: file-source readStream over the
    events parquet -> session_window aggregation -> availableNow trigger
    into a memory sink, returned as a batch DataFrame. Oracle: ANSI
    gaps-and-islands (new session when the gap >= 1800s, matching
    session_window merge semantics; window end = last ts + gap)."""
    import shutil
    import tempfile
    import uuid

    from kamae_spark.streaming.sessions import stream_sessionize

    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    # the file stream source requires a DIRECTORY; stage the (small)
    # events file into one
    stream_dir = tempfile.mkdtemp(prefix="kamae_stream_src_")
    if os.path.isdir(path):
        shutil.copytree(path, os.path.join(stream_dir, "events.parquet"))
    else:
        shutil.copy(path, stream_dir)
    stream = (
        spark.readStream.schema(schema).parquet(stream_dir)
        .select(
            F.col("user_id").cast("string").alias("conv_id"),
            F.col("ts").cast("timestamp").alias("ts"),
            F.col("event_id").alias("turn_idx"),
        )
    )
    sess = stream_sessionize(stream, gap_seconds=1800, watermark="0 seconds")
    sink = f"stream_sessions_{uuid.uuid4().hex[:8]}"
    q = (
        sess.writeStream.format("memory").queryName(sink)
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return spark.table(sink).select(
        "conv_id",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        "n_turns",
        F.col("first_turn").alias("first_event"),
        F.col("last_turn").alias("last_event"),
    )


_STREAMING_SESSIONS_SQL = """
WITH e AS (
  SELECT cast(user_id AS varchar) AS conv_id, ts, event_id FROM events
),
m AS (
  SELECT conv_id, ts, event_id,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) >= 1800
              THEN 1 ELSE 0 END AS brk
  FROM e WINDOW w AS (PARTITION BY conv_id ORDER BY ts, event_id)
),
s AS (
  SELECT *, sum(brk) OVER (PARTITION BY conv_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM m
)
SELECT conv_id,
       epoch_us(min(ts)) AS session_start_us,
       epoch_us(max(ts)) + 1800 * 1000000 AS session_end_us,
       count(*) AS n_turns,
       min(event_id) AS first_event,
       max(event_id) AS last_event
FROM s GROUP BY conv_id, sid
"""


def _q_pipeline_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit -> save spec JSON -> load -> transform: the persistence path
    produces the exact same fitted features (same oracle as `encoders`)."""
    import tempfile

    from kamae_spark.core.pipeline import Pipeline, PipelineModel
    from kamae_spark.operators.indexers import StringIndexEstimator
    from kamae_spark.operators.scalers import MinMaxScaleEstimator

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    pipe = Pipeline(
        [
            StringIndexEstimator(input_col="o_orderpriority", output_col="prio_idx"),
            MinMaxScaleEstimator(input_col="o_totalprice", output_col="price_mm"),
        ]
    )
    model = pipe.fit(o)
    path = os.path.join(tempfile.mkdtemp(prefix="kamae_rt_"), "model.json")
    model.save(path)
    reloaded = PipelineModel.load(path)
    return reloaded.transform(o).select(
        "o_orderkey", "prio_idx", F.round("price_mm", 6).alias("price_mm")
    )


def _q_streaming_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL applyInPandasWithState job (custom stateful streaming,
    §2.13), MULTI-BATCH: the events table is split by turn parity into
    two parquet files committed sequentially; two availableNow streaming
    runs share one checkpoint, so run 2 must RELOAD run 1's state store
    and process only the second file. In-query gates (raise on failure):
    (a) run 2 emits rows, (b) for every conversation present in both
    runs, run 2's final count == run 1's final count + that
    conversation's rows in file 2, and (c) a sentinel conversation
    injected ONLY into file 1 is absent from run 2's emitted rows — a
    silent full recompute (checkpoint ignored, both files reprocessed
    with fresh state) would satisfy (b) with identical totals but MUST
    emit the sentinel, so (c) pins the incremental-read claim. The
    returned final state per conversation equals the full-table
    aggregate (count(*), tool at max turn_idx among non-null), which is
    ANSI-SQL expressible — so the multi-batch path is value-oracled,
    not just rows-checked."""
    import glob
    import shutil
    import tempfile

    from kamae_spark.streaming.sessions import stream_turn_counter

    path = f"{sf_dir}/events.parquet"
    ev = spark.read.parquet(path).select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_id").alias("turn_idx"),
        # sparse "tool" column: only high-value events carry one
        F.when(F.col("value") > 200.0, F.col("event_type")).alias("tool"),
    )
    half1 = ev.where(F.col("turn_idx") % 2 == 0)
    half2 = ev.where(F.col("turn_idx") % 2 == 1)

    # file-1-only sentinel: run 2, if genuinely incremental, never sees it
    SENTINEL = "__kamae_f1_only_sentinel__"
    half1 = half1.unionByName(
        spark.createDataFrame([(SENTINEL, -1, None)], schema=half1.schema)
    )

    root = tempfile.mkdtemp(prefix="kamae_stream_state_")
    stream_dir = os.path.join(root, "in")
    ckpt = os.path.join(root, "ckpt")
    os.makedirs(stream_dir)

    def commit_file(df, name: str) -> None:
        tmp = os.path.join(root, f"tmp_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(stream_dir, f"{name}.parquet"))
        shutil.rmtree(tmp)

    def run_once(tag: str):
        # memory sink cannot recover from a checkpoint; foreachBatch can,
        # and appending each micro-batch's update rows to parquet keeps
        # the whole run inspectable after termination
        out_dir = os.path.join(root, f"out_{tag}")
        stream = spark.readStream.schema(half1.schema).parquet(stream_dir)

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out_dir)

        q = (
            stream_turn_counter(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update").option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        if not glob.glob(os.path.join(out_dir, "part-*")):
            raise RuntimeError(
                f"streaming_state: availableNow run {tag!r} emitted nothing"
            )
        # update mode emits one row per (conv, micro-batch); the final
        # state is the max-count row (the running count is monotone)
        return (
            spark.read.parquet(out_dir)
            .groupBy("conv_id")
            .agg(F.max(F.struct("n_turns_total", "last_tool")).alias("s"))
            .select("conv_id", "s.n_turns_total", "s.last_tool")
            .cache()
        )

    commit_file(half1, "b1")
    s1 = run_once("b1")
    s1.count()
    commit_file(half2, "b2")
    s2 = run_once("b2")
    s2.count()

    # gate: the second run really ran incrementally on surviving state
    c2 = half2.groupBy("conv_id").agg(F.count("*").alias("f2_rows"))
    carried = s1.alias("a").join(s2.alias("b"), "conv_id").join(c2, "conv_id")
    bad = carried.where(
        F.col("b.n_turns_total") != F.col("a.n_turns_total") + F.col("f2_rows")
    ).count()
    if carried.count() == 0 or bad:
        raise RuntimeError(
            f"streaming_state: state did not survive the restart "
            f"({bad} conversations with wrong resumed counts)"
        )
    # gate (c): a full recompute of both files would re-emit the
    # file-1-only sentinel in run 2's raw micro-batch output
    leaked = (
        spark.read.parquet(os.path.join(root, "out_b2"))
        .where(F.col("conv_id") == SENTINEL)
        .count()
    )
    if leaked:
        raise RuntimeError(
            "streaming_state: run 2 emitted the file-1-only sentinel — "
            "the checkpoint was ignored and both files were reprocessed"
        )

    final = (
        s1.unionByName(s2)
        .groupBy("conv_id")
        .agg(F.max(F.struct("n_turns_total", "last_tool")).alias("s"))
        .select("conv_id", "s.n_turns_total", "s.last_tool")
        .where(F.col("conv_id") != SENTINEL)
    )
    return final


_STREAMING_STATE_SQL = """
SELECT cast(user_id AS varchar) AS conv_id,
       cast(count(*) AS bigint) AS n_turns_total,
       max_by(event_type, event_id) FILTER (WHERE value > 200.0) AS last_tool
FROM events
GROUP BY user_id
"""


def _q_encoders_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SharedOneHotEncodeEstimator (reference
    estimators/shared_one_hot_encode.py:117): ONE vocab fitted across
    two string columns (lang + source), one-hot per column. With
    num_oov_indices=1 the layout is hash-free (null and OOV both land
    on index 0), so DuckDB can rebuild the exact arrays from a
    frequency-desc/label-asc vocab CTE. Arrays are compared as JSON of
    ints (float-formatting-proof)."""
    from kamae_spark.operators.indexers import SharedOneHotEncodeEstimator

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    model = SharedOneHotEncodeEstimator(
        input_cols=["lang", "source"], output_cols=["lang_oh", "source_oh"],
        string_order_type="frequencyDesc", num_oov_indices=1,
    ).fit(d)
    out = model.transform(d)
    as_json = lambda c: F.to_json(F.transform(F.col(c), lambda x: x.cast("int")))  # noqa: E731
    return out.select(
        "doc_id", "lang", "source",
        as_json("lang_oh").alias("lang_oh_json"),
        as_json("source_oh").alias("source_oh_json"),
    )


_ENCODERS_SHARED_SQL = """
WITH vals AS (
  SELECT lang AS v FROM documents WHERE lang IS NOT NULL
  UNION ALL
  SELECT source AS v FROM documents WHERE source IS NOT NULL
),
vocab AS (
  SELECT v, cast(row_number() OVER (ORDER BY count(*) DESC, v ASC) AS int) AS idx
  FROM vals GROUP BY v
),
n AS (SELECT cast(count(*) AS int) AS sz FROM vocab)
SELECT d.doc_id, d.lang, d.source,
       to_json([CASE WHEN coalesce(vl.idx, 0) = i THEN 1 ELSE 0 END
                FOR i IN range(0, (SELECT sz FROM n) + 1)]) AS lang_oh_json,
       to_json([CASE WHEN coalesce(vs.idx, 0) = i THEN 1 ELSE 0 END
                FOR i IN range(0, (SELECT sz FROM n) + 1)]) AS source_oh_json
FROM documents d
LEFT JOIN vocab vl ON d.lang = vl.v
LEFT JOIN vocab vs ON d.source = vs.v
"""


def _q_checkpointed_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resumable CheckpointedFeatureWriter end-to-end (north rule:
    killed run resumes without recomputation): run 1 'dies' after 3 of
    8 buckets (fail_after_buckets kill hook), run 2 resumes and must
    write ONLY the remaining 5; the read-back table is oracled against
    plain SQL. In-query gates: resume bucket count, lineage
    completeness, and two distinct job ids."""
    import shutil

    from kamae_spark.sources.io import CheckpointedFeatureWriter
    from kamae_spark.operators.windows import RollingAgg

    base = f"/tmp/kamae_ckpt_query_{sf_dir.strip('/').replace('/', '_')}"
    shutil.rmtree(base, ignore_errors=True)

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    feats = RollingAgg(
        input_col="event_id", output_col="cum_cnt", agg="count",
        rows=None, order_by=("ts", "event_id"), partition_by=("user_id",),
    ).transform(e).select("event_id", "user_id", "event_type", "cum_cnt")

    w = CheckpointedFeatureWriter(base, key_cols=("user_id",), n_buckets=8)
    w.run(feats, job_id="run1", fail_after_buckets=3)
    m2 = w.run(feats, job_id="run2")
    if m2["buckets_written"] != 5:
        raise RuntimeError(f"resume rewrote {m2['buckets_written']} buckets, want 5")
    lineage = w.lineage(spark)
    done = lineage.where(F.col("status") == "complete")
    if done.select("bucket").distinct().count() != 8:
        raise RuntimeError("lineage does not mark all 8 buckets complete")
    if done.select("job_id").distinct().count() != 2:
        raise RuntimeError("expected two job ids in lineage (kill + resume)")
    return w.read(spark)


_CHECKPOINTED_WRITE_SQL = """
SELECT event_id, user_id, event_type,
       cast(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
            AS bigint) AS cum_cnt
FROM events
"""


# ---------------------------------------------------------------------------
# driver entry points
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full point-in-time feature pipeline over sf0.001 transcripts."""
    from kamae_spark.core.pipeline import PipelineModel
    from kamae_spark.operators.joins import AsOfJoin
    from kamae_spark.operators.windows import (
        Backfill,
        ConditionalRollingCount,
        Lag,
        ListAgg,
        RollingAgg,
        Sessionize,
    )

    sf_dir = "/root/testdata/sf0.001"
    t = _transcripts(spark, sf_dir)
    ann = _annotations(spark, sf_dir)
    order = ("ts", "turn_idx")
    model = PipelineModel(
        [
            Lag(input_col="text", output_col="prev_text", order_by=order),
            Lag(input_col="ts", output_col="prev_ts", order_by=order),
            RollingAgg(input_col="value", output_col="turns_5", agg="count", rows=5, order_by=order),
            RollingAgg(input_col="value", output_col="mean_value_10", agg="mean", rows=10, order_by=order),
            ConditionalRollingCount(input_col="role", output_col="errors_10", value="error", rows=10, order_by=order),
            Backfill(input_col="tool", output_col="tool_ff", order_by=order),
            Sessionize(ts_col="ts", output_col="session_idx", gap_seconds=GAP_SECONDS, order_by=order, session_id_col="session_id"),
            ListAgg(input_col="value", output_col="conv_mean_value", agg="mean"),
            AsOfJoin(on=("conv_id",), right=ann, strategy="union"),
        ]
    )
    return model.transform(t)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "w_lag_lead": _q_lag_lead,
        "w_rolling": _q_rolling,
        "w_rolling_range": _q_rolling_range,
        "w_backfill": _q_backfill,
        "w_sessionize": _q_sessionize,
        "w_list_stats": _q_list_stats,
        "w_list_topn": _q_list_topn,
        "asof_join": _q_asof_join,
        "asof_join_broadcast": _q_asof_broadcast,
        "rowwise_math": _q_rowwise_math,
        "rowwise_strings": _q_rowwise_strings,
        "rowwise_dates": _q_rowwise_dates,
        "encoders": _q_encoders,
        "fitted_transcript_features": _q_fitted_transcript_features,
        "text_stats": _q_text_stats,
        "exact_dedup": _q_exact_dedup,
        "ngram_jaccard": _q_ngram_jaccard,
        "ann_topk": _q_ann_topk,
        "emb_neardup": _q_emb_neardup,
        "minhash_lsh": _q_minhash_lsh,
        "simhash_pairs": _q_simhash_pairs,
        "ivf_topk": _q_ivf_topk,
        "ivf_topk_probe": _q_ivf_topk_probe,
        "encoders_shared": _q_encoders_shared,
        "checkpointed_write": _q_checkpointed_write,
        "streaming_state": _q_streaming_state,
        "multimodal_features": _q_multimodal,
        "rowwise_math2": _q_rowwise_math2,
        "geo_features": _q_geo_features,
        "rowwise_strings2": _q_rowwise_strings2,
        "rowwise_dates2": _q_rowwise_dates2,
        "arrays_ops": _q_arrays_ops,
        "encoders2": _q_encoders2,
        "hash_layout": _q_hash_layout,
        "text_quality": _q_text_quality,
        "pandas_fn": _q_pandas_fn,
        "pipeline_roundtrip": _q_pipeline_roundtrip,
        "streaming_sessions": _q_streaming_sessions,
        "frame_sample": _q_frame_sample,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "w_lag_lead": _LAG_LEAD_SQL,
        "w_rolling": _ROLLING_SQL,
        "w_rolling_range": _ROLLING_RANGE_SQL,
        "w_backfill": _BACKFILL_SQL,
        "w_sessionize": _SESSIONIZE_SQL,
        "w_list_stats": _LIST_STATS_SQL,
        "w_list_topn": _LIST_TOPN_SQL,
        "asof_join": _ASOF_SQL,
        "asof_join_broadcast": _ASOF_BROADCAST_SQL,
        "rowwise_math": _ROWWISE_MATH_SQL,
        "rowwise_strings": _ROWWISE_STRINGS_SQL,
        "rowwise_dates": _ROWWISE_DATES_SQL,
        "encoders": _ENCODERS_SQL,
        "fitted_transcript_features": _FITTED_SQL,
        "text_stats": _TEXT_STATS_SQL,
        "exact_dedup": _EXACT_DEDUP_SQL,
        "ngram_jaccard": _NGRAM_JACCARD_SQL,
        "ann_topk": _ANN_TOPK_SQL,
        "emb_neardup": _EMB_NEARDUP_SQL,
        "multimodal_features": _MULTIMODAL_SQL,
        "rowwise_math2": _ROWWISE_MATH2_SQL,
        "geo_features": _GEO_SQL,
        "rowwise_strings2": _ROWWISE_STRINGS2_SQL,
        "rowwise_dates2": _ROWWISE_DATES2_SQL,
        "arrays_ops": _ARRAYS_OPS_SQL,
        "encoders2": _ENCODERS2_SQL,
        "hash_layout": _HASH_LAYOUT_SQL,
        "text_quality": _TEXT_QUALITY_SQL,
        "pandas_fn": _PANDAS_FN_SQL,
        "pipeline_roundtrip": _ENCODERS_SQL,
        "streaming_sessions": _STREAMING_SESSIONS_SQL,
        "frame_sample": _FRAME_SAMPLE_SQL,
        "minhash_lsh": _MINHASH_LSH_SQL,
        "simhash_pairs": _SIMHASH_PAIRS_SQL,
        # exhaustive-probe IVF must equal exact brute force -> same oracle
        "ivf_topk": _ANN_TOPK_SQL,
        "encoders_shared": _ENCODERS_SHARED_SQL,
        "checkpointed_write": _CHECKPOINTED_WRITE_SQL,
        "streaming_state": _STREAMING_STATE_SQL,
        # ivf_topk_probe is intentionally oracle-less (approximate by
        # design; rows-only at the driver) but self-gated: the query
        # raises unless recall@10 vs exact brute force >= 0.9
    }
