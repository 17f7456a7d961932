"""The point-in-time transcript feature set.

One definition of the flagship feature stages: lag/lead of the text and
the timestamp, rolling counts and means, role frequency, tool backfill,
sessionization, conversation length and the as-of annotation join.
Every window stage partitions by ``conv_id`` and the ordered ones order
by ``(ts, turn_idx)``, so the compile runs them on one shuffle and three
window passes: the as-of fill, Sessionize's gap flag, and one pass for
every other feature.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from kamae_spark.operators.joins import AsOfJoin
from kamae_spark.operators.windows import (
    Backfill,
    ConditionalRollingCount,
    Lag,
    Lead,
    ListAgg,
    RollingAgg,
    Sessionize,
)

ORDER = ("ts", "turn_idx")


def transcript_features(annotations: DataFrame | None = None,
                        gap_seconds: int = 1800) -> list:
    """The feature stages over a transcript table (``conv_id``,
    ``turn_idx``, ``ts``, ``role``, ``text``, ``tool``), in order. With
    ``annotations`` (``conv_id``, ``ts`` and payload columns) the last
    stage is the as-of join that gives each turn the latest annotation at
    or before it; without, there are nine stages and no join."""
    stages = [
        Lag(input_col="text", output_col="prev_text", order_by=ORDER),
        Lead(input_col="text", output_col="next_text", order_by=ORDER),
        Lag(input_col="ts", output_col="prev_ts", order_by=ORDER),
        RollingAgg(input_col="turn_idx", output_col="turns_5", agg="count", rows=5, order_by=ORDER),
        RollingAgg(input_col="turn_idx", output_col="mean_10", agg="mean", rows=10, order_by=ORDER),
        ConditionalRollingCount(input_col="role", output_col="role_freq_10", value="assistant",
                                rows=10, order_by=ORDER),
        Backfill(input_col="tool", output_col="tool_ff", order_by=ORDER),
        Sessionize(ts_col="ts", output_col="session_idx", gap_seconds=gap_seconds,
                   order_by=ORDER, session_id_col="session_id"),
        ListAgg(input_col="turn_idx", output_col="conv_len", agg="count"),
    ]
    if annotations is not None:
        stages.append(AsOfJoin(on=("conv_id",), right=annotations, strategy="union"))
    return stages
