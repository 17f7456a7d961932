"""Shared base for row-wise (projection) transformers.

Reference equivalents: single_input_single_output_scalar_transform /
multi_input_single_output_scalar_transform
(src/kamae/spark/utils/transform_utils.py:66-87,217-330). All subclasses
are pure Catalyst Column expressions applied elementwise through any
array nesting depth — zero per-row Python anywhere (input_hint
mandate).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kamae_spark.core.stage import Transformer
from kamae_spark.functions.arrays import elementwise


class ElementwiseTransform(Transformer):
    """Base: subclass implements ``fn(*scalar_cols) -> Column``.

    Inputs come from ``input_col`` (single) or ``input_cols`` (multi);
    a stage with neither (a constant) has ``fn()`` called once.
    A subclass whose op accepts "N columns OR 1 column + constant"
    (reference params/utils.py:79-122) appends the constant inside its
    ``fn`` via ``self.<constant_param>``.
    """

    def fn(self, *cols: Column) -> Column:  # pragma: no cover - abstract
        raise NotImplementedError

    def build(self, df: DataFrame):
        self._validate(df)
        in_cols = self.input_columns
        casted = [self._in(df, c) for c in in_cols]
        expr = elementwise(df, in_cols, self.fn, columns=casted)
        return {self.output_col: self._out(df, expr)}


def nary(cols: list[Column], op) -> Column:
    """Left-fold a binary op over N columns (reference sum.py:135 etc.)."""
    acc = cols[0]
    for c in cols[1:]:
        acc = op(acc, c)
    return acc
