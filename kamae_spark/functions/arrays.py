"""Nested-array elementwise machinery.

The data model is "homogeneous arrays of any nesting depth" (reference:
docs/achieving_shape_parity.md, src/kamae/spark/utils/array_utils.py).
Scalar operations recurse to the innermost element with nested
``F.transform`` lambdas — pure Catalyst higher-order functions, zero
Python per row (reference equivalent: nested_transform
array_utils.py:165-180, nested_arrays_zip array_utils.py:129-162,
broadcast_scalar_column_to_array array_utils.py:72-89). Unlike the
reference, multi-input zips never materialize an array-of-struct when a
2-ary ``F.zip_with`` suffices, and scalar operands ride along inside the
lambda closure instead of being broadcast into arrays.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kamae_spark.core.dtypes import column_info


def nested_transform(col: Column, fn: Callable[[Column], Column], level: int) -> Column:
    """Apply scalar ``fn`` at nesting depth ``level`` (0 = apply directly)."""
    if level <= 0:
        return fn(col)
    return F.transform(col, lambda x: nested_transform(x, fn, level - 1))


def zipwise(cols: Sequence[Column], fn: Callable[..., Column], level: int) -> Column:
    """Zip N equally-nested array columns elementwise and apply ``fn``."""
    cols = list(cols)
    if level <= 0:
        return fn(*cols)
    if len(cols) == 1:
        return F.transform(cols[0], lambda x: zipwise([x], fn, level - 1))
    if len(cols) == 2:
        return F.zip_with(cols[0], cols[1], lambda a, b: zipwise([a, b], fn, level - 1))
    z = F.arrays_zip(*[c.alias(f"_{i}") for i in range(len(cols)) for c in [cols[i]]])
    return F.transform(
        z, lambda s: zipwise([s[f"_{i}"] for i in range(len(cols))], fn, level - 1)
    )


def elementwise(
    df: DataFrame,
    in_cols: Sequence[str],
    fn: Callable[..., Column],
    columns: Sequence[Column] | None = None,
) -> Column:
    """Apply scalar ``fn`` across N input columns elementwise.

    Handles mixed shapes: array columns must share one nesting level;
    scalar columns are broadcast by closing over them in the transform
    lambda (legal: lambda bodies may reference other row columns).
    ``columns`` overrides the default ``F.col`` per input (used for
    input_dtype casts). The output's own nesting, which ``fn`` may
    deepen (a scalar to an array), is read back from its type by
    ``Transformer._out`` when an output cast needs it.
    """
    cols = list(columns) if columns is not None else [F.col(c) for c in in_cols]
    levels = [column_info(df, c)[0] for c in in_cols]
    max_level = max(levels, default=0)
    if max_level == 0:
        return fn(*cols)
    array_pos = [i for i, lv in enumerate(levels) if lv == max_level]
    if any(lv not in (0, max_level) for lv in levels):
        raise ValueError(
            f"mixed array nesting levels {levels} for columns {list(in_cols)}; "
            "inputs must be scalars or share one nesting level"
        )

    def apply(*array_elems: Column) -> Column:
        elems = iter(array_elems)
        full = [next(elems) if i in array_pos else cols[i] for i in range(len(cols))]
        return fn(*full)

    return zipwise([cols[i] for i in array_pos], apply, max_level)


def flatten_nested(col: Column, level: int) -> Column:
    """Flatten a nested array to 1-D (reference: array_utils.py:224-237)."""
    for _ in range(max(level - 1, 0)):
        col = F.flatten(col)
    return col


def dot(a: Column, b: Column) -> Column:
    """Dot product of two numeric arrays as a double: the element
    products folded left to right (``data.similarity._fold_scorer``
    mirrors this order to match it bit for bit). Null if either array
    or any element is null."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    """Euclidean norm of a numeric array, squares folded left to right."""
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + (x * x).cast("double")))
