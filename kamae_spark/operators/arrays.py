"""Array (sequence) transformers (reference SURVEY.md §2.6).

"Array ops" operate on the innermost array as a whole (axis=-1
semantics, reference transform_utils.py:31-63): for an input nested
``level`` deep, the op applies at depth ``level-1`` via nested
``F.transform``.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kamae_spark.core.dtypes import NUMERIC, column_info
from kamae_spark.core.stage import Transformer, keyword_params
from kamae_spark.functions.arrays import dot, nested_transform, norm, zipwise


class ArrayTransform(Transformer):
    """The one base for innermost-axis array ops: a subclass implements
    ``afn(*arrs) -> Column`` over the innermost arrays of its inputs
    (``input_col``, or ``input_cols`` in order).

    For inputs nested ``level`` deep, ``afn`` applies at depth
    ``level - 1``; several inputs are zipped level by level down to it
    (``zipwise``), so array inputs share one nesting. The output nests
    as ``afn`` makes it (a reduction drops a level, a crop keeps it);
    ``Transformer._out`` reads that nesting back for ``output_dtype``."""

    def afn(self, *arrs: Column) -> Column:  # pragma: no cover - abstract
        raise NotImplementedError

    def build(self, df: DataFrame):
        self._validate(df)
        ins = self.input_columns
        level = max(column_info(df, c)[0] for c in ins)
        if level < 1:
            raise TypeError(f"{type(self).__name__}: inputs {ins} hold no array column")
        expr = zipwise([self._in(df, c) for c in ins], self.afn, level - 1)
        return {self.output_col: self._out(df, expr)}


def _zip_concat(parts, depth: int) -> Column:
    """Concatenate along the INNERMOST axis: zip array operands level by
    level, carry scalar operands down unchanged, and at the innermost
    level concat them with scalars as singleton arrays. Matches the
    reference (array_concatenate.py:96-259): scalars broadcast to the
    arrays' N-1 dims with an innermost singleton, arrays zipped to depth
    N-1, concat applied along the Nth dim. ``parts`` is a list of
    ``(is_scalar, col)``; all array operands must share nesting depth."""
    if depth == 0:
        return F.concat(*[F.array(c) if s else c for s, c in parts])
    arr = [i for i, (s, _) in enumerate(parts) if not s]
    zipped = F.arrays_zip(*[parts[i][1].alias(f"_{i}") for i in arr])
    return F.transform(
        zipped,
        lambda z: _zip_concat(
            [(s, c if s else z[f"_{i}"]) for i, (s, c) in enumerate(parts)],
            depth - 1,
        ),
    )


class ArrayConcatenate(Transformer):
    """Assemble a feature vector from N scalar and/or array columns
    (reference array_concatenate.py:96-259): flat arrays concatenate in
    order with scalars wrapped as singletons; NESTED arrays concatenate
    along the innermost axis, with scalars appended to every innermost
    list."""

    compatible_dtypes = None

    @keyword_params
    def __init__(self, input_cols: Sequence[str] = (), output_col: str = "",
                 input_dtype: str | None = None, output_dtype: str | None = None):
        pass

    def build(self, df: DataFrame):
        parts, max_level = [], 0
        for c in self.input_cols:
            level, _ = column_info(df, c)
            parts.append((level == 0, self._in(df, c)))
            max_level = max(max_level, level)
        expr = _zip_concat(parts, max(max_level - 1, 0))
        return {self.output_col: self._out(df, expr)}


class ArraySplit(Transformer):
    """One array column -> N output columns, splitting the INNERMOST
    axis: flat [d] -> N scalars, nested [..][d] -> N [..]-shaped columns
    (reference array_split.py:83; nested pinned by its
    array_split_nested_expected golden)."""

    @keyword_params
    def __init__(self, input_col: str = "", output_cols: Sequence[str] = (),
                 input_dtype: str | None = None, output_dtype: str | None = None):
        pass

    def build(self, df: DataFrame):
        col = self._in(df, self.input_col)
        level, _ = column_info(df, self.input_col)

        def pick(i: int) -> Column:
            # try_element_at: null (not ANSI error) when the array is short
            at = lambda a: F.try_element_at(a, F.lit(i + 1))
            return at(col) if level <= 1 else nested_transform(col, at, level - 1)

        return {name: self._out(df, pick(i)) for i, name in enumerate(self.output_cols)}


class ArrayCrop(ArrayTransform):
    """Crop or pad the innermost array to a fixed length
    (reference array_crop.py:138-221)."""

    @keyword_params
    def __init__(self, input_col: str, output_col: str,
                 length: int = 1, pad_value=None,
                 input_dtype: str | None = None, output_dtype: str | None = None):
        pass

    def afn(self, arr: Column) -> Column:
        cropped = F.slice(arr, 1, self.length)
        pad = F.array_repeat(
            F.lit(self.pad_value),
            F.greatest(F.lit(self.length) - F.size(cropped), F.lit(0)),
        )
        return F.concat(cropped, pad)


class ArrayReduceMax(ArrayTransform):
    """Max of the innermost array (reference array_reduce_max.py:80)."""

    @keyword_params
    def __init__(self, input_col: str, output_col: str,
                 input_dtype: str | None = None, output_dtype: str | None = None):
        pass

    def afn(self, arr: Column) -> Column:
        return F.array_max(arr)


class ArrayReduceMin(ArrayTransform):
    """Min of the innermost array (companion to ArrayReduceMax)."""

    @keyword_params
    def __init__(self, input_col: str, output_col: str,
                 input_dtype: str | None = None, output_dtype: str | None = None):
        pass

    def afn(self, arr: Column) -> Column:
        return F.array_min(arr)


class ArraySubtractMinimum(ArrayTransform):
    """x - min(non-pad x), preserving pad positions — the "timestamp
    difference" op (reference array_subtract_minimum.py:133-186)."""

    compatible_dtypes = NUMERIC

    @keyword_params
    def __init__(self, input_col: str, output_col: str, pad_value: float | None = None,
                 input_dtype: str | None = None, output_dtype: str | None = None):
        pass

    def afn(self, arr: Column) -> Column:
        if self.pad_value is None:
            return F.transform(arr, lambda y: y - F.array_min(arr))
        pad = F.lit(self.pad_value)
        non_pad_min = F.array_min(F.filter(arr, lambda z: z != pad))
        return F.transform(
            arr, lambda y: F.when(y != pad, y - non_pad_min).otherwise(y)
        )


class CosineSimilarity(ArrayTransform):
    """Cosine similarity of two vector columns, reducing the INNERMOST
    axis — nested inputs broadcast through the outer levels, so shape
    [..][d] x [..][d] -> [..] (reference cosine_similarity.py:97 via
    single_input nested transform; nested vectors pinned by its
    example_dataframe_with_arrays golden)."""

    compatible_dtypes = ("float", "double")

    @keyword_params
    def __init__(self, input_cols: Sequence[str] = (), output_col: str = "",
                 input_dtype: str | None = None, output_dtype: str | None = None):
        pass

    def afn(self, x: Column, y: Column) -> Column:
        # try_divide: a zero-norm vector yields null, not an ANSI error
        return F.try_divide(dot(x, y), norm(x) * norm(y))


class PairwiseCosineSimilarity(ArrayTransform):
    """Cosine similarity between one query vector and a flat array of
    concatenated candidate vectors -> array of similarities (reference
    pairwise_cosine_similarity.py:85: sequence+slice chunking; zero
    denominators coalesce to 0). Nested inputs pair up through their
    outer levels, as in ``CosineSimilarity``."""

    compatible_dtypes = ("float", "double")

    @keyword_params
    def __init__(self, input_cols: Sequence[str] = (), output_col: str = "",
                 embedding_dim: int = 1,
                 input_dtype: str | None = None, output_dtype: str | None = None):
        pass

    def afn(self, query: Column, flat: Column) -> Column:
        dim = self.embedding_dim
        n = (F.size(flat) / F.lit(dim)).cast("int")
        qn = norm(query)

        def sim(i: Column) -> Column:
            cand = F.slice(flat, i * dim + 1, dim)
            # try_divide: a zero-norm side must yield the documented 0.0,
            # not an ANSI DIVIDE_BY_ZERO job failure (coalesce cannot
            # catch an ANSI error; reference pairwise_cosine_similarity.py
            # line 85 coalesces under non-ANSI semantics)
            return F.coalesce(F.try_divide(dot(query, cand), qn * norm(cand)), F.lit(0.0))

        # F.sequence(0, -1) counts down: no candidates give no indices
        idx = F.when(n > 0, F.sequence(F.lit(0), n - 1)).otherwise(F.array())
        return F.transform(idx, sim)


class OrdinalArrayEncode(ArrayTransform):
    """Strings -> first-appearance ordinal within the array; pad -> -1
    (reference ordinal_array_encode.py:89; re-expressed as a pure Column
    expression via array_position over de-duplicated non-pad prefix,
    replacing the reference's per-row Python UDF)."""

    compatible_dtypes = ("string",)

    @keyword_params
    def __init__(self, input_col: str, output_col: str, pad_value: str | None = None,
                 input_dtype: str | None = None, output_dtype: str | None = None):
        pass

    def afn(self, arr: Column) -> Column:
        if self.pad_value is not None:
            uniq = F.array_distinct(F.filter(arr, lambda z: z != F.lit(self.pad_value)))
            return F.transform(
                arr,
                lambda y: F.when(
                    y == F.lit(self.pad_value), F.lit(-1)
                ).otherwise((F.array_position(uniq, y) - 1).cast("int")),
            )
        uniq = F.array_distinct(arr)
        return F.transform(arr, lambda y: (F.array_position(uniq, y) - 1).cast("int"))
