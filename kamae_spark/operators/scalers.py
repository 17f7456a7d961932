"""Scalers & imputation (reference SURVEY.md §2.7).

The reference keeps standard, min-max and conditional standard scaling
in separate files; here they are one affine scaler, ``(x - shift) /
scale`` with a pass-through value. ``_AffineScale.build`` is the only
scaling expression: a subclass supplies ``(shift, scale)`` as scalars
or per-index lists, the pass-through value (``mask_value``, or 0.0
under ``skip_zeros``) and an optional ``log10`` on the way in. List
stats on a scalar column raise ``TypeError``.

Each estimator's ``_fit`` returns only its fitted statistics; the
shared ``Estimator.fit`` samples the input and builds the ``fitted``
transformer. Fits are single-pass ``df.agg`` jobs (reference
estimators/standard_scale.py: 100-163, min_max_scale.py:102,
impute.py:110-162), and ``_fit_pairs`` (through ``_fit_stats``) is
the one fit the three affine estimators share: two statistics over the
double-cast value, on a scalar column directly, and on an array column
per innermost index through ``element_at`` projections — a map-side
partial aggregate that collapses to one row, no shuffle. NESTED
(level>=2) inputs flatten + explode first so per-innermost-index stats
pool across rows and outer dims (reference nested goldens); the explode
feeds the same partial aggregate, still no shuffle beyond the final
single-row collect.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kamae_spark.core.dtypes import NUMERIC, column_info
from kamae_spark.core.stage import Estimator, keyword_params
from kamae_spark.functions.arrays import flatten_nested, nested_transform
from kamae_spark.operators.rowwise import ElementwiseTransform


def _f(x) -> float:
    """Fit-stat conversion: a degenerate fit (all-null / empty input)
    yields a null aggregate; carry it as NaN instead of crashing on
    float(None) — the scaled output is then NaN, matching what the
    reference's numpy/TF stats would propagate."""
    return float("nan") if x is None else float(x)


def _masked(col: Column, mask_value: float | None) -> Column:
    if mask_value is None:
        return col
    return F.when(col != F.lit(mask_value), col)


def _vector_rows(src: DataFrame, col: Column, level: int) -> tuple[DataFrame, Column, int]:
    """Normalize a fit input to one innermost VECTOR per row: level>=2
    columns have their outer nesting flattened and exploded, so per-index
    statistics pool across rows AND outer dims (the reference fits per
    innermost index — its min_max_scale nested golden takes min/max over
    every inner list of every row). Returns (df, vector column, dim)."""
    if level >= 2:
        for _ in range(level - 2):
            col = F.flatten(col)
        src = src.select(F.explode(col).alias("__vec"))
        col = F.col("__vec")
    row = src.select(F.size(col).alias("n")).where(col.isNotNull()).first()
    if row is None:
        raise ValueError("cannot infer array dim of empty fit column")
    return src, col, int(row["n"])


def _fit_pairs(
    src: DataFrame, col: Column, level: int,
    stats: Callable[[Column], tuple[Column, Column]],
    post: Callable[[float, float], tuple[float, float]] | None = None,
):
    """Fit ``stats(v) -> (Column, Column)`` on the double-cast value in one
    agg and map each fitted pair through ``post``. A scalar column gives
    one (a, b) pair of floats; an array column gives ([a_i], [b_i]) per
    innermost index (``_vector_rows``)."""
    post = post or (lambda a, b: (a, b))
    if level == 0:
        a, b = stats(col.cast("double"))
        row = src.agg(a.alias("a"), b.alias("b")).first()
        return post(_f(row["a"]), _f(row["b"]))
    src, col, dim = _vector_rows(src, col, level)
    aggs = []
    for i in range(dim):
        a, b = stats(F.element_at(col, i + 1).cast("double"))
        aggs += [a.alias(f"a{i}"), b.alias(f"b{i}")]
    row = src.agg(*aggs).first()
    pairs = [post(_f(row[f"a{i}"]), _f(row[f"b{i}"])) for i in range(dim)]
    return [a for a, _ in pairs], [b for _, b in pairs]


def _fit_stats(est: Estimator, src: DataFrame, names: tuple[str, str], post=None) -> dict:
    """``_fit_pairs`` of ``est._stats`` over ``est``'s (``input_dtype``
    cast) input column, as the two fitted params ``names``."""
    level, _ = column_info(src, est.input_col)
    pair = _fit_pairs(src, est._in(src, est.input_col), level, est._stats, post)
    return dict(zip(names, pair))


class _AffineScale(ElementwiseTransform):
    """``(pre(x) - shift) / scale``, per element for array inputs; x equal
    to the ``_keep()`` value passes through unscaled. Scalar stats apply
    at every nesting level, per-index lists to the innermost arrays."""

    compatible_dtypes = NUMERIC

    def _affine(self) -> tuple:  # pragma: no cover - abstract
        raise NotImplementedError

    def _keep(self) -> float | None:
        return self.mask_value

    def _pre(self, x: Column) -> Column:
        return x

    def build(self, df: DataFrame):
        self._validate(df)
        level, _ = column_info(df, self.input_col)
        col = self._in(df, self.input_col)
        shift, scale = self._affine()
        keep = self._keep()

        def affine(x: Column, m: Column, s: Column) -> Column:
            out = F.try_divide(self._pre(x) - m, s)
            return out if keep is None else F.when(x == F.lit(keep), x).otherwise(out)

        if not isinstance(shift, (list, tuple)):
            m, s = F.lit(float(shift)), F.lit(float(scale))
            expr = nested_transform(col, lambda x: affine(x, m, s), level)
        else:
            if level < 1:
                raise TypeError("per-element stats require an array input column")
            ms, ss = (F.lit([float(v) for v in a]) for a in (shift, scale))
            expr = nested_transform(col, lambda arr: F.transform(
                arr, lambda x, i: affine(x, F.element_at(ms, i + 1), F.element_at(ss, i + 1))
            ), level - 1)
        return {self.output_col: self._out(df, expr)}


class StandardScaleTransformer(_AffineScale):
    """(x - mean) / stddev, per element for array inputs; mask values
    pass through unscaled (reference transformers/standard_scale.py:99)."""

    @keyword_params
    def __init__(self, input_col: str, output_col: str,
                 mean: Sequence[float] | float = 0.0,
                 stddev: Sequence[float] | float = 1.0,
                 mask_value: float | None = None,
                 input_dtype: str | None = None, output_dtype: str | None = None):
        pass

    def _affine(self):
        return self.mean, self.stddev


class StandardScaleEstimator(Estimator):
    """Fit per-element mean / population stddev, mask-aware (reference
    estimators/standard_scale.py:100-163; stddev_pop per :136-144)."""

    fitted = StandardScaleTransformer

    @keyword_params
    def __init__(self, input_col: str, output_col: str,
                 mask_value: float | None = None,
                 sample_fraction: float | None = None, seed: int = 42,
                 input_dtype: str | None = None, output_dtype: str | None = None):
        pass

    def _stats(self, v: Column) -> tuple[Column, Column]:
        v = _masked(v, self.mask_value)
        return F.mean(v), F.stddev_pop(v)

    def _fit(self, src: DataFrame) -> dict:
        return _fit_stats(self, src, ("mean", "stddev"))


class SingleFeatureArrayStandardScaleEstimator(Estimator):
    """ONE shared mean/stddev over ALL elements of an array column
    (reference single_feature_array_standard_scale.py:96-146) — computed
    without explode via per-row F.aggregate partial sums. Null elements
    never contribute, and ``mask_value`` elements are excluded from the
    fit and pass through unscaled at transform time (reference fit
    tests: with_nulls mean 5.625 over the non-null residue, maskValue=-1
    mean 4.3636 over the non-pad residue)."""

    fitted = StandardScaleTransformer

    @keyword_params
    def __init__(self, input_col: str, output_col: str,
                 mask_value: float | None = None,
                 sample_fraction: float | None = None, seed: int = 42):
        pass

    def _fit(self, src: DataFrame) -> dict:
        level, _ = column_info(src, self.input_col)
        col = F.col(self.input_col)
        flat = col if level <= 1 else flatten_nested(col, level)
        if self.mask_value is not None:
            mask = F.lit(float(self.mask_value))
            flat = F.filter(flat, lambda x: x.isNotNull() & (x != mask))
        else:
            flat = F.filter(flat, lambda x: x.isNotNull())
        s1 = F.aggregate(flat, F.lit(0.0), lambda a, x: a + x.cast("double"))
        s2 = F.aggregate(flat, F.lit(0.0), lambda a, x: a + (x * x).cast("double"))
        row = src.agg(
            F.sum(s1).alias("s1"), F.sum(s2).alias("s2"), F.sum(F.size(flat)).alias("n")
        ).first()
        n = _f(row["n"])
        if not n > 0:  # empty / all-empty-array corpus: NaN stats
            mean, var = float("nan"), float("nan")
        else:
            mean = _f(row["s1"]) / n
            var = _f(row["s2"]) / n - mean * mean
        return {"mean": mean, "stddev": max(var, 0.0) ** 0.5}


class MinMaxScaleTransformer(_AffineScale):
    """(x - min) / (max - min), per element for arrays (reference
    transformers/min_max_scale.py:163). ``max - min`` is computed once
    here: the same IEEE subtraction Spark would do per row."""

    @keyword_params
    def __init__(self, input_col: str, output_col: str,
                 min: Sequence[float] | float = 0.0,
                 max: Sequence[float] | float = 1.0,
                 mask_value: float | None = None,
                 input_dtype: str | None = None, output_dtype: str | None = None):
        pass

    def _affine(self):
        if isinstance(self.min, (list, tuple)):
            return self.min, [float(h) - float(lo) for lo, h in zip(self.min, self.max)]
        return self.min, float(self.max) - float(self.min)


class MinMaxScaleEstimator(Estimator):
    """Fit per-element min/max (reference estimators/min_max_scale.py:102)."""

    fitted = MinMaxScaleTransformer

    @keyword_params
    def __init__(self, input_col: str, output_col: str,
                 mask_value: float | None = None,
                 sample_fraction: float | None = None, seed: int = 42,
                 input_dtype: str | None = None, output_dtype: str | None = None):
        pass

    def _stats(self, v: Column) -> tuple[Column, Column]:
        v = _masked(v, self.mask_value)
        return F.min(v), F.max(v)

    def _fit(self, src: DataFrame) -> dict:
        return _fit_stats(self, src, ("min", "max"))


class ConditionalStandardScaleTransformer(_AffineScale):
    """Scalar or per-element (list mean/stddev) conditional scaling:
    (log10?(x) - mean) / stddev, zeros passing through under
    ``skip_zeros``."""

    @keyword_params
    def __init__(self, input_col: str, output_col: str,
                 mean: Sequence[float] | float = 0.0,
                 stddev: Sequence[float] | float = 1.0,
                 scaling: str = "standard", skip_zeros: bool = False):
        pass

    def _affine(self):
        return self.mean, self.stddev

    def _keep(self) -> float | None:
        return 0.0 if self.skip_zeros else None

    def _pre(self, x: Column) -> Column:
        return F.log10(x) if self.scaling == "log10" else x


class ConditionalStandardScaleEstimator(Estimator):
    """Standard scale fitted over a filtered subset (SQL predicate),
    optionally excluding zeros, log10-transforming first, or using the
    reference's 'binary' moments — a Spark-first re-expression of the
    mask-predicate scaler (conditional_standard_scale.py:352-481).
    Array inputs fit per-element moments (reference :398-540
    element_struct aggs); nested inputs pool per innermost index.

    scaling='binary' (reference _fit_binary :398-470) treats the input
    as a binary indicator and a relevance label: with
    n = count(x == 1) and f = count(x == 1 AND relevance > 0),
    mean = 1 - f/n and stddev = sqrt((f(1-f/n)^2 + (n-f)(f/n)^2)/(n-1));
    requires ``relevance_col`` and a scalar or flat array input (the
    counts need the row-aligned relevance, which a nested explode loses;
    the reference only exercises level<=1). ``relevance_col`` is a
    declared input, so ``Pipeline.fit`` computes it first when another
    stage produces it. ``filter_expr`` is SQL text the pipeline does not
    read, so it may name only columns of the fit's input frame."""

    fitted = ConditionalStandardScaleTransformer

    @keyword_params
    def __init__(self, input_col: str, output_col: str,
                 filter_expr: str | None = None, skip_zeros: bool = False,
                 scaling: str = "standard", relevance_col: str | None = None,
                 sample_fraction: float | None = None, seed: int = 42):
        if scaling not in ("standard", "log10", "binary"):
            raise ValueError("scaling must be standard|log10|binary")
        if scaling == "binary" and relevance_col is None:
            raise ValueError("relevance_col must be set for binary scaling")

    @property
    def input_columns(self) -> list[str]:
        return super().input_columns + ([self.relevance_col] if self.relevance_col else [])

    @staticmethod
    def _binary_moments(n: float, f: float) -> tuple[float, float]:
        """mean = 1 - f/n; stddev per reference _get_binary_moments."""
        if not n > 1.0:  # no (or a single) positive indicator: NaN stats
            return float("nan"), float("nan")
        p = f / n
        mean = 1.0 - p
        var = (f * (1.0 - p) ** 2 + (n - f) * p**2) / (n - 1.0)
        return mean, max(var, 0.0) ** 0.5

    def _stats(self, v: Column) -> tuple[Column, Column]:
        if self.scaling == "binary":
            one = v == 1.0
            rel = F.col(self.relevance_col) > 0
            return (
                F.sum(F.when(one, 1).otherwise(0)).cast("double"),
                F.sum(F.when(one & rel, 1).otherwise(0)).cast("double"),
            )
        if self.skip_zeros:
            v = F.when(v != 0.0, v)
        if self.scaling == "log10":
            v = F.log10(v)
        return F.mean(v), F.stddev_pop(v)

    def _fit(self, src: DataFrame) -> dict:
        if self.filter_expr:
            src = src.where(self.filter_expr)
        if self.scaling != "binary":
            return _fit_stats(self, src, ("mean", "stddev"))
        if column_info(src, self.input_col)[0] >= 2:
            raise ValueError("binary scaling needs a scalar or flat array input column")
        stats = _fit_stats(self, src, ("mean", "stddev"), self._binary_moments)
        return stats | {"scaling": "standard"}


class ImputeTransformer(ElementwiseTransform):
    """Replace mask-value/null with the fitted statistic or a constant
    impute value — numeric OR string columns (reference
    transformers/impute.py:146 and its string vector, test_impute.py:
    'a' -> 'hello')."""

    compatible_dtypes = None  # numeric statistics, or string constants

    @keyword_params
    def __init__(self, input_col: str, output_col: str,
                 statistic: float | str = 0.0,
                 mask_value: float | str | None = None,
                 input_dtype: str | None = None, output_dtype: str | None = None):
        pass

    def fn(self, x: Column) -> Column:
        cond = x.isNull()
        if self.mask_value is not None:
            cond = cond | (x == F.lit(self.mask_value))
        return F.when(cond, F.lit(self.statistic)).otherwise(x)


class ImputeEstimator(Estimator):
    """Fit mean or (exact) median ignoring mask/null (reference
    estimators/impute.py:110-162; median via F.median)."""

    fitted = ImputeTransformer

    @keyword_params
    def __init__(self, input_col: str, output_col: str,
                 strategy: str = "mean", mask_value: float | None = None,
                 sample_fraction: float | None = None, seed: int = 42,
                 input_dtype: str | None = None, output_dtype: str | None = None):
        if strategy not in ("mean", "median"):
            raise ValueError("strategy must be mean|median")

    def _fit(self, src: DataFrame) -> dict:
        level, _ = column_info(src, self.input_col)
        c = self._in(src, self.input_col)
        if level > 0:
            # one scalar statistic pooled over EVERY element of a
            # (possibly nested) array column (reference estimators/
            # test_impute.py nested vector: mean over all 36 elements)
            src = src.select(F.explode(flatten_nested(c, level)).alias("__v"))
            c = F.col("__v")
        v = _masked(c.cast("double"), self.mask_value)
        agg = F.mean(v) if self.strategy == "mean" else F.median(v)
        return {"statistic": _f(src.agg(agg.alias("st")).first()["st"])}
