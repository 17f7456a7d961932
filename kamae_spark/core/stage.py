"""Stage base classes: Transformer / Estimator with JSON-roundtrip params.

Re-expression of the reference's pyspark.ml-based operator contract
(reference: src/kamae/spark/common/spark_operation.py:38,
transformers/base.py:28, estimators/base.py:27) without the pyspark.ml
Params boilerplate: a stage is a plain Python object whose constructor
keywords are its params, consuming named input column(s) and appending
named output column(s).

The key architectural difference from the reference: every row-wise
transformer exposes ``build(df) -> {output_col: Column}`` — a pure
Catalyst expression — so the Pipeline can fuse whole chains of stages
into batched ``select``s instead of thousands of ``withColumn`` calls
(reference known risk: analyzer O(n^2), SURVEY.md §7 risk 4). Stages
that genuinely cannot be a projection (joins, mapInPandas, dedup)
return ``None`` from ``build`` and override ``transform``.
"""

from __future__ import annotations

import inspect
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kamae_spark.core import dtypes as dt

registry: dict[str, type] = {}


def register(cls: type) -> type:
    registry[cls.__name__] = cls
    return cls


class Stage:
    """Base: constructor keyword args are the stage's serializable params."""

    # subclasses may narrow: allowed element dtypes for input columns
    compatible_dtypes: tuple[str, ...] | None = None

    def __init_subclass__(cls, **kw):
        super().__init_subclass__(**kw)
        register(cls)

    def __init__(self, **params: Any):
        self._param_names = tuple(params)
        for k, v in params.items():
            setattr(self, k, v)

    # -- serialization ----------------------------------------------------
    def params(self) -> dict[str, Any]:
        return {k: getattr(self, k) for k in self._param_names}

    def to_spec(self) -> dict[str, Any]:
        return {"class": type(self).__name__, "params": self.params()}

    @classmethod
    def from_spec(cls, spec: dict[str, Any]) -> "Stage":
        klass = registry[spec["class"]]
        return klass(**spec["params"])

    def __repr__(self) -> str:
        kv = ", ".join(f"{k}={getattr(self, k)!r}" for k in self._param_names)
        return f"{type(self).__name__}({kv})"

    # -- column accounting (pipeline DAG edges) ---------------------------
    @property
    def input_columns(self) -> list[str]:
        cols = []
        for attr in ("input_col", "input_cols"):
            v = getattr(self, attr, None)
            if isinstance(v, str):
                cols.append(v)
            elif isinstance(v, (list, tuple)):
                cols.extend(x for x in v if isinstance(x, str))
        return cols

    @property
    def output_columns(self) -> list[str]:
        cols = []
        for attr in ("output_col", "output_cols"):
            v = getattr(self, attr, None)
            if isinstance(v, str):
                cols.append(v)
            elif isinstance(v, (list, tuple)):
                cols.extend(v)
        return cols

    def _in(self, df: DataFrame, col: str) -> Column:
        """Input column with the optional elementwise ``input_dtype``
        cast. An estimator fits on the same cast values (reference
        estimators/base.py:40-56): fitted stats must be computed over
        exactly the values the fitted transformer will later see — e.g.
        a double->float narrowing changes the mean the fit records."""
        c = F.col(col)
        cast_to = getattr(self, "input_dtype", None)
        if cast_to:
            level, src = dt.column_info(df, col)
            c = dt.nested_cast(c, level, cast_to, src=src)
        return c


class Transformer(Stage):
    """A stage that appends output column(s) to a DataFrame.

    Subclasses implement ``build`` (pure-projection fast path), split
    into ``passes`` when one select cannot hold them, and/or override
    ``transform``. ``input_dtype`` / ``output_dtype`` params cast
    elements on the way in / out (reference: spark_operation.py:128-206;
    casting composes into the expression — no temp columns needed because
    exprs never mutate the source column).

    ``lca_fuse``: whether this stage's built expressions may reference
    columns produced earlier in the SAME fused select via Spark's
    lateral column aliases. True for plain expressions; window-function
    stages set False (Spark forbids a lateral alias reference INSIDE a
    window expression: LATERAL_COLUMN_ALIAS_IN_WINDOW), making the
    pipeline flush the pending batch first.
    """

    lca_fuse: bool = True

    def build(self, df: DataFrame) -> dict[str, Column] | None:
        return None

    def passes(self) -> list["Transformer"]:
        """The selects this stage runs as, in order: itself alone, unless
        a later select reads a window output of an earlier one (Spark
        nests no window inside a window aggregate). Each pass declares
        its own inputs and outputs, so the pipeline schedules passes,
        not stages; an output of a pass that the stage does not declare
        is a temporary, dropped once the stage has run."""
        return [self]

    def transform(self, df: DataFrame) -> DataFrame:
        passes = self.passes()
        for p in passes:
            exprs = p.build(df)
            if exprs is None:
                raise NotImplementedError(
                    f"{type(self).__name__} must override transform() or build()"
                )
            df = select_outputs(df, exprs)
        temps = [c for p in passes for c in p.output_columns if c not in self.output_columns]
        return df.drop(*temps) if temps else df

    # -- helpers for subclasses -------------------------------------------
    def _validate(self, df: DataFrame) -> None:
        # input_dtype casts happen before the op sees the values
        # (reference spark_operation.py:246-284), so when a cast is
        # requested the compat check applies to the POST-cast dtype
        cast_to = getattr(self, "input_dtype", None)
        if cast_to:
            if self.compatible_dtypes and cast_to not in self.compatible_dtypes:
                raise TypeError(
                    f"{type(self).__name__}: input_dtype {cast_to!r} not in "
                    f"compatible dtypes {self.compatible_dtypes}"
                )
            return
        dt.check_compatible(
            df, self.input_columns, self.compatible_dtypes, type(self).__name__
        )

    def _out(self, df: DataFrame, expr: Column) -> Column:
        """Apply the optional elementwise ``output_dtype`` cast to ``expr``.

        The cast reaches the innermost elements of the output, whatever
        its nesting: the depth is read from the type of ``expr`` itself
        (one ``df.select(expr).schema``, paid only when ``output_dtype``
        is set), so an operator whose output nests deeper or shallower
        than its input needs nothing of its own. The element type read
        there is also the cast's source, so a float ``-0.0`` cast to a
        non-float type is normalized first (``"0.0"``, not ``"-0.0"``).
        Without ``output_dtype`` the expression is returned untouched."""
        cast_to = getattr(self, "output_dtype", None)
        if cast_to:
            level, elem = dt.element_type(df.select(expr).schema[0].dataType)
            expr = dt.nested_cast(expr, level, cast_to, src=dt.dtype_name(elem))
        return expr


def select_outputs(df: DataFrame, outputs: dict[str, Column]) -> DataFrame:
    """Apply stage outputs in one ``withColumns``, which is one Project.

    An output named like an existing column replaces it in place,
    keeping its position (the reference's withColumn semantics, pipeline
    test valid_stages_with_uid_set_same_as_input); the others follow the
    existing columns in order. Resolution is that of one ``select``: an
    appended expression may read an output appended before it (a lateral
    column alias), and every other reference, a replaced name included,
    reads the input frame.

    ``withColumns`` matches names with the session's resolver, so under
    the default case-insensitive session an output that differs from a
    column (or from another output) only by letter case would silently
    replace it. Such an output raises ``ValueError`` there; a
    case-sensitive session (``spark.sql.caseSensitive=true``) appends it.
    The check reads the frame's schema (which PySpark caches once
    fetched) and reads the session conf only when a twin is found."""
    seen = {c.lower(): c for c in df.columns}
    for n in outputs:
        other = seen.setdefault(n.lower(), n)
        if other != n and df.sparkSession.conf.get("spark.sql.caseSensitive").lower() != "true":
            raise ValueError(
                f"output column {n!r} differs from column {other!r} only by letter "
                "case, which this case-insensitive session treats as one name"
            )
    return df.withColumns(outputs)


class Estimator(Stage):
    """A stage whose ``fit`` runs Spark jobs and returns a fitted Transformer.

    ``fit`` is the one fit path: it samples the input (``_fit_input``),
    runs the subclass's ``_fit`` on it, and hands the result to the
    ``fitted`` transformer class. A subclass states only what the data
    decides: ``_fit(src) -> {param: value}``. Every other param the
    ``fitted`` constructor takes is copied from this estimator by name;
    on a shared name the fitted value wins.

    ``sample_fraction`` optionally subsamples before fitting (reference:
    estimators/base.py:61-64, params/base.py:135-168) — the fit-cost lever
    at 100 TB scale: statistics like mean/stddev/vocab converge on samples.
    """

    fitted: type

    def _fit_input(self, df: DataFrame) -> DataFrame:
        frac = getattr(self, "sample_fraction", None)
        if frac is not None and 0.0 < frac < 1.0:
            return df.sample(fraction=frac, seed=getattr(self, "seed", 42))
        return df

    def _fit(self, src: DataFrame) -> dict[str, Any]:  # pragma: no cover - abstract
        raise NotImplementedError

    def fit(self, df: DataFrame) -> Transformer:
        state = self._fit(self._fit_input(df))
        takes = inspect.signature(self.fitted).parameters
        return self.fitted(**{k: v for k, v in self.params().items() if k in takes} | state)


def keyword_params(fn):
    """Decorator: capture an __init__'s keyword arguments (with defaults
    applied) as the stage's params, so subclasses can write plain,
    documented signatures instead of **kwargs."""

    sig = inspect.signature(fn)

    def wrapper(self, *args, **kwargs):
        bound = sig.bind(self, *args, **kwargs)
        bound.apply_defaults()
        params = {k: v for k, v in bound.arguments.items() if k != "self"}
        Stage.__init__(self, **params)
        fn(self, *args, **kwargs)

    wrapper.__signature__ = sig
    wrapper.__doc__ = fn.__doc__
    return wrapper
