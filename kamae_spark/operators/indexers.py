"""Vocabulary indexers / one-hot encoders (reference SURVEY.md §2.7).

Re-engineered Spark-first versus the reference:

- vocab FIT uses ``groupBy(col).count().orderBy(...)`` (+ explode for
  array columns) instead of the reference's driver-side RDD
  map/reduceByKey (indexer_utils.py:100-129); frequency ties are broken
  by label ascending so vocab order is DETERMINISTIC (the reference's
  rdd.sortBy leaves ties ambiguous)
- TRANSFORM replaces the reference's per-row Python UDF with its O(|V|)
  ``labels.index()`` scan (user_defined_functions.py:46-102), the
  reference's single worst hot path. Up to ``VOCAB_JOIN_THRESHOLD``
  labels it is a pure Column expression: a map literal
  (``F.map_from_arrays``) lookup — still a per-row scan of the vocab,
  but in codegen — plus an ``xxhash64`` OOV bucket. Past it, a broadcast
  hash join (scalar columns) or a broadcast dict (array columns) probes
  the vocab in constant time per element.
- OOV hashing uses Spark's JVM-side xxhash64 rather than farmhash64
  (the reference chose farmhash for TensorFlow serving parity, which we
  do not target; pyfarmhash is unavailable here). Bucket layout is
  identical: mask->0, OOV buckets after mask, vocab after OOV.

Index layout (reference user_defined_functions.py:46-102):
  null -> 0 (requires num_oov > 0); mask_token -> 0;
  OOV -> pmod(hash, num_oov) + start where start = 1 if mask else 0;
  vocab[i] -> i + num_oov + start.
"""

# no ``from __future__ import annotations``: the big-vocab pandas UDF is
# declared by type hints that name a function-local ``pd``, which
# pyspark could not resolve from a postponed (string) annotation
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kamae_spark.core.dtypes import column_info
from kamae_spark.core.stage import Estimator, Transformer, keyword_params, select_outputs
from kamae_spark.functions.arrays import elementwise, flatten_nested

# Above this vocab size the literal map_from_arrays lookup loses: it is a
# per-row linear scan of the vocab, and the whole vocab is embedded in
# the PLAN (about 0.6 ms of build per label) — switch scalar columns to
# a broadcast hash join against a vocab DataFrame and array columns to
# the broadcast-dict lookup instead (same layout, same OOV hashing; the
# vocab ships once per executor, not per plan). Measured on 4 cores: at
# 128 labels the literal scan and the join cost the same per row (about
# 0.16 s per million scalar rows), and the join adds about 0.25 s of
# fixed cost; on 200k x 5-element arrays the literal map still wins at
# 128 labels (0.58 s against 0.69 s) and loses from about 150 on.
VOCAB_JOIN_THRESHOLD = 128

# Default fit-side vocab bound: `collect_labels` materializes the vocab
# on the driver, so an UNBOUNDED distinct over 100 TB of text (10^7+
# tokens) is a driver OOM waiting to happen. Estimators default to this
# explicit cap (lowest-frequency / alphabetically-last labels beyond it
# become OOV); pass max_num_labels=None to opt into unbounded collection
# for columns known to be low-cardinality.
DEFAULT_MAX_LABELS = 1_000_000


def collect_labels(
    df: DataFrame,
    cols: Sequence[str],
    order: str = "frequencyDesc",
    mask_token: str | None = None,
    max_num_labels: int | None = DEFAULT_MAX_LABELS,
) -> list[str]:
    """Distributed vocab collection over one or more (possibly nested
    array) string columns. Only the final (bounded) vocab reaches the
    driver."""
    if order not in ("frequencyAsc", "frequencyDesc", "alphabeticalAsc", "alphabeticalDesc"):
        raise ValueError(f"unknown string_order_type {order!r}")
    parts = []
    for c in cols:
        level, _ = column_info(df, c)
        col = F.col(c).cast("string") if level == 0 else flatten_nested(F.col(c), level)
        sel = df.select(col.alias("v"))
        if level > 0:
            sel = sel.select(F.explode("v").alias("v")).select(F.col("v").cast("string").alias("v"))
        parts.append(sel)
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    u = u.where(F.col("v").isNotNull())
    if mask_token is not None:
        u = u.where(F.col("v") != mask_token)
    if order.startswith("frequency"):
        asc = order == "frequencyAsc"
        counted = u.groupBy("v").count()
        ordered = counted.orderBy(
            F.col("count").asc() if asc else F.col("count").desc(), F.col("v").asc()
        )
    else:
        asc = order == "alphabeticalAsc"
        ordered = u.distinct().orderBy(F.col("v").asc() if asc else F.col("v").desc())
    if max_num_labels is not None:
        ordered = ordered.limit(int(max_num_labels))
    return ordered.select("v").toArrow().column("v").to_pylist()


def vocab_offset(mask_token: str | None, num_oov_indices: int) -> int:
    """Index of the first vocab label: after the mask slot and the OOV
    buckets."""
    return (1 if mask_token is not None else 0) + num_oov_indices


def literal_lookup(x: Column, labels: Sequence[str], offset: int) -> Column:
    """Small-vocab lookup: a ``map_from_arrays`` literal probe, null for
    unseen labels."""
    labels = list(labels)
    return F.try_element_at(
        F.map_from_arrays(
            F.lit(labels), F.lit(list(range(offset, offset + len(labels))))
        ),
        x,
    )


def index_expr(x: Column, lookup: Column, mask_token: str | None,
               num_oov_indices: int) -> Column:
    """The one index layout (see module docstring) around a vocab
    ``lookup`` that is null for unseen labels. Every tier wraps its own
    lookup: the literal tier ``literal_lookup``, the join tier the
    joined index column, ``fallback_expr`` a typed null."""
    start = 1 if mask_token is not None else 0
    if num_oov_indices > 0:
        oov = (F.pmod(F.xxhash64(x), F.lit(num_oov_indices)) + start).cast("int")
        expr = F.coalesce(lookup, oov)
        expr = F.when(x.isNull(), F.lit(0)).otherwise(expr)
    else:
        expr = lookup  # unseen/null -> null (reference raises per-row)
    if mask_token is not None:
        expr = F.when(x == F.lit(mask_token), F.lit(0)).otherwise(expr)
    return expr.cast("int")


def fallback_expr(x: Column, mask_token: str | None, num_oov_indices: int) -> Column:
    """``index_expr`` with an empty vocab: the value an element gets
    when it is NOT in the vocab (null -> 0, mask -> 0, else OOV hash
    bucket; null when num_oov_indices == 0). Computed JVM-side so the
    big-vocab dict path shares the literal path's exact OOV hashing."""
    return index_expr(x, F.lit(None).cast("int"), mask_token, num_oov_indices)


class _VocabLookup(Transformer):
    """Base of the four fitted vocab transformers: the fitted ``labels``
    applied to each (input, output) column pair of the stage on its own,
    elementwise through any nesting. ``_index`` is one element's index
    (see the module docstring for the layout); ``fn`` is what an element
    maps to, its index unless a subclass says otherwise."""

    compatible_dtypes = ("string",)

    def _index(self, x: Column) -> Column:
        offset = vocab_offset(self.mask_token, self.num_oov_indices)
        return index_expr(x, literal_lookup(x, self.labels, offset),
                          self.mask_token, self.num_oov_indices)

    def fn(self, x: Column) -> Column:
        return self._index(x)

    def _pairs(self, df: DataFrame) -> list[tuple[str, str]]:
        """The (input, output) column pairs, after dtype validation."""
        self._validate(df)
        ins, outs = self.input_columns, self.output_columns
        if len(ins) != len(outs):
            raise ValueError(
                f"{type(self).__name__}: {len(ins)} input columns for "
                f"{len(outs)} output columns; they must align"
            )
        return list(zip(ins, outs))

    def _join_cols(self, df: DataFrame) -> dict[str, int]:
        """Input columns taking a big-vocab path -> nesting level."""
        return {}

    def build(self, df: DataFrame):
        pairs = self._pairs(df)
        if self._join_cols(df):
            return None  # pipeline falls back to transform()
        return {
            out_c: self._out(df, elementwise(df, [in_c], self.fn, columns=[self._in(df, in_c)]))
            for in_c, out_c in pairs
        }


class StringIndexTransformer(_VocabLookup):
    """Fitted vocab lookup (see module docstring for index layout).

    Big-vocab path: when the vocab exceeds ``VOCAB_JOIN_THRESHOLD``,
    scalar string columns switch from the literal-map expression to a
    BROADCAST HASH JOIN against a (label, index) vocab DataFrame —
    identical layout and OOV hashing (the OOV bucket is computed from
    the input column JVM-side either way), but the vocab ships once per
    executor instead of being inlined into every plan. Nested array
    columns switch to a broadcast-dict lookup inside an Arrow-batched
    pandas UDF (``sc.broadcast`` ships the vocab once per executor; the
    OOV/mask/null fallback is precomputed JVM-side by the exact same
    codegen expression the literal path uses, so the UDF is a pure dict
    probe and layout parity is structural). Rationale: a join would need
    explode + order-preserving re-assembly (an extra shuffle per
    column); the literal map would inline a multi-MB vocab into every
    plan and crush the analyzer. Either path replaces an output named
    like an existing column in place, as ``build`` does.
    """

    @keyword_params
    def __init__(self, input_col: str, output_col: str,
                 labels: Sequence[str] = (), mask_token: str | None = None,
                 num_oov_indices: int = 1,
                 input_dtype: str | None = None, output_dtype: str | None = None):
        pass

    def _join_cols(self, df: DataFrame) -> dict[str, int]:
        if len(self.labels) <= VOCAB_JOIN_THRESHOLD:
            return {}
        return {c: column_info(df, c)[0] for c in self.input_columns}

    def transform(self, df: DataFrame) -> DataFrame:
        join_cols = self._join_cols(df)
        if not join_cols:
            return super().transform(df)
        pairs = self._pairs(df)
        # the small-vocab map_from_arrays path raises on duplicate keys;
        # the join path would silently DUPLICATE input rows and the dict
        # path would silently last-wins — fail identically on both sides
        # of the VOCAB_JOIN_THRESHOLD boundary instead
        if len(set(self.labels)) != len(self.labels):
            raise ValueError(
                f"{type(self).__name__}: labels contain duplicate entries; "
                "vocab keys must be unique"
            )
        for in_c, out_c in pairs:
            if join_cols[in_c] == 0:
                df = self._join_lookup(df, in_c, out_c)
            else:
                df = self._dict_lookup(df, in_c, out_c, join_cols[in_c])
        return df

    def _join_lookup(self, df: DataFrame, in_c: str, out_c: str) -> DataFrame:
        import pandas as pd

        spark = df.sparkSession
        offset = vocab_offset(self.mask_token, self.num_oov_indices)
        vocab = spark.createDataFrame(
            pd.DataFrame(
                {
                    "__label": list(self.labels),
                    "__vidx": pd.array(
                        range(offset, offset + len(self.labels)), dtype="int32"
                    ),
                }
            )
        )
        x = self._in(df, in_c)
        joined = df.join(F.broadcast(vocab), x == F.col("__label"), "left")
        expr = index_expr(x, F.col("__vidx"), self.mask_token, self.num_oov_indices)
        return select_outputs(joined, {out_c: self._out(joined, expr)}).drop("__label", "__vidx")

    def _dict_lookup(self, df: DataFrame, in_c: str, out_c: str, level: int) -> DataFrame:
        """Big-vocab lookup for (nested) array columns: broadcast the
        vocab dict once per executor, precompute the non-vocab fallback
        (OOV hash / mask / null) JVM-side with ``fallback_expr`` in the
        same shape as the input, then resolve each element with a pure
        dict probe inside an Arrow-batched pandas UDF. No explode, no
        join, no per-plan literal — row-local and shuffle-free."""
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        offset = vocab_offset(self.mask_token, self.num_oov_indices)
        bc = df.sparkSession.sparkContext.broadcast(
            {lab: i for i, lab in enumerate(self.labels, offset)}
        )
        casted = self._in(df, in_c)
        fb = elementwise(
            df, [in_c],
            lambda x: fallback_expr(x, self.mask_token, self.num_oov_indices),
            columns=[casted],
        )

        def walk(xs, fs, lv):
            if xs is None:
                return None
            d = bc.value
            if lv == 1:
                # fs may arrive as a float ndarray when it holds nulls
                # (Arrow int-with-null -> NaN); normalize NaN to None
                return [
                    d.get(x, None if f is None or f != f else int(f))
                    for x, f in zip(xs, fs)
                ]
            return [walk(x, f, lv - 1) for x, f in zip(xs, fs)]

        def lookup(xs: pd.Series, fs: pd.Series) -> pd.Series:
            return pd.Series(
                [walk(x, f, level) for x, f in zip(xs, fs)], dtype=object
            )

        ret = "array<" * level + "int" + ">" * level
        expr = pandas_udf(lookup, ret)(casted, fb)
        return select_outputs(df, {out_c: self._out(df, expr)})


class _VocabEstimator(Estimator):
    """Fit one vocab over every input column: the fitted ``labels``.
    ``Estimator.fit`` hands them, with the params the ``fitted``
    transformer takes, to that transformer."""

    def _fit(self, src: DataFrame) -> dict:
        return {"labels": collect_labels(src, self.input_columns, self.string_order_type,
                                         self.mask_token, self.max_num_labels)}


class StringIndexEstimator(_VocabEstimator):
    """Fit an ordered vocab (reference estimators/string_index.py:104-136)."""

    fitted = StringIndexTransformer

    @keyword_params
    def __init__(self, input_col: str, output_col: str,
                 string_order_type: str = "frequencyDesc",
                 mask_token: str | None = None, num_oov_indices: int = 1,
                 max_num_labels: int | None = DEFAULT_MAX_LABELS,
                 sample_fraction: float | None = None, seed: int = 42,
                 input_dtype: str | None = None, output_dtype: str | None = None):
        pass


class SharedStringIndexTransformer(StringIndexTransformer):
    """Applies the shared vocab to each input column independently
    (past the vocab threshold, scalar columns take the broadcast-join
    path and array columns the broadcast-dict path, same as
    StringIndexTransformer)."""

    @keyword_params
    def __init__(self, input_cols: Sequence[str] = (), output_cols: Sequence[str] = (),
                 labels: Sequence[str] = (), mask_token: str | None = None,
                 num_oov_indices: int = 1):
        pass


class SharedStringIndexEstimator(_VocabEstimator):
    """One vocab across N columns (reference shared_string_index.py:105);
    yields one transformer per column sharing the fitted labels."""

    fitted = SharedStringIndexTransformer

    @keyword_params
    def __init__(self, input_cols: Sequence[str] = (), output_cols: Sequence[str] = (),
                 string_order_type: str = "frequencyDesc",
                 mask_token: str | None = None, num_oov_indices: int = 1,
                 max_num_labels: int | None = DEFAULT_MAX_LABELS,
                 sample_fraction: float | None = None, seed: int = 42):
        if len(input_cols) != len(output_cols):
            raise ValueError("input_cols and output_cols must align")


class OneHotTransformer(_VocabLookup):
    """One-hot from the fitted vocab (reference one_hot_encode.py:129,
    user_defined_functions.py:105-139) as a pure expression."""

    @keyword_params
    def __init__(self, input_col: str, output_col: str,
                 labels: Sequence[str] = (), mask_token: str | None = None,
                 num_oov_indices: int = 1, drop_unseen: bool = False,
                 input_dtype: str | None = None, output_dtype: str | None = None):
        pass

    def fn(self, x: Column) -> Column:
        offset = vocab_offset(self.mask_token, self.num_oov_indices)
        idx = self._index(x)
        if self.drop_unseen:
            n = len(self.labels)
            target = idx - offset
        else:
            n = len(self.labels) + offset
            target = idx
        return F.transform(
            F.sequence(F.lit(0), F.lit(n - 1)),
            lambda j: F.when(j == target, F.lit(1.0)).otherwise(F.lit(0.0)),
        )


class SharedOneHotTransformer(OneHotTransformer):
    """Shared-vocab one-hot across N columns (reference
    shared_one_hot_encode.py:125)."""

    @keyword_params
    def __init__(self, input_cols: Sequence[str] = (), output_cols: Sequence[str] = (),
                 labels: Sequence[str] = (), mask_token: str | None = None,
                 num_oov_indices: int = 1, drop_unseen: bool = False):
        pass


class SharedOneHotEncodeEstimator(_VocabEstimator):
    """One shared vocab, one-hot per column (reference
    estimators/shared_one_hot_encode.py:117)."""

    fitted = SharedOneHotTransformer

    @keyword_params
    def __init__(self, input_cols: Sequence[str] = (), output_cols: Sequence[str] = (),
                 string_order_type: str = "frequencyDesc",
                 mask_token: str | None = None, num_oov_indices: int = 1,
                 drop_unseen: bool = False, max_num_labels: int | None = DEFAULT_MAX_LABELS,
                 sample_fraction: float | None = None, seed: int = 42):
        if len(input_cols) != len(output_cols):
            raise ValueError("input_cols and output_cols must align")


class OneHotEncodeEstimator(_VocabEstimator):
    """Fit vocab then one-hot (reference estimators/one_hot_encode.py:117)."""

    fitted = OneHotTransformer

    @keyword_params
    def __init__(self, input_col: str, output_col: str,
                 string_order_type: str = "frequencyDesc",
                 mask_token: str | None = None, num_oov_indices: int = 1,
                 drop_unseen: bool = False, max_num_labels: int | None = DEFAULT_MAX_LABELS,
                 sample_fraction: float | None = None, seed: int = 42,
                 input_dtype: str | None = None, output_dtype: str | None = None):
        pass
