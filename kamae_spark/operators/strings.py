"""String transformers (reference SURVEY.md §2.4). Pure Column exprs."""

from __future__ import annotations

import re
from typing import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from kamae_spark.core.stage import keyword_params
from kamae_spark.operators.arrays import ArrayTransform
from kamae_spark.operators.rowwise import ElementwiseTransform


class _StrIn(ElementwiseTransform):
    compatible_dtypes = ("string",)


class StringAffix(_StrIn):
    """prefix + x + suffix (reference string_affix.py:154)."""

    @keyword_params
    def __init__(self, input_col: str, output_col: str,
                 prefix: str = "", suffix: str = "",
                 input_dtype: str | None = None, output_dtype: str | None = None):
        pass

    def fn(self, x: Column) -> Column:
        return F.concat(F.lit(self.prefix), x, F.lit(self.suffix))


class StringCase(_StrIn):
    """upper/lower (reference string_case.py:133)."""

    @keyword_params
    def __init__(self, input_col: str, output_col: str, case: str = "lower",
                 input_dtype: str | None = None, output_dtype: str | None = None):
        if case not in ("upper", "lower"):
            raise ValueError("case must be upper|lower")

    def fn(self, x: Column) -> Column:
        return F.upper(x) if self.case == "upper" else F.lower(x)


class StringConcatenate(_StrIn):
    """Join N string columns with a separator (reference string_concatenate.py:119)."""

    @keyword_params
    def __init__(self, input_cols: Sequence[str], output_col: str,
                 separator: str = "_",
                 input_dtype: str | None = None, output_dtype: str | None = None):
        pass

    def fn(self, *cols: Column) -> Column:
        return F.concat_ws(self.separator, *cols)


class StringContains(_StrIn):
    """Boolean: does x contain a substring (constant or 2nd column);
    optional negation. An EMPTY needle matches only the empty string —
    not everything (reference string_contains.py:140-145 special-cases
    needle == '' to x == '', pinned by its expected_0 row 5)."""

    @keyword_params
    def __init__(self, input_cols: Sequence[str], output_col: str,
                 constant: str | None = None, negation: bool = False,
                 input_dtype: str | None = None, output_dtype: str | None = None):
        pass

    def fn(self, *cols: Column) -> Column:
        needle = F.lit(self.constant) if self.constant is not None else cols[1]
        res = F.when(
            needle == F.lit(""), cols[0] == F.lit("")
        ).otherwise(cols[0].contains(needle))
        return ~res if self.negation else res


class StringContainsList(_StrIn):
    """Boolean: does x contain ANY of the constant substrings
    (reference string_contains_list.py:96, OR-fold)."""

    @keyword_params
    def __init__(self, input_col: str, output_col: str,
                 constants: Sequence[str] = (), negation: bool = False,
                 input_dtype: str | None = None, output_dtype: str | None = None):
        if not constants:
            raise ValueError("constants must be non-empty")

    def fn(self, x: Column) -> Column:
        res = x.contains(F.lit(self.constants[0]))
        for c in self.constants[1:]:
            res = res | x.contains(F.lit(c))
        return ~res if self.negation else res


class StringIsInList(_StrIn):
    """Boolean membership in a constant list (reference string_isin_list.py:96)."""

    @keyword_params
    def __init__(self, input_col: str, output_col: str,
                 constants: Sequence[str] = (), negation: bool = False,
                 input_dtype: str | None = None, output_dtype: str | None = None):
        if not constants:
            raise ValueError("constants must be non-empty")

    def fn(self, x: Column) -> Column:
        res = x.isin(*self.constants)
        return ~res if self.negation else res


class StringReplace(_StrIn):
    """Replace regex or literal matches; pattern/replacement from constants
    or further input columns (reference string_replace.py:221-260)."""

    @keyword_params
    def __init__(self, input_cols: Sequence[str], output_col: str,
                 pattern_constant: str | None = None,
                 replacement_constant: str | None = None,
                 regex: bool = True,
                 input_dtype: str | None = None, output_dtype: str | None = None):
        pass

    def fn(self, *cols: Column) -> Column:
        it = iter(cols[1:])
        if self.pattern_constant is not None:
            if self.regex:
                # reference maps an empty regex pattern to "^$"
                # (string_replace.py:253-255)
                pat = self.pattern_constant if self.pattern_constant else "^$"
            else:
                pat = re.escape(self.pattern_constant)
            pattern: Column | str = F.lit(pat)
        else:
            pattern = next(it)
            if self.regex:
                pattern = F.when(pattern == F.lit(""), F.lit("^$")).otherwise(pattern)
            else:
                # escape a column-supplied literal pattern in-engine
                # (reference escapes every non-alnum char: string_replace.py:245-248)
                pattern = F.regexp_replace(pattern, r"([\\\.\[\]\{\}\(\)\*\+\-\?\^\$\|])", r"\\$1")
        # Replacement is passed RAW in both modes (reference
        # string_replace.py:243-258): Java replacement semantics apply,
        # so "\\z" -> "\z" and "$1" is a group ref even when regex=False.
        if self.replacement_constant is not None:
            repl: Column | str = F.lit(self.replacement_constant)
        else:
            repl = next(it)
        return F.regexp_replace(cols[0], pattern, repl)


class SubStringDelimAtIndex(_StrIn):
    """Split at delimiter, take element at index (negative = from end),
    default when out of bounds (reference sub_string_delim_at_index.py:181)."""

    @keyword_params
    def __init__(self, input_col: str, output_col: str,
                 delimiter: str = "_", index: int = 0, default_value: str = "",
                 input_dtype: str | None = None, output_dtype: str | None = None):
        pass

    def fn(self, x: Column) -> Column:
        one_based = self.index + 1 if self.index >= 0 else self.index
        # try_element_at: ANSI mode (Spark 4 default) makes element_at
        # THROW on out-of-bounds instead of returning null
        return F.coalesce(
            F.try_element_at(F.split(x, re.escape(self.delimiter)), F.lit(one_based)),
            F.lit(self.default_value),
        )


class StringToStringList(_StrIn):
    """Split to a fixed-length padded list (reference string_to_string_list.py:177)."""

    @keyword_params
    def __init__(self, input_col: str, output_col: str,
                 separator: str = ",", list_length: int = 1, default_value: str = "",
                 input_dtype: str | None = None, output_dtype: str | None = None):
        pass

    def fn(self, x: Column) -> Column:
        arr = F.slice(F.split(x, re.escape(self.separator)), 1, self.list_length)
        pad = F.array_repeat(
            F.lit(self.default_value),
            F.greatest(F.lit(self.list_length) - F.size(arr), F.lit(0)),
        )
        return F.concat(arr, pad)


class StringListToString(ArrayTransform):
    """Join an array of strings with a separator (reference
    string_list_to_string.py:120). Array op: applies at the innermost
    array axis, so it consumes one nesting level."""

    compatible_dtypes = ("string",)

    @keyword_params
    def __init__(self, input_col: str, output_col: str, separator: str = ",",
                 input_dtype: str | None = None, output_dtype: str | None = None):
        pass

    def afn(self, arr: Column) -> Column:
        return F.concat_ws(self.separator, arr)


class StringArrayConstant(ElementwiseTransform):
    """Inject a constant string array column. With an ``input_col`` the
    constant broadcasts into that column's shape — scalar input gives a
    flat array, an array input nests the constant per element
    (reference string_array_constant.py:86 and its transform_expected_2
    / w_arrays vectors)."""

    @keyword_params
    def __init__(self, output_col: str, values: Sequence[str] = (),
                 input_col: str | None = None,
                 input_dtype: str | None = None, output_dtype: str | None = None):
        pass

    def fn(self, *_: Column) -> Column:
        return F.array(*[F.lit(v) for v in self.values])


class StringSequenceToEmbedding(_StrIn):
    """Parse a doubly-delimited float string into a (seq_len, embedding_dim)
    nested float array, pad with pad_value, optionally reverse the supplied
    (non-pad) vector prefix (reference string_sequence_to_embedding.py:204-285)."""

    @keyword_params
    def __init__(self, input_col: str, output_col: str,
                 seq_len: int = 1, embedding_dim: int = 1,
                 separator: str = ",", sequence_separator: str = ";",
                 pad_value: str = "0.0", reverse: bool = False,
                 input_dtype: str | None = None, output_dtype: str | None = None):
        if separator == sequence_separator:
            raise ValueError("separator and sequence_separator must differ")
        float(pad_value)

    def fn(self, x: Column) -> Column:
        total = self.seq_len * self.embedding_dim
        split_pattern = f"[{re.escape(self.separator)}{re.escape(self.sequence_separator)}]"
        tokens = F.split(x, split_pattern)
        tokens = F.transform(
            tokens, lambda t: F.when(t == F.lit(""), self.pad_value).otherwise(t)
        )
        tokens = F.slice(tokens, 1, total)
        tokens = F.concat(
            tokens,
            F.array_repeat(
                F.lit(self.pad_value),
                F.greatest(F.lit(total) - F.size(tokens), F.lit(0)),
            ),
        )
        floats = F.transform(tokens, lambda t: t.cast("float"))
        vectors = F.transform(
            F.sequence(F.lit(0), F.lit(self.seq_len - 1)),
            lambda i: F.slice(floats, i * self.embedding_dim + 1, self.embedding_dim),
        )
        if not self.reverse:
            return vectors
        supplied = F.filter(
            F.split(x, re.escape(self.sequence_separator)), lambda g: g != F.lit("")
        )
        n = F.least(F.size(supplied), F.lit(self.seq_len))
        return F.concat(
            F.reverse(F.slice(vectors, 1, n)),
            F.slice(vectors, n + 1, F.lit(self.seq_len) - n),
        )
