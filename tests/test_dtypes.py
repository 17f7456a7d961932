"""input_dtype/output_dtype casting and dtype validation (reference:
spark_operation.py:128-206,338-372; docs/achieving_type_parity.md)."""

from __future__ import annotations

import pytest

from kamae_spark.core.pipeline import PipelineModel
from kamae_spark.operators.math import AbsoluteValue, Log


def test_output_dtype_cast(spark):
    df = spark.createDataFrame([(2.0,)], "x double")
    op = Log(input_col="x", output_col="y", alpha=0.0, output_dtype="float")
    out = PipelineModel([op]).transform(df)
    assert out.schema["y"].dataType.typeName() == "float"


def test_input_dtype_cast_string_to_double(spark):
    df = spark.createDataFrame([("-3.5",)], "x string")
    op = AbsoluteValue(input_col="x", output_col="y", input_dtype="double")
    got = PipelineModel([op]).transform(df).first()
    assert got["y"] == 3.5


def test_input_cast_does_not_mutate_source(spark):
    df = spark.createDataFrame([("-3.5",)], "x string")
    op = AbsoluteValue(input_col="x", output_col="y", input_dtype="double")
    out = PipelineModel([op]).transform(df)
    assert out.schema["x"].dataType.typeName() == "string"  # untouched


def test_nested_array_dtype_cast(spark):
    df = spark.createDataFrame([([[-1.0, 2.0]],)], "x array<array<double>>")
    op = AbsoluteValue(input_col="x", output_col="y", output_dtype="float")
    out = PipelineModel([op]).transform(df)
    inner = out.schema["y"].dataType.elementType.elementType
    assert inner.typeName() == "float"
    assert [list(v) for v in out.first()["y"]] == [[1.0, 2.0]]


def test_incompatible_dtype_rejected(spark):
    df = spark.createDataFrame([("abc",)], "x string")
    op = Log(input_col="x", output_col="y")  # numeric-only op
    with pytest.raises(TypeError, match="element dtype 'string'"):
        PipelineModel([op]).transform(df)


def test_negative_zero_normalized_on_cast(spark):
    """Reference spark_operation.py:138-155: any numeric cast forces the
    sign of zero positive (TF parity rule) — scalars, nested arrays, and
    float -> string all normalize; non-zero values and non-cast paths
    are untouched."""
    import math
    import struct

    from kamae_spark.operators.math import Multiply

    def is_neg_zero(v: float) -> bool:
        return v == 0.0 and math.copysign(1.0, v) < 0

    df = spark.createDataFrame(
        [(0.0, -1.0, [[0.0, -2.0]])],
        "x double, m double, arr array<array<double>>",
    )
    # x * -1.0 = -0.0; with an output cast it must come out +0.0
    cast = PipelineModel([
        Multiply(input_cols=["x", "m"], output_col="y", output_dtype="double"),
        Multiply(input_cols=["x", "m"], output_col="y_f", output_dtype="float"),
        Multiply(input_cols=["x", "m"], output_col="y_raw"),  # no cast: stays -0.0
        Multiply(input_cols=["arr", "m"], output_col="arr_y", output_dtype="double"),
    ]).transform(df).first()
    assert not is_neg_zero(cast["y"]) and cast["y"] == 0.0
    assert not is_neg_zero(cast["y_f"]) and cast["y_f"] == 0.0
    assert is_neg_zero(cast["y_raw"])  # uncast path preserved (no silent rewrite)
    assert not is_neg_zero(cast["arr_y"][0][0]) and cast["arr_y"][0][1] == 2.0

    # float source -> string target: "-0.0" would leak the sign textually
    df2 = spark.createDataFrame([(-0.0,), (1.5,)], "x double")
    from kamae_spark.operators.conditional import Identity

    out = PipelineModel([
        Identity(input_col="x", output_col="s", input_dtype="string")
    ]).transform(df2)
    vals = sorted(r["s"] for r in out.collect())
    assert vals == ["0.0", "1.5"], vals


def _dtype_matrix():
    """(stage, input DDL, input row, output column, output type, output
    value) for every operator whose output nests deeper or shallower
    than its input. A callable value maps the uncast output (hashes)."""
    from kamae_spark.operators import arrays as A
    from kamae_spark.operators import hashing as H
    from kamae_spark.operators import indexers as I
    from kamae_spark.operators import strings as S

    dbl, nested = "x array<double>", "x array<array<double>>"
    return [
        (A.ArrayCrop(input_col="x", output_col="y", length=3, pad_value=0.0,
                     output_dtype="float"),
         dbl, ([1.5, 2.5],), "y", "array<float>", [1.5, 2.5, 0.0]),
        (A.ArrayReduceMax(input_col="x", output_col="y", output_dtype="float"),
         nested, ([[1.0, 3.0], [2.0]],), "y", "array<float>", [3.0, 2.0]),
        (A.ArrayReduceMin(input_col="x", output_col="y", output_dtype="bigint"),
         nested, ([[1.0, 3.0], [2.0]],), "y", "array<bigint>", [1, 2]),
        (A.ArraySubtractMinimum(input_col="x", output_col="y", output_dtype="double"),
         "x array<int>", ([3, 5],), "y", "array<double>", [0.0, 2.0]),
        (A.OrdinalArrayEncode(input_col="x", output_col="y", output_dtype="string"),
         "x array<string>", (["b", "a", "b"],), "y", "array<string>", ["0", "1", "0"]),
        (A.PairwiseCosineSimilarity(input_cols=["q", "c"], output_col="y",
                                    embedding_dim=2, output_dtype="float"),
         "q array<double>, c array<double>", ([1.0, 0.0], [1.0, 0.0, 0.0, 1.0]),
         "y", "array<float>", [1.0, 0.0]),
        (H.BloomEncode(input_col="x", output_col="y", num_bins=10, num_hash_fns=2,
                       output_dtype="bigint"),
         "x string", ("a",), "y", "array<bigint>", lambda raw: raw),
        (I.OneHotTransformer(input_col="x", output_col="y", labels=["a", "b"],
                             output_dtype="float"),
         "x string", ("b",), "y", "array<float>", [0.0, 0.0, 1.0]),
        (S.StringSequenceToEmbedding(input_col="x", output_col="y", seq_len=2,
                                     embedding_dim=2, output_dtype="double"),
         "x string", ("1,2;3,4",), "y", "array<array<double>>", [[1.0, 2.0], [3.0, 4.0]]),
        (H.MinHashIndex(input_col="x", output_col="y", num_permutations=2,
                        output_dtype="string"),
         "x array<string>", (["a", "b"],), "y", "array<string>",
         lambda raw: [str(v) for v in raw]),
        (S.StringToStringList(input_col="x", output_col="y", list_length=3,
                              output_dtype="string"),
         "x string", ("a,b",), "y", "array<string>", ["a", "b", ""]),
        (S.StringArrayConstant(input_col="x", output_col="y", values=["a", "b"],
                               output_dtype="string"),
         "x string", ("z",), "y", "array<string>", ["a", "b"]),
        # these already cast at the right depth before the depth was read
        # from the output's type
        (A.CosineSimilarity(input_cols=["a", "b"], output_col="y", output_dtype="float"),
         "a array<array<double>>, b array<array<double>>",
         ([[1.0, 0.0], [0.0, 1.0]], [[1.0, 0.0], [1.0, 0.0]]), "y", "array<float>", [1.0, 0.0]),
        (A.ArrayConcatenate(input_cols=["a", "b"], output_col="y", output_dtype="float"),
         "a array<double>, b double", ([1.0, 2.0], 3.0), "y", "array<float>", [1.0, 2.0, 3.0]),
        (A.ArraySplit(input_col="x", output_cols=["y", "z"], output_dtype="float"),
         dbl, ([1.0, 2.0],), "y", "float", 1.0),
        (S.StringListToString(input_col="x", output_col="y", output_dtype="string"),
         "x array<array<string>>", ([["a", "b"], ["c"]],), "y", "array<string>", ["a,b", "c"]),
        (H.HashIndex(input_col="x", output_col="y", num_bins=10, output_dtype="bigint"),
         "x array<string>", (["a", "b"],), "y", "array<bigint>", lambda raw: raw),
        (I.StringIndexTransformer(input_col="x", output_col="y", labels=["a", "b"],
                                  output_dtype="bigint"),
         "x array<string>", (["a", "z"],), "y", "array<bigint>", [1, 0]),
    ]


@pytest.mark.parametrize(
    "case", _dtype_matrix(),
    ids=lambda c: f"{type(c[0]).__name__}-{c[1].split(',')[0].split(' ', 1)[1]}",
)
def test_output_dtype_reaches_elements_whatever_the_nesting(spark, case):
    """output_dtype casts the innermost elements of the output whether
    the operator keeps, deepens or drops its input's nesting: the full
    output type and the values come out as the cast of the uncast
    output, never as an array cast to one string."""
    from kamae_spark.core.stage import Stage

    op, ddl, row, out_col, want_type, want = case
    df = spark.createDataFrame([row], ddl)
    out = PipelineModel([op]).transform(df)
    assert out.schema[out_col].dataType.simpleString() == want_type
    got = out.first()[out_col]
    if callable(want):
        spec = op.to_spec()
        spec["params"]["output_dtype"] = None
        raw = PipelineModel([Stage.from_spec(spec)]).transform(df).first()[out_col]
        want = want(raw)
    assert got == want
