"""Round-5 reference test-matrix port, batch 11: pairwise cosine
similarity goldens and string-array-constant shape broadcast. Vectors
from the reference's test_pairwise_cosine_similarity.py:20-70 and
test_string_array_constant.py:20-164."""

from __future__ import annotations

import pytest

from kamae_spark.operators.arrays import PairwiseCosineSimilarity
from kamae_spark.operators.strings import StringArrayConstant


NEST1 = [["a", "b", "c"], ["d", "e", "f"], ["g", "h", "i"], ["j", "k", "l"]]


# -- PairwiseCosineSimilarity ------------------------------------------------


def test_pairwise_cosine_identical_and_orthogonal(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0, 0.0, 1.0]),
         ([0.0, 1.0], [0.0, 1.0, 1.0, 0.0])],
        "query array<double>, candidates array<double>",
    )
    out = PairwiseCosineSimilarity(
        input_cols=["query", "candidates"], output_col="scores", embedding_dim=2
    ).transform(df)
    got = [r["scores"] for r in out.collect()]
    for scores in got:
        assert scores == pytest.approx([1.0, 0.0])


def test_pairwise_cosine_opposite_gives_minus_one(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [-1.0, 0.0])],
        "query array<double>, candidates array<double>",
    )
    out = PairwiseCosineSimilarity(
        input_cols=["query", "candidates"], output_col="scores", embedding_dim=2
    ).transform(df)
    assert out.first()["scores"] == pytest.approx([-1.0])


def test_pairwise_cosine_zero_vector_coalesces_to_zero(spark):
    """Zero denominators coalesce to 0 (reference
    pairwise_cosine_similarity.py:85)."""
    df = spark.createDataFrame(
        [([0.0, 0.0], [1.0, 0.0, 0.0, 0.0])],
        "query array<double>, candidates array<double>",
    )
    out = PairwiseCosineSimilarity(
        input_cols=["query", "candidates"], output_col="scores", embedding_dim=2
    ).transform(df)
    assert out.first()["scores"] == pytest.approx([0.0, 0.0])


def test_pairwise_cosine_nested_pairs_through_outer_levels(spark):
    """Nested inputs pair up through their outer levels, as in
    CosineSimilarity: [n][d] queries x [n][k*d] candidates -> [n][k]."""
    df = spark.createDataFrame(
        [([[1.0, 0.0], [0.0, 2.0]], [[1.0, 0.0, 0.0, 1.0], [0.0, 1.0, -3.0, 0.0]])],
        "query array<array<double>>, candidates array<array<double>>",
    )
    out = PairwiseCosineSimilarity(
        input_cols=["query", "candidates"], output_col="scores", embedding_dim=2
    ).transform(df)
    assert out.schema["scores"].dataType.simpleString() == "array<array<double>>"
    assert out.first()["scores"] == [pytest.approx([1.0, 0.0]), pytest.approx([1.0, 0.0])]


def test_pairwise_cosine_empty_candidates_give_no_scores(spark):
    """One similarity per candidate: an empty candidate array gives an
    empty score array (not one score per index of a count-down
    sequence), next to a row that has candidates."""
    df = spark.createDataFrame(
        [(0, [1.0, 0.0], []), (1, [1.0, 0.0], [1.0, 0.0])],
        "id int, query array<double>, candidates array<double>",
    )
    out = PairwiseCosineSimilarity(
        input_cols=["query", "candidates"], output_col="scores", embedding_dim=2
    ).transform(df)
    got = {r["id"]: r["scores"] for r in out.collect()}
    assert got == {0: [], 1: [pytest.approx(1.0)]}


def test_pairwise_cosine_scalar_inputs_raise_naming_them(spark):
    """An array op given no array input raises a TypeError that names
    its inputs, and a non-float input fails the dtype check."""
    df = spark.createDataFrame([(1.0, 2.0, [1, 2])], "q double, c double, i array<int>")
    with pytest.raises(TypeError, match=r"\['q', 'c'\]"):
        PairwiseCosineSimilarity(input_cols=["q", "c"], output_col="s").transform(df)
    with pytest.raises(TypeError, match="element dtype 'int'"):
        PairwiseCosineSimilarity(input_cols=["i", "i"], output_col="s").transform(df)


# -- StringArrayConstant -----------------------------------------------------


def test_string_array_constant_scalar_input_shapes_flat(spark):
    """transform_expected_1: any scalar input col -> flat constant."""
    df = spark.createDataFrame([("a", 1)], "col4 string, col1 int")
    for col in ("col4", "col1"):
        out = StringArrayConstant(
            output_col="o", values=["a", "b", "c"], input_col=col
        ).transform(df)
        assert out.first()["o"] == ["a", "b", "c"]


def test_string_array_constant_array_input_nests(spark):
    """transform_expected_2: [3]-array input -> constant per element."""
    df = spark.createDataFrame([([1, 2, 3],)], "v array<int>")
    out = StringArrayConstant(
        output_col="o", values=["a", "b", "c"], input_col="v"
    ).transform(df)
    assert out.first()["o"] == [["a", "b", "c"]] * 3


def test_string_array_constant_nested_input(spark):
    """string_array_constant_w_arrays_expected: [4][3] input -> [4][3]
    of the constant."""
    df = spark.createDataFrame([(NEST1,)], "col1 array<array<string>>")
    out = StringArrayConstant(
        output_col="o", values=["hello", "world", "again"], input_col="col1"
    ).transform(df)
    assert out.first()["o"] == [[["hello", "world", "again"]] * 3] * 4


def test_string_array_constant_no_input_col(spark):
    df = spark.createDataFrame([(1,)], "x int")
    out = StringArrayConstant(output_col="o", values=["p", "q"]).transform(df)
    assert out.first()["o"] == ["p", "q"]
