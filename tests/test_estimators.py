"""Estimator fit/transform golden tests (reference pattern:
hand-computed fitted params incl. masking/null handling, SURVEY.md §5)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from kamae_spark.core.pipeline import Pipeline, PipelineModel
from kamae_spark.operators import indexers
from kamae_spark.operators.hashing import BloomEncode, HashIndex, MinHashIndex
from kamae_spark.operators.indexers import (
    OneHotEncodeEstimator,
    SharedStringIndexEstimator,
    StringIndexEstimator,
    StringIndexTransformer,
)
from kamae_spark.operators.scalers import (
    ConditionalStandardScaleEstimator,
    ConditionalStandardScaleTransformer,
    ImputeEstimator,
    MinMaxScaleEstimator,
    MinMaxScaleTransformer,
    SingleFeatureArrayStandardScaleEstimator,
    StandardScaleEstimator,
    StandardScaleTransformer,
)


def test_string_index_frequency_desc(spark):
    df = spark.createDataFrame(
        [("a",), ("a",), ("b",), ("c",), ("c",), ("c",), (None,)], "s string"
    )
    est = StringIndexEstimator(input_col="s", output_col="idx", num_oov_indices=1)
    model = est.fit(df)
    # freq desc, ties alpha asc: c(3), a(2), b(1); offset = 1 (1 OOV, no mask)
    assert list(model.labels) == ["c", "a", "b"]
    got = {r["s"]: r["idx"] for r in model.transform(df).collect()}
    assert got["c"] == 1 and got["a"] == 2 and got["b"] == 3
    assert got[None] == 0  # null -> 0 when OOV exists


def test_string_index_mask_and_oov(spark):
    df = spark.createDataFrame([("a",), ("b",), ("MASK",)], "s string")
    model = StringIndexEstimator(
        input_col="s", output_col="idx", mask_token="MASK", num_oov_indices=2,
        string_order_type="alphabeticalAsc",
    ).fit(df)
    assert list(model.labels) == ["a", "b"]  # mask excluded from vocab
    test = spark.createDataFrame([("MASK",), ("a",), ("b",), ("zzz",)], "s string")
    got = {r["s"]: r["idx"] for r in model.transform(test).collect()}
    assert got["MASK"] == 0
    # start=1 (mask), 2 OOV buckets -> vocab starts at 3
    assert got["a"] == 3 and got["b"] == 4
    assert got["zzz"] in (1, 2)  # OOV bucket


def test_string_index_nested_array(spark):
    df = spark.createDataFrame([([["x", "y"], ["x", "x"]],)], "s array<array<string>>")
    model = StringIndexEstimator(input_col="s", output_col="idx").fit(df)
    assert list(model.labels) == ["x", "y"]
    got = model.transform(df).first()["idx"]
    assert [list(v) for v in got] == [[1, 2], [1, 1]]


def test_shared_string_index(spark):
    df = spark.createDataFrame([("a", "b"), ("a", "c")], "s1 string, s2 string")
    model = SharedStringIndexEstimator(
        input_cols=["s1", "s2"], output_cols=["i1", "i2"],
        string_order_type="frequencyDesc",
    ).fit(df)
    assert list(model.labels) == ["a", "b", "c"]
    row = model.transform(df).collect()[0]
    assert row["i1"] == 1


def test_one_hot(spark):
    df = spark.createDataFrame([("a",), ("b",), ("a",)], "s string")
    model = OneHotEncodeEstimator(input_col="s", output_col="oh").fit(df)
    got = {r["s"]: list(r["oh"]) for r in model.transform(df).collect()}
    # layout: [oov, a, b]
    assert got["a"] == [0.0, 1.0, 0.0]
    assert got["b"] == [0.0, 0.0, 1.0]
    model_d = OneHotEncodeEstimator(
        input_col="s", output_col="oh", drop_unseen=True
    ).fit(df)
    got_d = {r["s"]: list(r["oh"]) for r in model_d.transform(df).collect()}
    assert got_d["a"] == [1.0, 0.0]
    unseen = spark.createDataFrame([("zzz",)], "s string")
    assert list(model_d.transform(unseen).first()["oh"]) == [0.0, 0.0]


def test_standard_scale_scalar_and_mask(spark):
    df = spark.createDataFrame([(1.0,), (2.0,), (3.0,), (-1.0,)], "x double")
    model = StandardScaleEstimator(input_col="x", output_col="z", mask_value=-1.0).fit(df)
    assert abs(model.mean - 2.0) < 1e-9
    assert abs(model.stddev - np.std([1, 2, 3])) < 1e-9  # population stddev
    got = {r["x"]: r["z"] for r in model.transform(df).collect()}
    assert got[-1.0] == -1.0  # mask passes through
    assert abs(got[2.0]) < 1e-9


def test_standard_scale_per_element(spark):
    df = spark.createDataFrame(
        [([1.0, 10.0],), ([3.0, 30.0],)], "v array<double>"
    )
    model = StandardScaleEstimator(input_col="v", output_col="z").fit(df)
    assert model.mean == [2.0, 20.0]
    got = model.transform(df).collect()
    np.testing.assert_allclose(list(got[0]["z"]), [-1.0, -1.0])
    np.testing.assert_allclose(list(got[1]["z"]), [1.0, 1.0])


def test_single_feature_array_scale(spark):
    df = spark.createDataFrame([([1.0, 2.0],), ([3.0, 4.0],)], "v array<double>")
    model = SingleFeatureArrayStandardScaleEstimator(input_col="v", output_col="z").fit(df)
    assert abs(model.mean - 2.5) < 1e-9
    assert abs(model.stddev - np.std([1, 2, 3, 4])) < 1e-9


def test_min_max_scale(spark):
    df = spark.createDataFrame([(0.0,), (5.0,), (10.0,)], "x double")
    model = MinMaxScaleEstimator(input_col="x", output_col="z").fit(df)
    got = sorted(r["z"] for r in model.transform(df).collect())
    np.testing.assert_allclose(got, [0.0, 0.5, 1.0])


def test_conditional_standard_scale(spark):
    df = spark.createDataFrame(
        [(1.0, "keep"), (3.0, "keep"), (100.0, "drop"), (0.0, "keep")],
        "x double, tag string",
    )
    model = ConditionalStandardScaleEstimator(
        input_col="x", output_col="z", filter_expr="tag = 'keep'", skip_zeros=True
    ).fit(df)
    assert abs(model.mean - 2.0) < 1e-9  # only 1.0 and 3.0 contribute
    got = {r["x"]: r["z"] for r in model.transform(df).collect()}
    assert got[0.0] == 0.0  # skip_zeros passthrough


@pytest.mark.parametrize("make", [
    lambda: StandardScaleTransformer(input_col="x", output_col="z",
                                     mean=[0.0, 1.0], stddev=[1.0, 2.0]),
    lambda: MinMaxScaleTransformer(input_col="x", output_col="z",
                                   min=[0.0, 1.0], max=[1.0, 2.0]),
    lambda: ConditionalStandardScaleTransformer(input_col="x", output_col="z",
                                                mean=[0.0, 1.0], stddev=[1.0, 2.0]),
], ids=["standard", "min_max", "conditional"])
def test_affine_list_stats_on_scalar_column_raise(spark, make):
    df = spark.createDataFrame([(1.0,)], "x double")
    with pytest.raises(TypeError, match="array input column"):
        make().transform(df)


def test_conditional_binary_rejects_nested_input(spark):
    df = spark.createDataFrame(
        [([[1.0, 0.0]], 1.0), ([[0.0, 1.0]], 0.0)], "v array<array<double>>, rel double"
    )
    est = ConditionalStandardScaleEstimator(
        input_col="v", output_col="z", scaling="binary", relevance_col="rel"
    )
    with pytest.raises(ValueError, match="binary scaling"):
        est.fit(df)


def test_impute_mean_and_median(spark):
    df = spark.createDataFrame([(1.0,), (2.0,), (9.0,), (None,), (-1.0,)], "x double")
    m_mean = ImputeEstimator(input_col="x", output_col="y", strategy="mean",
                             mask_value=-1.0).fit(df)
    assert abs(m_mean.statistic - 4.0) < 1e-9
    m_med = ImputeEstimator(input_col="x", output_col="y", strategy="median",
                            mask_value=-1.0).fit(df)
    assert m_med.statistic == 2.0
    got = {str(r["x"]): r["y"] for r in m_mean.transform(df).collect()}
    assert got["None"] == 4.0 and got["-1.0"] == 4.0 and got["2.0"] == 2.0


def test_hash_index_deterministic_range(spark):
    df = spark.createDataFrame([("a",), ("b",), (None,), ("M",)], "s string")
    op = HashIndex(input_col="s", output_col="h", num_bins=10, mask_value="M")
    got = {str(r["s"]): r["h"] for r in PipelineModel([op]).transform(df).collect()}
    assert got["None"] == 0 and got["M"] == 0
    assert 1 <= got["a"] <= 9 and 1 <= got["b"] <= 9
    # determinism across runs
    again = {str(r["s"]): r["h"] for r in PipelineModel([op]).transform(df).collect()}
    assert got == again


def test_bloom_encode(spark):
    df = spark.createDataFrame([("a",)], "s string")
    op = BloomEncode(input_col="s", output_col="b", num_bins=100, num_hash_fns=3,
                     use_offsets=True)
    got = list(PipelineModel([op]).transform(df).first()["b"])
    assert len(got) == 3
    for k, v in enumerate(got):
        assert k * 100 + 1 <= v <= k * 100 + 99


def test_minhash_similarity_property(spark):
    """Similar sets share more minhash components than dissimilar ones."""
    df = spark.createDataFrame(
        [
            ("x", ["a", "b", "c", "d", "e", "f", "g", "h"]),
            ("y", ["a", "b", "c", "d", "e", "f", "g", "zzz"]),
            ("z", ["p", "q", "r", "s", "t", "u", "v", "w"]),
        ],
        "id string, toks array<string>",
    )
    op = MinHashIndex(input_col="toks", output_col="sig", num_permutations=64)
    rows = {r["id"]: list(r["sig"]) for r in PipelineModel([op]).transform(df).collect()}
    sim_xy = sum(a == b for a, b in zip(rows["x"], rows["y"])) / 64
    sim_xz = sum(a == b for a, b in zip(rows["x"], rows["z"])) / 64
    assert sim_xy > 0.5 > sim_xz


def test_estimator_in_pipeline_with_sampling(spark):
    from kamae_spark.operators.math import Log

    df = spark.createDataFrame([(float(i),) for i in range(1, 101)], "x double")
    pipe = Pipeline(
        [
            Log(input_col="x", output_col="lx"),
            StandardScaleEstimator(input_col="lx", output_col="z",
                                   sample_fraction=0.5, seed=7),
        ]
    )
    model = pipe.fit(df)
    out = model.transform(df)
    assert out.columns[-1] == "z"
    assert out.count() == 100


def test_shared_one_hot(spark):
    from kamae_spark.operators.indexers import SharedOneHotEncodeEstimator

    df = spark.createDataFrame([("a", "b"), ("a", "c")], "s1 string, s2 string")
    model = SharedOneHotEncodeEstimator(
        input_cols=["s1", "s2"], output_cols=["o1", "o2"],
    ).fit(df)
    row = model.transform(df).collect()[0]
    # shared vocab: a(2), b(1), c(1) -> [oov, a, b, c]
    assert list(row["o1"]) == [0.0, 1.0, 0.0, 0.0]
    assert list(row["o2"]) == [0.0, 0.0, 1.0, 0.0]


def test_conditional_binary_scaling(spark):
    from kamae_spark.operators.scalers import ConditionalStandardScaleEstimator

    # x binary indicator; relevance > 0 for 3 of the 4 ones
    rows = [(1.0, 1.0), (1.0, 2.0), (1.0, 0.5), (1.0, 0.0), (0.0, 5.0)]
    df = spark.createDataFrame(rows, "x double, rel double")
    model = ConditionalStandardScaleEstimator(
        input_col="x", output_col="z", scaling="binary", relevance_col="rel"
    ).fit(df)
    n, f = 4.0, 3.0
    p = f / n
    assert abs(model.mean - (1 - p)) < 1e-9
    exp_std = ((f * (1 - p) ** 2 + (n - f) * p**2) / (n - 1)) ** 0.5
    assert abs(model.stddev - exp_std) < 1e-9


def test_conditional_binary_relevance_produced_in_pipeline(spark):
    """``relevance_col`` is a declared input of the binary scaler, so
    ``Pipeline.fit`` orders its producer first and keeps it in the
    fit's output-pruned input, in either declaration order."""
    from kamae_spark.operators.math import Sum

    rows = [(1.0, 1.0), (1.0, 2.0), (1.0, 0.5), (1.0, 0.0), (0.0, 5.0)]
    df = spark.createDataFrame(rows, "x double, r0 double")
    rel = Sum(input_cols=["r0"], constant=0.0, output_col="rel")
    est = ConditionalStandardScaleEstimator(
        input_col="x", output_col="xs", scaling="binary", relevance_col="rel"
    )
    n, f = 4.0, 3.0
    p = f / n
    exp_std = ((f * (1 - p) ** 2 + (n - f) * p**2) / (n - 1)) ** 0.5
    for stages in ([rel, est], [est, rel]):
        fitted = Pipeline(stages).fit(df).stages[-1]
        assert isinstance(fitted, ConditionalStandardScaleTransformer)
        assert abs(fitted.mean - (1 - p)) < 1e-9
        assert abs(fitted.stddev - exp_std) < 1e-9
    assert est.input_columns == ["x", "rel"]


def test_conditional_scale_array_per_element(spark):
    """Reference parity: conditional scaling over an ARRAY input fits
    per-element moments (conditional_standard_scale.py:398-540), for
    both standard and binary modes."""
    import numpy as np

    rows = [
        ([1.0, 10.0], 1.0, [1.0, 0.0]),
        ([2.0, 20.0], 0.0, [1.0, 1.0]),
        ([3.0, 30.0], 1.0, [0.0, 1.0]),
        ([4.0, 40.0], 0.0, [1.0, 0.0]),
    ]
    df = spark.createDataFrame(
        rows, "v array<double>, rel double, b array<double>"
    )
    got = (
        ConditionalStandardScaleEstimator(input_col="v", output_col="z")
        .fit(df).transform(df).orderBy(F.element_at("v", 1)).toPandas()
    )
    V = np.array([r[0] for r in rows])
    exp = (V - V.mean(axis=0)) / V.std(axis=0)
    np.testing.assert_allclose(np.stack(got["z"].map(np.asarray)), exp, atol=1e-12)

    gotb = (
        ConditionalStandardScaleEstimator(
            input_col="b", output_col="zb", scaling="binary", relevance_col="rel"
        )
        .fit(df).transform(df).orderBy(F.element_at("v", 1)).toPandas()
    )
    B = np.array([r[2] for r in rows])
    rel = np.array([r[1] for r in rows]) > 0
    n = (B == 1.0).sum(axis=0).astype(float)
    f = ((B == 1.0) & rel[:, None]).sum(axis=0).astype(float)
    p = f / n
    mean = 1.0 - p
    std = np.sqrt((f * (1 - p) ** 2 + (n - f) * p**2) / (n - 1))
    np.testing.assert_allclose(
        np.stack(gotb["zb"].map(np.asarray)), (B - mean) / std, atol=1e-12
    )


# ---------------------------------------------------------------------------
# round 3: big-vocab broadcast-join lookup path
# ---------------------------------------------------------------------------

def test_big_vocab_broadcast_join_path(spark, monkeypatch):
    """Past the vocab threshold the scalar lookup must be a broadcast
    hash join (no million-entry literal map in the plan) with the exact
    same index layout as the literal path."""
    from kamae_spark.operators.indexers import StringIndexTransformer

    n = 1_000_000
    labels = [f"tok{i:07d}" for i in range(n)]
    t = StringIndexTransformer(
        input_col="w", output_col="idx", labels=labels,
        mask_token="<mask>", num_oov_indices=2,
    )
    df = spark.createDataFrame(
        [("tok0000000",), ("tok0999999",), ("UNSEEN",), (None,), ("<mask>",)],
        "w string",
    )
    out = t.transform(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    got = {r["w"]: r["idx"] for r in out.collect()}
    # layout: mask->0, OOV in [1, 2], vocab from 3
    assert got["tok0000000"] == 3
    assert got["tok0999999"] == 3 + n - 1
    assert got["<mask>"] == 0
    assert got[None] == 0
    assert got["UNSEEN"] in (1, 2)

    # small-vocab literal path produces the identical layout
    small = StringIndexTransformer(
        input_col="w", output_col="idx", labels=labels[:10],
        mask_token="<mask>", num_oov_indices=2,
    )
    df2 = spark.createDataFrame(
        [("tok0000003",), ("nope",), (None,), ("<mask>",)], "w string"
    )
    monkeypatch.setattr(indexers, "VOCAB_JOIN_THRESHOLD", 100)
    lit_rows = {r["w"]: r["idx"] for r in small.transform(df2).collect()}
    monkeypatch.setattr(indexers, "VOCAB_JOIN_THRESHOLD", 4)  # force join path
    join_rows = {r["w"]: r["idx"] for r in small.transform(df2).collect()}
    assert lit_rows == join_rows


def test_shared_big_vocab_join_path(spark, monkeypatch):
    """SharedStringIndexTransformer takes the join path per scalar col."""
    from kamae_spark.operators.indexers import SharedStringIndexTransformer

    labels = [f"w{i}" for i in range(50)]
    t = SharedStringIndexTransformer(
        input_cols=["a", "b"], output_cols=["ia", "ib"], labels=labels,
        num_oov_indices=1,
    )
    monkeypatch.setattr(indexers, "VOCAB_JOIN_THRESHOLD", 10)  # force join path
    df = spark.createDataFrame([("w0", "w49"), ("w5", "zz")], "a string, b string")
    out = t.transform(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    rows = out.orderBy("a").collect()
    assert [r["ia"] for r in rows] == [1, 6]
    assert rows[0]["ib"] == 50
    assert rows[1]["ib"] == 0  # OOV with 1 oov index, no mask -> 0


def test_array_big_vocab_dict_path(spark, monkeypatch):
    """Past the vocab threshold, ARRAY columns switch to the
    broadcast-dict pandas-UDF lookup: no literal vocab map in the plan,
    and element-exact parity with the literal path (same OOV hashing,
    computed JVM-side) across in-vocab / OOV / null element / mask /
    null array / empty array."""
    from kamae_spark.operators.indexers import StringIndexTransformer

    labels = [f"tok{i}" for i in range(50)]
    rows = [
        (["tok0", "tok49", "UNSEEN"],),
        (["<mask>", None, "tok7"],),
        (None,),
        ([],),
    ]
    df = spark.createDataFrame(rows, "w array<string>")
    t = StringIndexTransformer(
        input_col="w", output_col="idx", labels=labels,
        mask_token="<mask>", num_oov_indices=2,
    )
    monkeypatch.setattr(indexers, "VOCAB_JOIN_THRESHOLD", 100)
    lit = t.transform(df)
    monkeypatch.setattr(indexers, "VOCAB_JOIN_THRESHOLD", 4)
    out = t.transform(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan or "pythonUDF" in plan.lower()
    assert "map_from_arrays" not in plan
    assert "Exchange" not in plan  # row-local: no join, no shuffle
    got = [r["idx"] for r in out.collect()]
    want = [r["idx"] for r in lit.collect()]
    assert got == want
    # layout sanity independent of the parity check
    by_first = {
        tuple(r["w"]): r["idx"] for r in out.collect() if r["w"] is not None
    }
    assert by_first[("tok0", "tok49", "UNSEEN")][0] == 3  # mask + 2 oov
    assert by_first[("tok0", "tok49", "UNSEEN")][1] == 3 + 49
    assert by_first[("tok0", "tok49", "UNSEEN")][2] in (1, 2)
    assert by_first[("<mask>", None, "tok7")][:2] == [0, 0]
    assert by_first[()] == []
    assert [r["idx"] for r in out.where("w is null").collect()] == [None]


def test_array_big_vocab_dict_path_no_oov(spark, monkeypatch):
    """num_oov_indices=0: unseen/null elements -> null, matching the
    literal path contract."""
    from kamae_spark.operators.indexers import StringIndexTransformer

    labels = [f"t{i}" for i in range(20)]
    df = spark.createDataFrame(
        [(["t0", "zz", None],)], "w array<string>"
    )
    t = StringIndexTransformer(
        input_col="w", output_col="idx", labels=labels, num_oov_indices=0,
    )
    monkeypatch.setattr(indexers, "VOCAB_JOIN_THRESHOLD", 100)
    want = t.transform(df).collect()[0]["idx"]
    monkeypatch.setattr(indexers, "VOCAB_JOIN_THRESHOLD", 4)
    got = t.transform(df).collect()[0]["idx"]
    assert got == want == [0, None, None]


def test_nested_array_big_vocab_dict_path(spark, monkeypatch):
    """Level-2 nested arrays take the dict path with exact parity."""
    from kamae_spark.operators.indexers import StringIndexTransformer

    labels = [f"t{i}" for i in range(30)]
    df = spark.createDataFrame(
        [([["t0", "UNSEEN"], None, ["t29", None]],), (None,)],
        "w array<array<string>>",
    )
    t = StringIndexTransformer(
        input_col="w", output_col="idx", labels=labels, num_oov_indices=1,
    )
    monkeypatch.setattr(indexers, "VOCAB_JOIN_THRESHOLD", 100)
    want = [r["idx"] for r in t.transform(df).collect()]
    monkeypatch.setattr(indexers, "VOCAB_JOIN_THRESHOLD", 4)
    got = [r["idx"] for r in t.transform(df).collect()]
    assert got == want
    assert got[0][1] is None  # inner null array preserved


def test_big_vocab_duplicate_labels_raise(spark, monkeypatch):
    """The small-vocab map_from_arrays path raises on duplicate vocab
    keys; the big-vocab join/dict paths must fail the same way instead
    of silently duplicating rows (join) or last-wins (dict)."""
    import pytest

    df = spark.createDataFrame([("a",), ("b",)], "s string")
    t = StringIndexTransformer(
        input_col="s", output_col="i",
        labels=["a", "b", "c", "a", "d", "e"],
    )
    monkeypatch.setattr(indexers, "VOCAB_JOIN_THRESHOLD", 4)
    with pytest.raises(ValueError, match="duplicate"):
        t.transform(df)


def test_string_index_cap_boundary_tiebreak_deterministic(spark):
    """max_num_labels truncation at a frequency-tie boundary must be
    deterministic: ties break by label ASC, so the alphabetically-first
    tied labels survive the cap and the rest become OOV (VERDICT r4 #7;
    the reference's rdd.sortBy leaves this ambiguous)."""
    from kamae_spark.operators.indexers import StringIndexEstimator

    rows = [("hot",)] * 5 + [(f"t{i:02d}",) for i in range(10)]
    df = spark.createDataFrame(rows, "s string")
    for _ in range(2):  # same vocab on refit (determinism, not luck)
        m = StringIndexEstimator(
            input_col="s", output_col="i", max_num_labels=4
        ).fit(df)
        # hot (freq 5) first, then the tied freq-1 labels in label order
        assert m.labels == ["hot", "t00", "t01", "t02"]
    out = {r["s"]: r["i"] for r in m.transform(df).distinct().collect()}
    # layout: no mask -> OOV bucket 0..0 (num_oov=1 -> always 0+start=0)
    assert out["hot"] == 1 + 0  # offset = num_oov(1) + start(0) -> index 1
    assert out["t00"] == 2 and out["t01"] == 3 and out["t02"] == 4
    for dropped in ("t03", "t07", "t09"):
        assert out[dropped] == 0  # beyond the cap -> OOV bucket


def test_minmax_and_impute_fit_see_input_dtype_cast(spark):
    """Fitted statistics must be computed over the input_dtype-CAST
    values (reference estimators/base.py:40-56): 2^24+1 is not
    representable in float32, so a float-narrowing fit must record
    16777216, not 16777217 (ADVICE r4)."""
    from kamae_spark.operators.scalers import (
        ImputeEstimator, MinMaxScaleEstimator, StandardScaleEstimator,
    )

    big = 16777217.0  # 2^24 + 1 -> 16777216.0 as float32
    df = spark.createDataFrame([(big,), (big,)], "v double")
    mm = MinMaxScaleEstimator(input_col="v", output_col="o",
                              input_dtype="float").fit(df)
    assert mm.min == 16777216.0 and mm.max == 16777216.0
    im = ImputeEstimator(input_col="v", output_col="o",
                         input_dtype="float").fit(df)
    assert im.statistic == 16777216.0
    ss = StandardScaleEstimator(input_col="v", output_col="o",
                                input_dtype="float").fit(df)
    assert ss.mean == 16777216.0


@pytest.mark.parametrize("col", ["s", "arr"])
def test_big_vocab_paths_replace_in_place(spark, monkeypatch, col):
    """An output named like its input replaces the column in place on
    the big-vocab join (scalar) and dict (array) paths too, as on the
    literal path: same columns, same order, indexed values."""
    from kamae_spark.operators.indexers import SharedStringIndexTransformer

    df = spark.createDataFrame([("a", 1, ["b", "z"])], "s string, i int, arr array<string>")
    monkeypatch.setattr(indexers, "VOCAB_JOIN_THRESHOLD", 1)
    want = {"s": 1, "arr": [2, 0]}[col]
    for t in (
        StringIndexTransformer(input_col=col, output_col=col, labels=["a", "b"]),
        SharedStringIndexTransformer(input_cols=[col], output_cols=[col], labels=["a", "b"]),
    ):
        out = t.transform(df)
        assert out.columns == ["s", "i", "arr"]
        assert out.first()[col] == want


def test_shared_vocab_transformers_check_input_dtype(spark):
    """The shared vocab transformers reject a non-string input column
    with the dtype check of the single-column ones."""
    from kamae_spark.operators.indexers import (
        SharedOneHotTransformer, SharedStringIndexTransformer,
    )

    df = spark.createDataFrame([("a", 1)], "s string, n int")
    for cls in (SharedStringIndexTransformer, SharedOneHotTransformer):
        with pytest.raises(TypeError, match="element dtype 'int'"):
            cls(input_cols=["s", "n"], output_cols=["o1", "o2"], labels=["a"]).transform(df)


def test_shared_vocab_transformers_need_aligned_columns(spark):
    """More input than output columns raises instead of silently
    dropping the extra input."""
    from kamae_spark.operators.indexers import (
        SharedOneHotTransformer, SharedStringIndexTransformer,
    )

    df = spark.createDataFrame([("a", "b")], "s string, t string")
    for cls in (SharedStringIndexTransformer, SharedOneHotTransformer):
        with pytest.raises(ValueError, match="must align"):
            cls(input_cols=["s", "t"], output_cols=["o1"], labels=["a"]).transform(df)
