"""Per-operator edge tables, part 3 (round-4 depth pass, VERDICT item 7).

Two families the reference covers heavily that parts 1-2 did not:

- encoder/indexer/scaler DTYPE MATRIX: non-string inputs reaching
  string-keyed ops through ``input_dtype`` casts and non-default
  ``output_dtype`` casts (reference spark_operation.py:128-206 cast
  semantics), including the nested-array and big-vocab interactions
- timezone / DST boundaries for the datetime ops: spring-forward and
  fall-back transitions, DST-invariant date arithmetic, year-boundary
  day-of-week, and epoch round-trips in a non-UTC session timezone
"""

from __future__ import annotations

from datetime import datetime
from zoneinfo import ZoneInfo

import pytest
from pyspark.sql import functions as F

from kamae_spark.operators import indexers
from kamae_spark.operators.indexers import (
    OneHotEncodeEstimator,
    StringIndexEstimator,
    StringIndexTransformer,
)
from kamae_spark.operators.scalers import (
    ImputeEstimator,
    MinMaxScaleEstimator,
    StandardScaleEstimator,
)

NY = ZoneInfo("America/New_York")


def _epoch(y, mo, d, h, mi=0, s=0, tz=NY) -> int:
    return int(datetime(y, mo, d, h, mi, s, tzinfo=tz).timestamp())


# ---------------------------------------------------------------------------
# encoder dtype matrix
# ---------------------------------------------------------------------------

@pytest.mark.parametrize(
    "schema, rows, labels, expected",
    [
        # int column: cast to "1","2",... ; 7 is OOV (num_oov=1 -> 0? no:
        # layout is null->0, OOV bucket at 0 when no mask... see below)
        ("int", [(1,), (2,), (7,), (None,)], ["1", "2", "3"], None),
        ("bigint", [(10,), (20,), (999,), (None,)], ["10", "20"], None),
        ("double", [(1.5,), (2.0,), (9.9,), (None,)], ["1.5", "2.0"], None),
        ("boolean", [(True,), (False,), (None,)], ["true"], None),
    ],
)
def test_string_index_input_dtype_matrix(spark, schema, rows, labels, expected):
    """Non-string columns reach the vocab through input_dtype='string':
    in-vocab values index by layout (offset = num_oov), unseen values
    hash to the OOV bucket, nulls go to 0."""
    df = spark.createDataFrame(rows, f"x {schema}")
    t = StringIndexTransformer(
        input_col="x", output_col="i", labels=labels,
        num_oov_indices=1, input_dtype="string",
    )
    got = {r["x"]: r["i"] for r in t.transform(df).collect()}
    for pos, lab in enumerate(labels, start=1):
        # find the source value whose string form is the label
        for (v,) in rows:
            if v is not None and str(v).lower() == lab:
                assert got[v] == pos, (v, lab, got)
    assert got[None] == 0
    # every unseen non-null value lands in an OOV bucket [0, num_oov)
    seen = {str(v).lower() for (v,) in rows if v is not None}
    for (v,) in rows:
        if v is not None and str(v).lower() not in [l for l in labels]:
            assert 0 <= got[v] < 1, got  # single OOV bucket -> 0


def test_string_index_estimator_fits_through_input_dtype(spark):
    """The ESTIMATOR must fit its vocab on the casted string values, so
    fit->transform over an int column works end-to-end."""
    df = spark.createDataFrame([(i % 3,) for i in range(9)], "x int")
    model = StringIndexEstimator(
        input_col="x", output_col="i",
        string_order_type="alphabeticalAsc", input_dtype="string",
    ).fit(df)
    assert model.labels == ["0", "1", "2"]
    got = {r["x"]: r["i"] for r in model.transform(df).collect()}
    assert got == {0: 1, 1: 2, 2: 3}


@pytest.mark.parametrize("out_dtype, py_type", [("double", float), ("bigint", int)])
def test_string_index_output_dtype_cast(spark, out_dtype, py_type):
    df = spark.createDataFrame([("a",), ("b",)], "x string")
    t = StringIndexTransformer(
        input_col="x", output_col="i", labels=["a", "b"],
        output_dtype=out_dtype,
    )
    vals = [r["i"] for r in t.transform(df).orderBy("x").collect()]
    assert vals == [1, 2]
    assert all(type(v) is py_type for v in vals)


def test_string_index_array_input_dtype_nested_cast(spark):
    """input_dtype casts apply ELEMENTWISE through array nesting."""
    df = spark.createDataFrame([([1, 2, 7, None],)], "x array<int>")
    t = StringIndexTransformer(
        input_col="x", output_col="i", labels=["1", "2"],
        num_oov_indices=1, input_dtype="string",
    )
    (row,) = t.transform(df).collect()
    assert row["i"][:2] == [1, 2]
    assert 0 <= row["i"][2] < 1  # OOV bucket
    assert row["i"][3] == 0  # null element -> 0


def test_string_index_big_vocab_dict_path_with_input_dtype(spark, monkeypatch):
    """The broadcast-dict (big-vocab, array column) path must probe with
    the CASTED values — dtype cast and VOCAB_JOIN_THRESHOLD interact."""
    df = spark.createDataFrame([([1, 2, 7],), ([3, None, 1],)], "x array<int>")
    kw = dict(input_col="x", output_col="i", labels=["1", "2", "3"],
              num_oov_indices=1, input_dtype="string")
    t = StringIndexTransformer(**kw)
    monkeypatch.setattr(indexers, "VOCAB_JOIN_THRESHOLD", 2)
    got_big = [r["i"] for r in t.transform(df).collect()]
    monkeypatch.setattr(indexers, "VOCAB_JOIN_THRESHOLD", 100)
    got_lit = [r["i"] for r in t.transform(df).collect()]
    assert got_big == got_lit
    assert got_big[0][:2] == [1, 2] and got_big[1][0] == 3


def test_string_index_big_vocab_join_path_with_input_dtype(spark, monkeypatch):
    """The broadcast-JOIN (big-vocab, scalar column) path must join on
    the casted value and hash OOV from the casted value."""
    df = spark.createDataFrame([(1,), (2,), (7,), (None,)], "x int")
    kw = dict(input_col="x", output_col="i", labels=["1", "2", "3"],
              num_oov_indices=2, input_dtype="string")
    t = StringIndexTransformer(**kw)
    monkeypatch.setattr(indexers, "VOCAB_JOIN_THRESHOLD", 2)
    got_big = {r["x"]: r["i"] for r in t.transform(df).collect()}
    monkeypatch.setattr(indexers, "VOCAB_JOIN_THRESHOLD", 100)
    got_lit = {r["x"]: r["i"] for r in t.transform(df).collect()}
    assert got_big == got_lit  # incl. the hashed OOV bucket for 7


def test_one_hot_int_input_dtype(spark):
    df = spark.createDataFrame([(1,), (2,), (1,), (9,)], "x int")
    model = OneHotEncodeEstimator(
        input_col="x", output_col="oh", input_dtype="string",
    ).fit(df)
    got = {r["x"]: list(r["oh"]) for r in model.transform(df).collect()}
    width = len(got[1])
    assert sorted(got) == [1, 2, 9]
    assert sum(got[1]) == 1.0 and sum(got[2]) == 1.0
    assert got[1] != got[2]
    assert len({tuple(v) for v in got.values()}) == 3
    assert all(len(v) == width for v in got.values())


def test_standard_scale_int_input_dtype(spark):
    df = spark.createDataFrame([(0,), (10,)], "x int")
    model = StandardScaleEstimator(
        input_col="x", output_col="z", input_dtype="double",
    ).fit(df)
    got = sorted(r["z"] for r in model.transform(df).collect())
    assert got == [-1.0, 1.0]  # mean 5, population std 5


def test_min_max_scale_int_input_dtype(spark):
    df = spark.createDataFrame([(5,), (10,), (15,)], "x int")
    model = MinMaxScaleEstimator(
        input_col="x", output_col="m", input_dtype="double",
    ).fit(df)
    got = sorted(r["m"] for r in model.transform(df).collect())
    assert got == [0.0, 0.5, 1.0]


def test_impute_int_input_dtype_mean(spark):
    df = spark.createDataFrame([(2,), (4,), (None,)], "x int")
    model = ImputeEstimator(
        input_col="x", output_col="f", strategy="mean", input_dtype="double",
    ).fit(df)
    got = sorted(
        r["f"] for r in model.transform(df).collect()
    )
    assert got == [2.0, 3.0, 4.0]


def test_string_index_incompatible_input_dtype_raises(spark):
    """compatible_dtypes guards the cast target, not the source."""
    df = spark.createDataFrame([(1,)], "x int")
    with pytest.raises(Exception, match="input_dtype|compatible"):
        StringIndexTransformer(
            input_col="x", output_col="i", labels=["1"], input_dtype="double",
        ).transform(df)


# ---------------------------------------------------------------------------
# timezone / DST boundaries
# ---------------------------------------------------------------------------

@pytest.fixture
def ny_session(spark):
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        yield spark
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_unix_to_datetime_renders_utc_in_any_session(ny_session):
    """Reference semantics (unix_timestamp_to_date_time.py:134-149):
    the epoch renders as the UTC wall time regardless of session
    timezone — DST of the session zone never shifts the output. Instants
    around the NY spring-forward gap render their plain UTC times."""
    from kamae_spark.operators.datetimes import UnixTimestampToDateTime

    trans = _epoch(2024, 3, 10, 7, tz=ZoneInfo("UTC"))  # 02:00 EST
    df = ny_session.createDataFrame([(trans - 60,), (trans,)], "u bigint")
    out = UnixTimestampToDateTime(input_col="u", output_col="d").transform(df)
    got = [r["d"] for r in out.orderBy("u").collect()]
    assert got == ["2024-03-10 06:59:00.000", "2024-03-10 07:00:00.000"]


def test_unix_to_datetime_fall_back_ambiguous_hour_collapses(ny_session):
    """Reference-faithful corner (unix_timestamp_to_date_time.py:
    134-149): the epoch is rendered through the SESSION-LOCAL wall and
    re-interpreted, so the two instants sharing the NY wall time 01:30
    (EDT then EST) both resolve via the DST-earlier offset — they render
    the SAME UTC string. One ambiguous hour per year per DST zone; UTC
    sessions are unaffected. Pinned so the deviation from perfect
    instant-faithfulness is deliberate, matching the reference."""
    from kamae_spark.operators.datetimes import UnixTimestampToDateTime

    edt = _epoch(2024, 11, 3, 5, 30, tz=ZoneInfo("UTC"))  # 01:30 EDT
    est = _epoch(2024, 11, 3, 6, 30, tz=ZoneInfo("UTC"))  # 01:30 EST
    df = ny_session.createDataFrame([(edt,), (est,)], "u bigint")
    out = UnixTimestampToDateTime(input_col="u", output_col="d").transform(df)
    got = [r["d"] for r in out.orderBy("u").collect()]
    assert got == ["2024-11-03 05:30:00.000", "2024-11-03 05:30:00.000"]


def test_datetime_to_unix_parses_as_utc_in_any_session(ny_session):
    """Reference semantics (date_time_to_unix_timestamp.py:101-134):
    the string is suffixed ' UTC' before parsing, so the session
    timezone (and its DST gaps) never shifts the result."""
    from kamae_spark.operators.datetimes import DateTimeToUnixTimestamp

    utc = ZoneInfo("UTC")
    df = ny_session.createDataFrame(
        [("2024-03-10 01:30:00",), ("2024-03-10 03:30:00",)], "d string"
    )
    out = DateTimeToUnixTimestamp(input_col="d", output_col="u").transform(df)
    got = [r["u"] for r in out.orderBy("d").collect()]
    assert got == [
        pytest.approx(_epoch(2024, 3, 10, 1, 30, tz=utc)),
        pytest.approx(_epoch(2024, 3, 10, 3, 30, tz=utc)),
    ]


def test_datetime_to_unix_date_only_is_midnight_utc(ny_session):
    """A bare date reads as 00:00:00.000 UTC (reference
    date_time_to_unix_timestamp.py:126-129)."""
    from kamae_spark.operators.datetimes import DateTimeToUnixTimestamp

    df = ny_session.createDataFrame([("2024-11-03",)], "d string")
    (row,) = DateTimeToUnixTimestamp(input_col="d", output_col="u").transform(df).collect()
    assert row["u"] == pytest.approx(_epoch(2024, 11, 3, 0, tz=ZoneInfo("UTC")))


def test_date_arithmetic_is_dst_invariant(ny_session):
    """Date-granularity ops must not shift across DST transitions: a
    'day' is a calendar day, not 24h."""
    from kamae_spark.operators.datetimes import DateAdd, DateDiff

    df = ny_session.createDataFrame(
        [("2024-03-09", "2024-03-11"), ("2024-11-02", "2024-11-04")], "a string, b string"
    )
    out = DateAdd(input_cols=["a"], output_col="plus1", num_days=1).transform(df)
    got = {r["a"]: r["plus1"] for r in out.collect()}
    assert got == {"2024-03-09": "2024-03-10", "2024-11-02": "2024-11-03"}
    out2 = DateDiff(input_cols=["a", "b"], output_col="dd").transform(df)
    assert [r["dd"] for r in out2.collect()] == [2, 2]


def test_date_parse_day_of_week_year_boundary(spark):
    """ISO Mon=1 mapping across a year boundary and a leap day."""
    from kamae_spark.operators.datetimes import DateParse

    df = spark.createDataFrame(
        [("2023-12-31",), ("2024-01-01",), ("2024-02-29",)], "d string"
    )
    out = DateParse(input_col="d", output_col="dow", date_part="DayOfWeek").transform(df)
    got = {r["d"]: r["dow"] for r in out.collect()}
    assert got == {"2023-12-31": 7, "2024-01-01": 1, "2024-02-29": 4}


def test_date_parse_parts_of_leap_day(spark):
    from kamae_spark.operators.datetimes import DateParse

    df = spark.createDataFrame([("2024-02-29",)], "d string")
    for part, want in [("Year", 2024), ("MonthOfYear", 2), ("DayOfMonth", 29)]:
        out = DateParse(input_col="d", output_col="p", date_part=part).transform(df)
        assert out.first()["p"] == want, part


def test_unix_roundtrip_in_non_utc_session(ny_session):
    """epoch -> UTC string -> epoch is identity regardless of session
    timezone (both directions are UTC-pinned)."""
    from kamae_spark.operators.datetimes import (
        DateTimeToUnixTimestamp,
        UnixTimestampToDateTime,
    )

    u = _epoch(2024, 6, 1, 12, 0, 0)
    df = ny_session.createDataFrame([(u,)], "u bigint")
    s = UnixTimestampToDateTime(input_col="u", output_col="d").transform(df)
    back = DateTimeToUnixTimestamp(input_col="d", output_col="u2").transform(s)
    assert back.first()["u2"] == pytest.approx(u)


def test_datetime_ms_extraction_non_utc(ny_session):
    from kamae_spark.operators.datetimes import DateTimeToUnixTimestamp

    df = ny_session.createDataFrame([("2024-06-01 12:00:00.123",)], "d string")
    out = DateTimeToUnixTimestamp(input_col="d", output_col="u", unit="ms").transform(df)
    want = _epoch(2024, 6, 1, 12, tz=ZoneInfo("UTC")) * 1000 + 123
    assert out.first()["u"] == pytest.approx(want, abs=0.01)


# ---------------------------------------------------------------------------
# StringReplace: reference parity vectors
# (reference tests/kamae/spark/transformers/test_string_replace.py)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize(
    "x, pat, rep, want",
    [
        # literal column-based match with regex special chars
        ("abc", "a", "x.", "x.bc"),
        ("a", "b", "y!", "a"),
        # replacement is RAW even in literal mode (Java semantics):
        # "\\z" -> "\z" (reference expected_df_2)
        ("b", "b", "\\\\z", "\\z"),
        ("z", "b", "\\\\z", "z"),
        ("b", "b", "*z", "*z"),
        ("c", "d", "x*", "c"),
        ("a.b.c", "a.", "x", "xb.c"),  # '.' matched literally
        ("a?", "a?", "y", "y"),
        ("b!b", "!b", "z", "bz"),
        ("c*c", "c*", "x", "xc"),
        ("", "", "x", "x"),            # empty literal pattern matches empty
        ("", ".*", "x", ""),           # literal '.*' not found in ""
        ("pay$", "y$", "_d", "pa_d"),  # '$' literal in the PATTERN is escaped
        ("a$1b", "$1", "x", "axb"),
    ],
)
def test_string_replace_literal_column_matrix(spark, x, pat, rep, want):
    from kamae_spark.operators.strings import StringReplace

    df = spark.createDataFrame([(x, pat, rep)], "c1 string, c2 string, c3 string")
    out = StringReplace(
        input_cols=["c1", "c2", "c3"], output_col="o", regex=False
    ).transform(df)
    assert out.first()["o"] == want


@pytest.mark.parametrize(
    "x, pat, rep, want",
    [
        ("a.b.c", "a.*c", "x.", "x."),
        ("a?", "a.", "y!", "y!"),
        ("b!b", "b.", "\\\\z", "\\zb"),  # Java replacement: \\ -> literal \
        ("c*c", "c.*c", "x*", "x*"),
        ("", ".*", "x", "x"),            # regex .* matches empty string
        ("", "^$", "x", "x"),
        ("", "", "x", "x"),              # empty regex pattern -> "^$" (ref :253)
        ("abc", "", "x", "abc"),         # "^$" never matches non-empty input
    ],
)
def test_string_replace_regex_column_matrix(spark, x, pat, rep, want):
    from kamae_spark.operators.strings import StringReplace

    df = spark.createDataFrame([(x, pat, rep)], "c1 string, c2 string, c3 string")
    out = StringReplace(
        input_cols=["c1", "c2", "c3"], output_col="o", regex=True
    ).transform(df)
    assert out.first()["o"] == want


def test_string_replace_literal_constant_dollar_and_backslash(spark):
    """Constant-mode literal pattern; replacement stays RAW (Java
    semantics, reference string_replace.py:243-258): "\\\\x9" -> "\\x9"."""
    from kamae_spark.operators.strings import StringReplace

    df = spark.createDataFrame([("cost",), ("accost",)], "c1 string")
    out = StringReplace(
        input_cols=["c1"], output_col="o",
        pattern_constant="cost", replacement_constant="\\\\x9", regex=False,
    ).transform(df)
    assert [r["o"] for r in out.orderBy("c1").collect()] == ["ac\\x9", "\\x9"]


def test_date_parse_time_parts_with_millis(spark):
    from kamae_spark.operators.datetimes import DateParse

    df = spark.createDataFrame([("2022-01-02 10:11:12.345",)], "d string")
    for part, want in [("Hour", 10), ("Minute", 11), ("Second", 12),
                       ("Millisecond", 345), ("DayOfYear", 2)]:
        out = DateParse(input_col="d", output_col="p", date_part=part).transform(df)
        assert out.first()["p"] == want, part


def test_date_parse_nested_array_with_missing_default(spark):
    """Reference behavior (test_date_parse.py *_w_missing suite): empty
    strings map to default_value, elementwise through nested arrays."""
    from kamae_spark.operators.datetimes import DateParse

    df = spark.createDataFrame(
        [([["2022-01-02", "", "2024-04-11"], ["", "2026-01-31", ""]],)],
        "d array<array<string>>",
    )
    out = DateParse(
        input_col="d", output_col="m", date_part="MonthOfYear", default_value=-1
    ).transform(df)
    assert out.first()["m"] == [[1, -1, 4], [-1, 1, -1]]


def test_unix_to_datetime_fractional_carry(spark):
    """Fractional seconds that round up to the next whole second must
    CARRY (1.9996s -> ...:02.000), not truncate a 4-digit '1000' ms
    field to '100' (r6 advice fix)."""
    from kamae_spark.operators.datetimes import UnixTimestampToDateTime

    df = spark.createDataFrame([(1.9996,), (1.4,), (0.9995,)], "u double")
    out = UnixTimestampToDateTime(input_col="u", output_col="d").transform(df)
    got = {r["u"]: r["d"] for r in out.collect()}
    assert got[1.9996] == "1970-01-01 00:00:02.000"
    assert got[1.4] == "1970-01-01 00:00:01.400"
    assert got[0.9995] == "1970-01-01 00:00:01.000"
