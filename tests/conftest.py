"""Shared test fixtures (FIXTURES.md F1-F8).

Session config mirrors the reference's deterministic setup
(tests/kamae/spark/conftest.py:27-48) but with >1 core so shuffles are
actually exercised: local[4], fixed shuffle partitions, UTC."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("kamae_spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def transcripts(spark):
    """F1: deterministic synthetic transcript table (~50 convs)."""
    from kamae_spark.sources.synth import transcripts_table

    df = transcripts_table(spark, n_convs=50, hot_every=17, hot_len=120)
    df = df.cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def transcripts_pdf(transcripts) -> pd.DataFrame:
    return (
        transcripts.toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )


@pytest.fixture(scope="session")
def annotations(spark, transcripts):
    """F8: sparse annotation table for as-of joins."""
    from kamae_spark.sources.synth import annotations_table

    df = annotations_table(spark, transcripts).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def row_hashes():
    """Sorted row hashes of a frame, null-safe: each column adds its null
    flag and its value as a string, so a null never hashes like any
    value. Two frames with equal hashes hold the same rows."""
    from pyspark.sql import functions as F

    def hashes(df) -> list[int]:
        cols = [F.concat(F.col(c).isNull().cast("string"), F.coalesce(F.col(c).cast("string"), F.lit("")))
                for c in df.columns]
        return sorted(r[0] for r in df.select(F.xxhash64(*cols)).collect())

    return hashes


@pytest.fixture(scope="session")
def scalar_features(spark):
    """F2: reference base fixture (conftest.py:52-60 shape)."""
    return spark.createDataFrame(
        [
            (1.0, 2.0, 3.0, "a", "c", [1.0, 2.0, 3.0]),
            (4.0, 2.0, 6.0, "b", "c", [4.0, 2.0, 6.0]),
            (7.0, 8.0, 3.0, "a", "a", [7.0, 8.0, 3.0]),
        ],
        "col1 double, col2 double, col3 double, col4 string, col5 string, col1_col2_col3 array<double>",
    )


@pytest.fixture(scope="session")
def nested_arrays(spark):
    """F3: nested-array shape-parity fixture, incl. negatives and -0.0."""
    return spark.createDataFrame(
        [
            (
                [[1.0, 2.0, 3.0], [4.0, -5.0, 6.0], [7.0, 8.0, 9.0], [-0.0, 1.0, 2.0]],
                [[["a", "b"], ["c", "d"]], [["e", "f"], ["g", "h"]]],
            ),
            (
                [[2.0, 2.0, 2.0], [3.0, 3.0, 3.0], [4.0, 4.0, 4.0], [5.0, 5.0, 5.0]],
                [[["x", "y"], ["z", "w"]], [["a", "a"], ["b", "b"]]],
            ),
        ],
        "col1 array<array<double>>, col2 array<array<array<string>>>",
    )


@pytest.fixture(scope="session")
def padded_sequences(spark):
    """F4: pad-aware ops fixture (pad = -1.0)."""
    return spark.createDataFrame(
        [
            (1.0, [3.0, 2.0, 1.0, -1.0]),
            (2.0, [100.0, 6.0, 4.0, -1.0]),
            (3.0, [12.0, 8.0, -1.0, -1.0]),
        ],
        "col1 double, col2 array<double>",
    )


@pytest.fixture(scope="session")
def listwise(spark):
    """F5: windowed-aggregate fixture with shared query ids + segments."""
    return spark.createDataFrame(
        [
            (1.0, 5.0, 1.0, "seg_a"),
            (1.0, 2.0, 2.0, "seg_a"),
            (1.0, 9.0, 3.0, "seg_b"),
            (1.0, 4.0, 4.0, "seg_b"),
            (2.0, 7.0, 1.0, "seg_a"),
            (2.0, 1.0, 2.0, "seg_a"),
            (2.0, 8.0, 3.0, "seg_a"),
        ],
        "query_id double, col2 double, col3 double, col4 string",
    )


@pytest.fixture(scope="session")
def datetimes(spark):
    """F7: date/time golden fixture spanning year boundary + leap day."""
    return spark.createDataFrame(
        [
            ("2023-12-31", "2023-12-31 23:59:59.123", 1704067199, 1704067199123),
            ("2024-02-29", "2024-02-29 12:00:00.000", 1709208000, 1709208000000),
            ("2024-01-01", "2024-01-01 00:00:00.001", 1704067200, 1704067200001),
        ],
        "dt string, dtt string, unix_s bigint, unix_ms bigint",
    )
