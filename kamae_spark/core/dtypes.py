"""Dtype policy shared by all stages.

Mirrors the reference's fixed Spark-type enum and nested-array-only data
model (reference: src/kamae/utils/dtype_enum.py:31-54,
docs/achieving_shape_parity.md:11-21): supported element types are the
eight primitives below; nested data is homogeneous arrays of any depth —
no maps, no structs in the public data model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

# kamae name -> Spark type (reference dtype_enum.py:31-54)
DTYPES: dict[str, T.DataType] = {
    "string": T.StringType(),
    "bigint": T.LongType(),
    "int": T.IntegerType(),
    "smallint": T.ShortType(),
    "tinyint": T.ByteType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "boolean": T.BooleanType(),
}

NUMERIC = ("bigint", "int", "smallint", "tinyint", "float", "double")
ALL = tuple(DTYPES)

_SPARK_TO_NAME = {type(v): k for k, v in DTYPES.items()}


def element_type(dt: T.DataType) -> tuple[int, T.DataType]:
    """Return (nesting_level, innermost element type) for a possibly-nested
    ArrayType (reference: array_utils.py:46-69). Scalars have level 0."""
    level = 0
    while isinstance(dt, T.ArrayType):
        dt = dt.elementType
        level += 1
    return level, dt


def dtype_name(dt: T.DataType) -> str:
    """Kamae name of a (scalar) Spark type; '?' for unsupported types."""
    return _SPARK_TO_NAME.get(type(dt), "?")


def column_info(df, col: str) -> tuple[int, str]:
    """(nesting level, element dtype name) of ``col`` in ``df``'s schema."""
    try:
        dt = df.schema[col].dataType
    except KeyError:
        raise ValueError(
            f"column {col!r} not found in schema {[f.name for f in df.schema.fields]}"
        ) from None
    level, elem = element_type(dt)
    return level, dtype_name(elem)


def check_compatible(df, cols, compatible: tuple[str, ...] | None, stage: str) -> None:
    """Validate each input column's element dtype against the stage's
    allowlist (reference: spark_operation.py:338-372)."""
    if compatible is None:
        return
    for c in cols:
        _, name = column_info(df, c)
        if name not in compatible:
            raise TypeError(
                f"{stage}: column {c!r} has element dtype {name!r}; "
                f"expected one of {compatible}"
            )


def empty_frame(spark, schema: T.StructType) -> DataFrame:
    """An empty DataFrame typed by ``schema``, built on the JVM as a
    ``LocalRelation``.

    ``spark.createDataFrame([], schema)`` sends even an empty list
    through a Python RDD (``parallelize``, ``_to_java_object_rdd``,
    ``applySchemaToPythonRDD``): about 47 py4j calls per frame. The
    JVM's ``createDataFrame(java.util.List[Row], StructType)`` makes a
    frame with the same schema, nullability included, in three calls
    (py4j converts the empty Python list to a ``java.util.List``)."""
    jss = spark._jsparkSession
    return DataFrame(jss.createDataFrame([], jss.parseDataType(schema.json())), spark)


def nested_cast(col, level: int, dtype: str, src: str | None = None):
    """Cast a (possibly nested-array) column's elements to ``dtype``,
    normalizing IEEE ``-0.0`` to ``+0.0`` on the way (reference
    spark_operation.py:138-155: negatively signed zeros don't match
    TensorFlow, so any numeric cast forces positive zero).

    ``src`` is the source element dtype name when the caller knows it
    (used to normalize float -> non-float casts, e.g. -0.0 -> "0.0"
    rather than "-0.0"); float/double TARGETS normalize post-cast
    without needing it."""
    from pyspark.sql import functions as F

    if level == 0:
        target = DTYPES[dtype]
        if dtype in ("float", "double"):
            c = col.cast(target)
            # -0.0 * signum(-0.0) = -0.0 * -0.0 = +0.0; non-zero unchanged
            return F.when(c == 0, (c * F.signum(c)).cast(target)).otherwise(c)
        if src in ("float", "double"):
            col = F.when(
                col == 0, (col * F.signum(col)).cast(DTYPES[src])
            ).otherwise(col)
        return col.cast(target)
    return F.transform(col, lambda x: nested_cast(x, level - 1, dtype, src))
