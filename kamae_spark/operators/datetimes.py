"""Date/time transformers (reference SURVEY.md §2.5). Pure Column exprs.

Time-dependent ops (CurrentDate*, CurrentUnixTimestamp) accept an
optional injected ``now`` (ISO string) so tests are deterministic
without clock freezing (SURVEY.md §5)."""

from __future__ import annotations

from itertools import chain
from typing import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from kamae_spark.core.stage import keyword_params
from kamae_spark.operators.rowwise import ElementwiseTransform

_DATE_PART_PATTERN = {
    # reference date_parse.py:188-199
    "Year": "y",
    "DayOfYear": "D",
    "MonthOfYear": "M",
    "DayOfMonth": "d",
    "DayOfWeek": "E",
    "Hour": "H",
    "Minute": "m",
    "Second": "s",
    "Millisecond": "SSS",
}

_DOW = {"Mon": 1, "Tue": 2, "Wed": 3, "Thu": 4, "Fri": 5, "Sat": 6, "Sun": 7}


class _Now:
    """Mixin: UTC 'now' column, injectable for determinism. If an
    ``input_col`` is set, the constant broadcasts into that column's
    (possibly nested) array shape — the reference's current_* family
    takes an input column purely for shape (current_date.py:108-118)."""

    def _now(self) -> Column:
        if getattr(self, "now", None):
            return F.to_timestamp(F.lit(self.now))
        return F.to_utc_timestamp(F.localtimestamp(), F.current_timezone())

    def fn(self, *_: Column) -> Column:
        return self._value()


class CurrentDate(_Now, ElementwiseTransform):
    """UTC today as 'yyyy-MM-dd' string (reference current_date.py:84)."""

    @keyword_params
    def __init__(self, output_col: str, input_col: str | None = None,
                 now: str | None = None):
        pass

    def _value(self) -> Column:
        return F.date_format(self._now(), "yyyy-MM-dd")


class CurrentDateTime(_Now, ElementwiseTransform):
    """UTC now as 'yyyy-MM-dd HH:mm:ss.SSS' string (reference current_date_time.py:91)."""

    @keyword_params
    def __init__(self, output_col: str, input_col: str | None = None,
                 now: str | None = None):
        pass

    def _value(self) -> Column:
        return F.date_format(self._now(), "yyyy-MM-dd HH:mm:ss.SSS")


class CurrentUnixTimestamp(_Now, ElementwiseTransform):
    """Epoch now in seconds or milliseconds (reference current_unix_timestamp.py:92)."""

    @keyword_params
    def __init__(self, output_col: str, unit: str = "s",
                 input_col: str | None = None, now: str | None = None):
        if unit not in ("s", "ms"):
            raise ValueError("unit must be s|ms")

    def _value(self) -> Column:
        sec = self._now().cast("double")
        return (sec * 1000).cast("bigint") if self.unit == "ms" else sec.cast("bigint")


class DateAdd(ElementwiseTransform):
    """Add days (constant or 2nd column) to a date string
    (reference date_add.py:173)."""

    compatible_dtypes = None  # string dates or int day columns mix

    @keyword_params
    def __init__(self, input_cols: Sequence[str] = (), output_col: str = "",
                 num_days: int | None = None,
                 input_dtype: str | None = None, output_dtype: str | None = None):
        pass

    def fn(self, *cols: Column) -> Column:
        days = F.lit(self.num_days) if self.num_days is not None else cols[1].cast("int")
        return F.date_format(F.date_add(F.to_date(cols[0]), days), "yyyy-MM-dd")


class DateDiff(ElementwiseTransform):
    """Days between two date columns, second minus first (reference
    date_diff.py:107-129). ``default_value`` replaces the result when
    EITHER input is the empty string (the reference's missing-date
    sentinel, date_diff.py:122-129)."""

    compatible_dtypes = ("string",)

    @keyword_params
    def __init__(self, input_cols: Sequence[str] = (), output_col: str = "",
                 default_value: int | None = None,
                 input_dtype: str | None = None, output_dtype: str | None = None):
        pass

    def fn(self, a: Column, b: Column) -> Column:
        d = F.datediff(F.to_date(b), F.to_date(a))
        if self.default_value is not None:
            return F.when(
                (a == F.lit("")) | (b == F.lit("")), F.lit(self.default_value)
            ).otherwise(d)
        return d


class DateParse(ElementwiseTransform):
    """Extract a date part from a date/datetime string; DayOfWeek remapped
    Mon=1..Sun=7 (reference date_parse.py:152-223)."""

    compatible_dtypes = ("string",)

    @keyword_params
    def __init__(self, input_col: str, output_col: str,
                 date_part: str = "Year", default_value: int | None = None,
                 input_dtype: str | None = None, output_dtype: str | None = None):
        if date_part not in _DATE_PART_PATTERN:
            raise ValueError(f"date_part must be one of {sorted(_DATE_PART_PATTERN)}")

    def fn(self, x: Column) -> Column:
        formatted = F.date_format(x, _DATE_PART_PATTERN[self.date_part])
        if self.date_part == "DayOfWeek":
            mapping = F.create_map([F.lit(v) for v in chain(*_DOW.items())])
            parsed: Column = mapping[formatted]
        else:
            parsed = formatted.cast("int")
        if self.default_value is not None:
            return F.when(x == F.lit(""), F.lit(self.default_value)).otherwise(parsed)
        return parsed


class DateTimeToUnixTimestamp(ElementwiseTransform):
    """Datetime (or bare date) string -> epoch as DOUBLE seconds with a
    millisecond fraction, or *1000 for unit='ms'. The string is always
    interpreted as UTC regardless of the session timezone, and a
    date-only input reads as midnight UTC (reference
    date_time_to_unix_timestamp.py:101-134: ' UTC' / ' 00:00:00.000 UTC'
    suffixing)."""

    compatible_dtypes = ("string",)

    @keyword_params
    def __init__(self, input_col: str, output_col: str, unit: str = "s",
                 input_dtype: str | None = None, output_dtype: str | None = None):
        if unit not in ("s", "ms", "seconds", "milliseconds"):
            raise ValueError("unit must be s|seconds|ms|milliseconds")

    def fn(self, x: Column) -> Column:
        is_datetime = F.size(F.split(x, " ")) > 1
        with_tz = F.when(is_datetime, F.concat(x, F.lit(" UTC"))).otherwise(
            F.concat(x, F.lit(" 00:00:00.000 UTC"))
        )
        ts = F.to_timestamp(with_tz)
        out = F.unix_timestamp(ts) + F.date_format(ts, "SSS").cast("float") / 1000.0
        return out if self.unit in ("s", "seconds") else out * 1000.0


class UnixTimestampToDateTime(ElementwiseTransform):
    """Epoch seconds/milliseconds -> UTC datetime string
    'yyyy-MM-dd HH:mm:ss.SSS', or date-only 'yyyy-MM-dd' when
    ``include_time`` is False. Rendering is UTC regardless of the
    session timezone (reference unix_timestamp_to_date_time.py:104-156:
    from_unixtime -> to_utc_timestamp(session tz) -> date_format)."""

    compatible_dtypes = ("bigint", "int", "double", "float")

    @keyword_params
    def __init__(self, input_col: str, output_col: str, unit: str = "s",
                 include_time: bool = True,
                 input_dtype: str | None = None, output_dtype: str | None = None):
        if unit not in ("s", "ms", "seconds", "milliseconds"):
            raise ValueError("unit must be s|seconds|ms|milliseconds")

    def fn(self, x: Column) -> Column:
        u = x.cast("double")
        if self.unit in ("ms", "milliseconds"):
            u = u / 1000.0
        # carry-safe: round TOTAL milliseconds first, then split — the
        # previous (u - floor(u)) * 1000 rounding could yield ms == 1000
        # (e.g. 1.9996s), which lpad silently truncated to '100' instead
        # of carrying into the second
        tot = F.round(u * 1000.0, 0).cast("bigint")
        sec = F.floor(tot / 1000.0).cast("bigint")
        ms = F.pmod(tot, F.lit(1000)).cast("int")
        local = F.concat(
            F.from_unixtime(sec, "yyyy-MM-dd HH:mm:ss"),
            F.lit("."), F.lpad(ms.cast("string"), 3, "0"),
        )
        utc = F.to_utc_timestamp(
            F.to_timestamp(local, "yyyy-MM-dd HH:mm:ss.SSS"),
            F.current_timezone(),
        )
        fmt = "yyyy-MM-dd HH:mm:ss.SSS" if self.include_time else "yyyy-MM-dd"
        return F.date_format(utc, fmt)
