"""Date-dimension generation, Spark-first.

The reference builds its 3,653-row date dim with a driver-side Python list
comprehension plus three row-at-a-time Python UDFs
(reference r2g_account.py:96-146, UDFs at 116-127).  That is a scale
anti-pattern twice over (driver materialization + Python hot path), so the
engine generates the dim with ``F.sequence`` + ``explode`` and computes
every attribute with built-in date expressions — zero Python UDFs, fully
whole-stage-codegen'd.  The same attributes are produced:
date_key/full_date/year/quarter/month/day/week_of_month/is_holiday/
holiday_name/day_type.

Holiday calendar: the reference uses the public ``holidays`` PyPI package's
Vietnam calendar in driver closures (r2g_account.py:97-104).  That package
is not a dependency here; we carry the fixed-date Vietnamese public
holidays (New Year, Reunification Day, Labour Day, National Day) as a
literal dim and join against it — the idiomatic replacement for a
closure-captured dict at scale is a broadcast-joined holiday dimension.
Lunar-calendar holidays (Tet, Hung Kings) need an ephemeris table supplied
by the caller via ``extra_holidays``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from aws_etl_bank_spark.session import local_frame

#: (month, day, name) fixed-date Vietnamese public holidays.
_VN_FIXED_HOLIDAYS = [
    (1, 1, "International New Year's Day"),
    (4, 30, "Liberation Day/Reunification Day"),
    (5, 1, "International Labor Day"),
    (9, 2, "Independence Day"),
]


def vn_holidays(spark: SparkSession, start_year: int, end_year: int,
                extra_holidays: list[tuple[str, str]] | None = None) -> DataFrame:
    """Holiday dim (holiday_date DATE, holiday_name STRING) — generated
    with sequence/explode, no driver loop over dates."""
    years = spark.range(start_year, end_year + 1).withColumnRenamed("id", "y")
    rows = []
    for month, day, name in _VN_FIXED_HOLIDAYS:
        rows.append(
            years.select(
                F.make_date(F.col("y").cast("int"), F.lit(month), F.lit(day)).alias("holiday_date"),
                F.lit(name).alias("holiday_name"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    if extra_holidays:
        extra = local_frame(spark, extra_holidays, "holiday_date string, holiday_name string")
        out = out.unionByName(extra.select(F.to_date("holiday_date").alias("holiday_date"), "holiday_name"))
    return out


def week_of_month_col(date_col: Column) -> Column:
    """Week-of-month (1-based, weeks anchored at day 1), as a *string* —
    the reference registers this UDF untyped so Spark defaults the return
    type to StringType (r2g_account.py:117,126; SURVEY.md §8.5).  We keep
    the string type for fidelity but compute it natively."""
    return F.ceil(F.dayofmonth(date_col) / F.lit(7.0)).cast("int").cast("string")


def build_date_dim(spark: SparkSession, start_date: str = "2015-01-01",
                   end_date: str = "2024-12-31",
                   extra_holidays: list[tuple[str, str]] | None = None) -> DataFrame:
    """The reference's D_Date (r2g_account.py:96-146), built declaratively.

    One row per day in [start_date, end_date]; columns: date_key
    ('yyyyMMdd' string), full_date DATE, year, quarter, month, day,
    week_of_month (string — fidelity, §8.5), is_holiday boolean,
    holiday_name string (null when not a holiday), day_type
    ('weekend'/'weekday').
    """
    days = spark.sql(
        f"SELECT explode(sequence(to_date('{start_date}'), to_date('{end_date}'), interval 1 day)) AS full_date"
    )
    start_year = int(start_date[:4])
    end_year = int(end_date[:4])
    holidays = vn_holidays(spark, start_year, end_year, extra_holidays)
    dim = (
        days.join(F.broadcast(holidays), days.full_date == holidays.holiday_date, "left")
        .select(
            F.date_format("full_date", "yyyyMMdd").alias("date_key"),
            F.col("full_date"),
            F.year("full_date").alias("year"),
            F.quarter("full_date").alias("quarter"),
            F.month("full_date").alias("month"),
            F.dayofmonth("full_date").alias("day"),
            week_of_month_col(F.col("full_date")).alias("week_of_month"),
            F.col("holiday_name").isNotNull().alias("is_holiday"),
            F.col("holiday_name"),
            F.when(F.dayofweek("full_date").isin(1, 7), F.lit("weekend"))
            .otherwise(F.lit("weekday"))
            .alias("day_type"),
        )
    )
    return dim
