"""``session.local_frame``: driver-side rows as a JVM LocalRelation.

The helper must build the same frame as ``spark.createDataFrame(rows,
schema)`` while planning as a ``LocalRelation`` (no job, no Python
worker) instead of a pickled ``Scan ExistingRDD``; the guard keeps the
JVM-only workloads free of such scans."""

import datetime as dt
import decimal

import pyspark.sql.types as T
import pytest
from pyspark.sql import Row

from aws_etl_bank_spark.session import local_frame
from tests.conftest import SF_SMOKE

_SCHEMA = T.StructType([
    T.StructField("d", T.DateType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("amount", T.DecimalType(12, 2)),
    T.StructField("vec", T.ArrayType(T.DoubleType())),
    T.StructField("name", T.StringType()),
    T.StructField("n", T.LongType()),
    T.StructField("key", T.StructType([T.StructField("ts", T.TimestampType()),
                                       T.StructField("id", T.LongType())])),
])

_DDL = ("d date, ts timestamp, amount decimal(12,2), vec array<double>, "
        "name string, n bigint, key struct<ts: timestamp, id: bigint>")

_ROWS = [
    (dt.date(2024, 1, 31), dt.datetime(2024, 1, 2, 3, 4, 5, 600, tzinfo=dt.timezone.utc),
     decimal.Decimal("-12345.67"), [1.5, None, -0.0], "ünïcode", 2**53 + 1,
     Row(ts=dt.datetime(2023, 12, 31, 23, 59, 59), id=7)),
    (None, None, None, None, None, None, None),
    (dt.date(1970, 1, 1), dt.datetime(1999, 12, 31, 23, 0, tzinfo=dt.timezone.utc),
     decimal.Decimal("0.01"), [], "", -1, Row(ts=None, id=None)),
]


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("rows", [_ROWS, [_ROWS[1]], []],
                         ids=["mixed", "all_null", "zero_rows"])
@pytest.mark.parametrize("schema", [_SCHEMA, _DDL], ids=["struct_type", "ddl"])
def test_local_frame_matches_create_dataframe(spark, rows, schema):
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert _optimized(got).startswith("LocalRelation")


def test_local_frame_accepts_dicts_and_empty_schema(spark):
    got = local_frame(spark, [{"n": 1, "name": "a"}, {"name": "b"}], "name string, n long")
    assert got.collect() == [Row(name="a", n=1), Row(name="b", n=None)]
    empty = local_frame(spark, [], T.StructType([]))
    assert empty.columns == [] and empty.count() == 0


def test_jvm_only_paths_scan_no_python_rdd(spark):
    """The bank_etl entries, stream_window_counts and a clean frame's
    error channel read no pickled driver rows (a Python worker per
    partition on every read), and the streaming entry leaves no memory
    sink view behind."""
    import __spark_entry__ as entrymod
    from aws_etl_bank_spark.operators.dynamicframe import DynamicFrame

    qs = entrymod.queries()
    names = ["fact_snapshot", "scd2_merge_dim", "merge_upsert",
             "job_bookmark_increment", "src_parquet_sink_catalog_roundtrip",
             "stream_window_counts"]
    plans = {name: _executed(qs[name](spark, SF_SMOKE)) for name in names}
    clean = DynamicFrame.fromDF(spark.range(3), None, "clean")
    plans["errorsCount"] = _executed(clean._errors())
    assert clean.errorsCount() == 0
    assert [n for n, p in plans.items() if "Scan ExistingRDD" in p] == []
    assert [t.name for t in spark.catalog.listTables()
            if t.name.startswith("stream_win_")] == []
