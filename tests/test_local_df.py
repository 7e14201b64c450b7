"""catalog.local_df builds every constant table in the engine. It must
give the same rows and schema as ``spark.createDataFrame(list)`` for each
column type the engine's constant tables use, and it must plan as a
``LocalRelation`` (no Python worker at execution time) whatever the
session's Arrow setting."""

from __future__ import annotations

import datetime as dt
import decimal

from pyspark.sql import functions as F

from multiagent_form_schema_etl_spark.catalog import local_df

_DDL = ("a long, b int, c double, d boolean, e string, f array<string>, "
        "g decimal(10,3), h array<double>, i date")
_ROWS = [
    (1, 2, 3.5, True, "x", ["p", None, "q"], decimal.Decimal("1.250"),
     [0.5, -1.0], dt.date(2024, 1, 2)),
    (-(2 ** 62), -7, -0.0, False, "", [], decimal.Decimal("-9.999"), [],
     dt.date(1970, 1, 1)),
    (None, None, None, None, None, None, None, None, None),
    (3, 0, 1e300, None, "é 'q'", [None], None, [None, 2.0], None),
]


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_local_df_matches_create_dataframe_list(spark):
    got = local_df(spark, _ROWS, _DDL)
    want = spark.createDataFrame(_ROWS, _DDL)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert _optimized(got).startswith("LocalRelation")
    assert "LogicalRDD" in _optimized(want)  # the path local_df replaces


def test_local_df_empty_rows(spark):
    got = local_df(spark, [], _DDL)
    assert got.schema == spark.createDataFrame([], _DDL).schema
    assert got.collect() == []
    assert _optimized(got).startswith("LocalRelation")


def test_local_df_without_arrow_conf(spark):
    s2 = spark.newSession()
    s2.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    got = local_df(s2, _ROWS, _DDL)
    assert got.collect() == spark.createDataFrame(_ROWS, _DDL).collect()
    assert _optimized(got).startswith("LocalRelation")


def test_local_df_naive_timestamp_is_session_wall_clock(spark):
    """Arrow localizes a naive ``datetime``: it is read as wall-clock time
    in the session time zone, so its epoch moves with that zone."""
    s2 = spark.newSession()
    ts = dt.datetime(2024, 1, 2, 3, 4, 5)
    for tz, epoch in (("UTC", 1704164645), ("America/New_York", 1704182645)):
        s2.conf.set("spark.sql.session.timeZone", tz)
        [r] = local_df(s2, [(ts,)], "t timestamp").select(
            F.date_format("t", "yyyy-MM-dd HH:mm:ss").alias("wall"),
            F.unix_timestamp("t").alias("epoch")).collect()
        assert (r["wall"], r["epoch"]) == ("2024-01-02 03:04:05", epoch), tz
