"""The r9 gate hardening pinned in CI: the plan-regression guard
(CartesianProduct / Python-eval / Python-RDD scan / unpartitioned-Window
assertions in tools/check.py) and the rounded-oracle boundary audit's
distance math.
The window-shape behaviors were verified against live Spark 4.1 plans
when the detector was fixed (formatted explain OMITS empty groups, so
the original '], [], [' heuristic was dead code); these tests keep that
from regressing silently on a Spark upgrade.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tools.check import (_boundary_dist, _unpartitioned_windows,
                         plan_guard)


def _plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_window_detector_on_live_plans(spark):
    df = spark.range(100).withColumn("b", F.col("id") % 3)
    unpart = Window.orderBy("id").rowsBetween(Window.unboundedPreceding,
                                              Window.currentRow)
    assert _unpartitioned_windows(
        _plan(df.withColumn("s", F.sum("b").over(unpart)))) == 1
    part_ord = Window.partitionBy("b").orderBy("id")
    assert _unpartitioned_windows(
        _plan(df.withColumn("r", F.row_number().over(part_ord)))) == 0
    # partitioned-no-order also prints a two-group Arguments -- must NOT
    # be mistaken for unpartitioned (the ASC/DESC disambiguator)
    part_only = Window.partitionBy("b")
    assert _unpartitioned_windows(
        _plan(df.withColumn("s", F.sum("id").over(part_only)))) == 0


def test_plan_guard_flags_each_regression_kind(spark):
    df = spark.range(100).withColumn("b", F.col("id") % 3)

    w = Window.orderBy("id")
    problems = plan_guard("some_fact_query",
                          df.withColumn("r", F.row_number().over(w)))
    assert any("unpartitioned Window" in p for p in problems)
    # ... unless the query is on the documented allowlist
    assert plan_guard("w_ntile_acctbal_quartiles",
                      df.withColumn("r", F.row_number().over(w))) == []

    # genuine cartesian (range joins of non-broadcast sides)
    a = spark.range(10_000_000).hint("shuffle_replicate_nl")
    cart = a.crossJoin(spark.range(10_000_000))
    assert any("CartesianProduct" in p for p in plan_guard("q", cart))

    # Python-eval node off the declared allowlist
    import pandas as pd

    def ident(batches):
        for pdf in batches:
            yield pd.DataFrame({"id": pdf["id"]})

    py = df.select("id").mapInPandas(ident, "id long")
    assert any("Python-eval" in p for p in plan_guard("rogue_query", py))
    assert plan_guard("x2_knn_graph", py) == []  # allowlisted


def test_plan_guard_flags_python_rdd_scan_leaf(spark, monkeypatch):
    """A constant table built with createDataFrame(<list>) plans as a
    `Scan ExistingRDD` over applySchemaToPythonRDD -- Python workers run on
    every execution that reads it. Python-eval node counting misses it, so
    the guard flags the leaf itself; catalog.local_df plans clean."""
    import tools.check as check
    from multiagent_form_schema_etl_spark.catalog import local_df

    rows = [(i, f"k{i}") for i in range(45)]
    facts = spark.range(1000).withColumn("k", F.concat(F.lit("k"),
                                                       F.col("id") % 45))
    offender = facts.join(spark.createDataFrame(rows, "v long, k string"),
                          "k")
    assert any("Python-RDD scan" in p
               for p in plan_guard("rogue_query", offender))
    clean = facts.join(local_df(spark, rows, "v long, k string"), "k")
    assert plan_guard("rogue_query", clean) == []
    monkeypatch.setattr(check, "_PYRDD_ALLOW", frozenset({"rogue_query"}))
    assert plan_guard("rogue_query", offender) == []


def test_boundary_distance_math():
    # exact bin boundary (k + 0.5) * 1e-9 -> distance 0
    assert _boundary_dist(0.4500000005) < 1e-16
    # bin center -> the max possible distance, 0.5e-9
    assert abs(_boundary_dist(0.45) - 0.5e-9) < 1e-16
    # a value 1e-12 off a boundary measures as such
    d = _boundary_dist(0.4500000005 + 1e-12)
    assert abs(d - 1e-12) < 1e-15
    assert math.isfinite(_boundary_dist(-0.123456789))


def test_boundary_audit_reports_and_fails_at_flip_proximity(monkeypatch, capsys):
    """The audit's FAIL path: a compared cell within 5e-15 of a rounding
    boundary names its face; a comfortable cell passes with a printed min."""
    import duckdb

    from tools import check

    con = duckdb.connect()
    monkeypatch.setattr(check, "_BOUNDARY_EXPOSURES", {
        # ~2 ulp off the bin tie (a bare decimal literal would reach the
        # auditor as DECIMAL, which real exposures never produce)
        "danger": "SELECT CAST(0.4500000005 + 1e-16 AS DOUBLE) AS x",
        "safe": "SELECT CAST(0.45 AS DOUBLE) AS x",      # bin center
    })
    monkeypatch.setattr(check, "_BOUNDARY_FACES",
                        {"face_a": "danger", "face_b": "safe"})
    failures = check.boundary_audit(con, ["face_a", "face_b"])
    out = capsys.readouterr().out
    assert failures == ["face_a"]
    assert "BOUNDARY face_a" in out and "[FAIL]" in out
    assert "BOUNDARY face_b" in out and "[ok]" in out
