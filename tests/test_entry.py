"""Driver-contract smoke tests (t1) + registry invariants."""

from __future__ import annotations

import os

import __spark_entry__ as e
from tests.conftest import SF_SMOKE


def test_entry_returns_rows(spark):
    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "revenue" in df.columns


def test_every_oracle_has_query():
    qs, oracles = e.queries(), e.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) > 0


def test_all_queries_run_on_smoke_sf(spark):
    for name, fn in e.queries().items():
        df = fn(spark, SF_SMOKE)
        assert df.columns, name
        df.limit(1).collect()


def test_sql_views_match_dataframe_api(spark):
    """register_views exposes the catalog to spark.sql; the SQL surface and
    DataFrame API must agree."""
    from pyspark.sql import functions as F

    from multiagent_form_schema_etl_spark.catalog import load_table, register_views

    register_views(spark, SF_SMOKE)
    got = spark.sql("""
        SELECT n_name, COUNT(*) AS n
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """).collect()
    want = (load_table(spark, SF_SMOKE, "customer")
            .join(load_table(spark, SF_SMOKE, "nation"),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("n_name").agg(F.count(F.lit(1)).alias("n")).collect())
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_registry_memoizes_per_session_and_caches_once(spark):
    """Repeat invocations of a registered persisting query must return the
    SAME DataFrame (plan analyzed once) and register exactly ONE cached
    relation -- the regression guard for the warm-session cache pileup
    (each invocation previously persisted a duplicate 10k-doc relation;
    CacheManager does not canonicalize them equal)."""
    import __spark_entry__ as e

    qs = e.queries()
    name = "doc_u7_extraction_cascade"
    before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    d1 = qs[name](spark, SF_SMOKE)
    d1.count()
    d2 = qs[name](spark, SF_SMOKE)
    assert d1 is d2
    after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert after - before <= 1


def test_registry_memo_invalidates_on_data_change(spark, tmp_path):
    """The per-session memo keys on a snapshot of the sf_dir's parquet
    files: replacing data under the SAME path mid-session must rebuild the
    plan and surface the new data (VERDICT r2 item 6), while unchanged
    data keeps returning the identical memoized DataFrame."""
    import shutil

    import __spark_entry__ as e

    sf = tmp_path / "sf"
    sf.mkdir()
    for f in os.listdir(SF_SMOKE):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(SF_SMOKE, f), sf / f)
    qs = e.queries()
    name = "q01_pricing_summary"
    d1 = qs[name](spark, str(sf))
    n1 = d1.count()
    assert qs[name](spark, str(sf)) is d1  # same snapshot -> same plan

    # replace lineitem with a halved copy (atomic file replace, new mtime)
    import duckdb

    duckdb.sql(f"""
        COPY (SELECT * FROM read_parquet('{sf}/lineitem.parquet')
              WHERE l_orderkey % 2 = 0)
        TO '{sf}/lineitem2.parquet' (FORMAT PARQUET)""")
    os.replace(sf / "lineitem2.parquet", sf / "lineitem.parquet")

    d2 = qs[name](spark, str(sf))
    assert d2 is not d1
    rows2 = d2.collect()
    assert rows2  # still produces the pricing summary
    total2 = sum(r["count_order"] for r in rows2)
    # q01 aggregates most of lineitem; halving the fact table must shrink it
    assert 0 < total2 < sum(r["count_order"]
                            for r in qs[name](spark, SF_SMOKE).collect())
    assert n1 >= 0


def test_registry_eviction_releases_tracked_subrelation_caches(spark, tmp_path):
    """Builders that persist a shared sub-relation route it through
    track_persist, so snapshot eviction / invalidate() must release the
    sub-relation cache too -- not just the top-level DataFrame (ADVICE
    r3: orphaned hoisted-pipeline caches accumulated across data
    refreshes until LRU pressure)."""
    import shutil

    from multiagent_form_schema_etl_spark.plans import registry

    sf = tmp_path / "sf"
    sf.mkdir()
    for f in os.listdir(SF_SMOKE):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(SF_SMOKE, f), sf / f)

    # a fresh session isolates the persistent-RDD count from other tests
    s2 = spark.newSession()
    # track_persists its pair relation over the copied corpus, so the
    # cache entry is this test's own: a fixture-only face can match a
    # relation an earlier test left cached and then persist nothing new
    name = "x1_dedup_jaccard_ngram"
    qs = __import__("__spark_entry__").queries()
    base = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    df = qs[name](s2, str(sf))
    df.count()
    during = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    registry.invalidate(s2)
    after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    # the build must have persisted something, or the release check below
    # holds vacuously; invalidate must release every cache it registered
    assert during > base, (base, during, after)
    assert after <= base, (base, during, after)


def test_invalidating_one_session_keeps_another_sessions_cache(spark,
                                                              tmp_path):
    """Spark's CacheManager is shared across sessions and matches equal
    plans. When a second session builds a face whose sub-relations the
    first session already cached, invalidating the second session must
    not release the first session's entries: its plan still reads them
    through InMemoryTableScan."""
    import shutil

    from multiagent_form_schema_etl_spark.plans import registry

    sf = tmp_path / "sf"
    sf.mkdir()
    for f in os.listdir(SF_SMOKE):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(SF_SMOKE, f), sf / f)

    # persists its candidate pool (cands) and the pool's vectors (cv)
    name = "x2_topk_mmr"
    qs = __import__("__spark_entry__").queries()
    sc = spark.sparkContext._jsc.sc()
    first, second = spark.newSession(), spark.newSession()
    try:
        base = sc.getPersistentRDDs().size()
        df1 = qs[name](first, str(sf))
        df1.collect()
        during = sc.getPersistentRDDs().size()
        qs[name](second, str(sf)).collect()
        registry.invalidate(second)
        after = sc.getPersistentRDDs().size()
        assert during > base, (base, during, after)
        assert after == during, (base, during, after)
        # a fresh QueryExecution re-runs the cache lookup
        plan = df1.select("*")._jdf.queryExecution().executedPlan()
        assert "InMemoryTableScan" in plan.toString()
    finally:
        registry.invalidate(first)
        registry.invalidate(second)


def test_sql_over_view_keeps_persisted_input_cached(spark):
    """_sql_over_view drops its temp view without uncaching the view's
    plan: a persisted input is still cached afterwards, and the generated
    statement reads it through an InMemoryTableScan."""
    from pyspark.sql import functions as F

    from multiagent_form_schema_etl_spark.operators import document as D

    df = spark.range(100).withColumn("b", F.col("id") % 7).persist()
    try:
        out = D._sql_over_view(
            df, "cachecheck",
            "SELECT b, count(*) AS n FROM __VIEW__ GROUP BY b UNION ALL "
            "SELECT b, sum(id) AS n FROM __VIEW__ GROUP BY b")
        assert df.storageLevel.useMemory or df.storageLevel.useDisk
        assert not [t for t in spark.catalog.listTables()
                    if t.name.startswith("__gen_cachecheck")]
        assert len(out.collect()) == 14
        plan = out._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert final.count("InMemoryTableScan") == 2, plan
    finally:
        df.unpersist()


def test_rotation_ledger_orders_window_and_tail_stalest_first():
    """VERDICT r9 item 2 / r11 item 3: the driver-checked window (first
    50) must carry every never-driver-green face (the new r12 faces, the
    fixed fellegi FAIL, the late-r11 containment carryover), the r11
    first-timers for their confirming round, and ONLY stalest-cohort
    fillers; the post-window oracle-backed tail must be ordered
    stalest-first by the committed rotation ledger. Categories derive
    from the LEDGER, not hardcoded slices, so the test restates the
    policy each round instead of one round's layout."""
    from multiagent_form_schema_etl_spark.plans import registry

    registry.load_all_modules()
    led = registry.rotation_ledger()
    assert led, "rotation_ledger.json missing or empty"
    cur = max(led.values())  # the last driver-checked round folded in

    names = registry.ordered_query_names()
    window = names[:50]
    assert window == list(registry.PRIORITY)
    assert len(set(window)) == 50

    post_oracle = [n for n in names[50:] if n in registry.ORACLES]

    # every oracle-backed face with NO driver-green row ever (new faces,
    # the fixed r11 FAIL, the late-r11 containment carryover) must be
    # inside the window -- the never-checked backlog stays zero
    untracked_tail = [n for n in post_oracle if n not in led]
    assert untracked_tail == [], (
        f"never-driver-checked faces outside the window: {untracked_tail}")

    # the prior round's first-timers keep one confirming round
    confirmers = [n for n in window if led.get(n) == cur]
    assert len(confirmers) >= 1

    # every window filler (ledger-tracked, older than the current round)
    # comes from the stalest cohorts: no filler may be younger than any
    # skipped ledger-tracked query
    fillers = [n for n in window if n in led and led[n] < cur]
    post_rounds = [led[n] for n in post_oracle if n in led]
    assert max(led[n] for n in fillers) <= min(post_rounds), (
        "window filler younger than a skipped ledger-tracked query")

    # the r11 window drained the r1-stale cohort for good: nothing
    # ledger-tracked may ever read round 1 again
    assert all(led.get(n, 2) >= 2 for n in names[50:])

    # post-window oracle-backed tail is stalest-first, deterministic
    assert post_rounds == sorted(post_rounds)
    assert post_oracle == sorted(post_oracle,
                                 key=lambda n: (led.get(n, 0), n))

    # rows-only queries never consume a checked slot
    rows_only = [n for n in names if n not in registry.ORACLES]
    assert names[-len(rows_only):] == rows_only
