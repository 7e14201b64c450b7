"""Single-pass observe() metrics: batch Observation and per-microbatch
streaming observedMetrics, cross-checked against explicitly computed
counts."""

from __future__ import annotations

from pyspark.sql import functions as F

from multiagent_form_schema_etl_spark import observability as obs
from multiagent_form_schema_etl_spark.catalog import load_table
from tests.conftest import SF_SMOKE


def test_batch_observation_matches_direct_counts(spark):
    ev = load_table(spark, SF_SMOKE, "events")
    instrumented, ob = obs.attach_quality_metrics(
        ev, check_nulls=["user_id", "props"], value_col="value")
    # one real action drives both the "pipeline" and the metrics
    n_out = instrumented.filter(F.col("event_type") == "purchase").count()
    got = ob.get
    assert got["n_rows"] == ev.count()  # observe sees pre-filter rows
    assert got["nulls_user_id"] == ev.filter(F.col("user_id").isNull()).count()
    assert got["nulls_props"] == ev.filter(F.col("props").isNull()).count()
    exact = (ev.agg(F.sum(F.col("value").cast("decimal(28,6)")).cast("double"))
             .collect()[0][0])
    assert got["sum_value"] == exact
    assert 0 < n_out < got["n_rows"]


def test_streaming_observed_metrics_per_microbatch(spark):
    from multiagent_form_schema_etl_spark.streaming import structured as st

    ev = st.stream_events(spark, SF_SMOKE)
    instrumented = obs.attach_streaming_metrics(
        ev, "quality", check_nulls=["user_id"], value_col="value")
    out = instrumented.filter(F.col("event_type") == "purchase")
    q = (out.writeStream.format("memory").queryName("t_obs")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    progresses = [p for p in q.recentProgress
                  if p.get("observedMetrics", {}).get("quality")]
    assert progresses, "no observedMetrics surfaced"
    total = sum(p["observedMetrics"]["quality"]["n_rows"] for p in progresses)
    batch_ev = load_table(spark, SF_SMOKE, "events")
    assert total == batch_ev.count()
    null_total = sum(p["observedMetrics"]["quality"]["nulls_user_id"]
                     for p in progresses)
    assert null_total == batch_ev.filter(F.col("user_id").isNull()).count()


def test_time_face_records_each_faces_own_jobs_and_stages(spark):
    """bench.time_face is the one way a face is timed (bench passes, the
    scale probe, the scaling evidence). Two faces timed in turn each get
    their own jobs and stages: together the two records account for every
    job and completed stage that ran, so the second counts none of the
    first's. The session runs without the Spark UI: the stage metrics come
    from the status store."""
    import __spark_entry__ as e
    import bench
    from perfbench import probe

    sc = spark.sparkContext
    assert sc.getConf().get("spark.ui.enabled") == "false"
    assert sc.uiWebUrl is None
    qs = e.queries()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    reader = probe.StatusReader(spark)
    jobs_before = {j["jobId"] for j in reader.jobs()}

    recs = [bench.time_face(spark, name,
                            lambda name=name: qs[name](spark, SF_SMOKE))
            for name in ("x1_dedup_exact", "q01_pricing_summary")]

    for r in recs:
        assert r["exec"]["jobs"] >= 1 and r["exec"]["stages"] >= 1
        assert r["rows"] > 0 and 0 <= r["build_s"] <= r["s"]
        assert set(r["plan_ms"]) == {"analysis", "optimization", "planning"}
        assert r["exec"]["peak_exec_mem_bytes"] >= 0
    new_jobs = [j for j in reader.jobs() if j["jobId"] not in jobs_before]
    stages = {s["stageId"]: s["status"] for s in reader.stages()}
    ran = {sid for j in new_jobs for sid in j["stageIds"]
           if stages.get(sid) == "COMPLETE"}
    assert sum(r["exec"]["jobs"] for r in recs) == len(new_jobs)
    assert sum(r["exec"]["stages"] for r in recs) == len(ran)
