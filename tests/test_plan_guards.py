"""Physical-plan regression guards: the scale-critical plan properties the
PLANS.md audit checks by hand, pinned as tests so a refactor cannot silently
trade a broadcast for a shuffle, drop a parquet pushdown, or introduce a
cartesian product on a hot path.

These assert plan SHAPE, not timings -- stable under AQE because they check
the final adaptive plan's operator inventory.
"""

from __future__ import annotations

import re

import pytest

from tests.conftest import SF_CHECK, SF_SMOKE


def _plan(spark, name: str) -> str:
    from multiagent_form_schema_etl_spark.plans import registry

    registry.load_all_modules()
    df = registry.QUERIES[name](spark, SF_CHECK)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def test_q05_star_join_broadcasts_every_dimension(spark):
    plan = _plan(spark, "q05_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan
    assert "PushedFilters: [" in plan


def test_q01_scan_prunes_columns_and_pushes_filter(spark):
    plan = _plan(spark, "q01_pricing_summary")
    # the date filter must reach the parquet reader, not run post-scan only
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # projection pruning: untouched wide columns never enter the scan schema
    assert "l_comment" not in plan


def test_doc_pipeline_broadcasts_schema_side_no_cartesian(spark):
    plan = _plan(spark, "doc_u7_extraction_cascade")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin") >= 1


def test_cosine_topk_keeps_query_side_broadcast(spark):
    plan = _plan(spark, "x2_cosine_topk")
    # the 10-vector query side must broadcast; a shuffled pair join here is
    # the dim-key-skew shape the operator docstring forbids
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dedup_exact_is_single_shuffle(spark):
    plan = _plan(spark, "x1_dedup_exact")
    assert plan.count("Exchange") <= 2  # hash agg partials + final
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_stream_static_enrich_has_no_stream_side_shuffle_join(spark):
    plan = _plan(spark, "st_stream_static_enrich")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


@pytest.mark.parametrize("name", [
    "q03_shipping_priority", "q10_returned_items",
    "w1_running_revenue_per_customer", "st_tumbling_window",
])
def test_headliners_have_no_cartesian_or_python_udf(spark, name):
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python on hot paths


def test_footer_stats_aggregate_pushdown(spark):
    """footer_stats must answer COUNT/MIN/MAX from parquet footers (DSv2
    PushedAggregation), match a full scan's answers, and leave the
    session's source confs untouched."""
    from pyspark.sql import functions as F

    from multiagent_form_schema_etl_spark.catalog import footer_stats
    from tests.conftest import SF_SMOKE

    before = spark.conf.get("spark.sql.sources.useV1SourceList")
    path = f"{SF_SMOKE}/orders.parquet"
    got = footer_stats(spark, path, ["o_totalprice", "o_orderkey"])
    full = spark.read.parquet(path)
    [want] = full.agg(
        F.count(F.lit(1)).alias("count"),
        F.min("o_totalprice").alias("o_totalprice_min"),
        F.max("o_totalprice").alias("o_totalprice_max"),
        F.min("o_orderkey").alias("o_orderkey_min"),
        F.max("o_orderkey").alias("o_orderkey_max")).collect()
    assert got == want.asDict()
    assert spark.conf.get("spark.sql.sources.useV1SourceList") == before


def test_media_metadata_query_never_reads_payload(spark, tmp_path):
    """Metadata-only plans over a media table must NOT deserialize the
    binary payload column: the parquet scan's ReadSchema carries only the
    referenced metadata columns (column pruning), which is what makes
    length/lang/checksum filters ~free at 100 TB payload scale."""
    from pyspark.sql import functions as F

    from multiagent_form_schema_etl_spark.catalog import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    media = docs.select(
        "doc_id", F.col("text").cast("binary").alias("payload"),
        F.length(F.col("text").cast("binary")).cast("long").alias("n_bytes"),
        "lang")
    path = str(tmp_path / "media")
    media.write.parquet(path)

    q = (spark.read.parquet(path)
         .filter(F.col("n_bytes") > 100)
         .groupBy("lang").agg(F.count(F.lit(1)).alias("n")))
    plan = q._jdf.queryExecution().executedPlan().toString()
    scan = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan, plan
    assert "payload" not in scan[0]
    assert "n_bytes" in scan[0] and "lang" in scan[0]
    # and the filter is pushed to the scan
    assert any("PushedFilters" in l and "n_bytes" in l
               for l in plan.splitlines()), plan
    assert q.count() > 0


def test_x3_prune_guard_face_empty_on_gate_and_not_vacuous(spark, tmp_path):
    """The driver-visible promotion of the test above (r13): the
    x3_metadata_prune_guard face must come back EMPTY on the gate corpus
    (its constant-empty-oracle semantics), and its inspection method must
    actually DETECT a payload-reading plan -- a query that references the
    payload column shows it in ReadSchema, proving the face's empty
    result is a measured pass, not a vacuously-blind check."""
    from pyspark.sql import functions as F

    from multiagent_form_schema_etl_spark.catalog import load_table
    from multiagent_form_schema_etl_spark.operators.multimodal import (
        x3_metadata_prune_guard)
    from tests.conftest import SF_SMOKE

    assert x3_metadata_prune_guard(spark, SF_SMOKE).collect() == []

    # inverse direction: the same inspection flags a payload reader
    docs = load_table(spark, SF_SMOKE, "documents")
    payload = F.col("text").cast("binary")
    media = docs.select("doc_id", payload.alias("payload"),
                        F.length(payload).cast("long").alias("n_bytes"),
                        "lang")
    path = str(tmp_path / "media")
    media.write.parquet(path)
    reader = (spark.read.parquet(path)
              .filter(F.col("n_bytes") > 0)
              .select("lang", F.length("payload").alias("pl")))
    plan = reader._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scans and any("payload" in ln for ln in scans)


def test_filtered_topk_label_predicate_is_a_join_key(spark):
    """x2_cosine_topk_filtered's metadata predicate must participate as
    a HASH-JOIN KEY (qlabel == mlabel), not a post-join filter: that is
    the pre-filter shape that makes filtered search cost follow the
    selected slice at 100 TB. A plan regression to a nested-loop join +
    filter would silently pair the full corpus first."""
    from multiagent_form_schema_etl_spark.operators.similarity import (
        x2_cosine_topk_filtered)
    from tests.conftest import SF_SMOKE

    df = x2_cosine_topk_filtered(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert any("BroadcastHashJoin" in ln and "qlabel" in ln
               and "mlabel" in ln for ln in plan.splitlines()), plan
    assert "CartesianProduct" not in plan
    # and the result is genuinely label-restricted
    from pyspark.sql import functions as F

    from multiagent_form_schema_etl_spark.catalog import load_table
    lab = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "label")
    joined = (df.join(lab.withColumnRenamed("vec_id", "query_id")
                      .withColumnRenamed("label", "qlab"), "query_id")
              .join(lab.withColumnRenamed("vec_id", "match_id")
                    .withColumnRenamed("label", "mlab"), "match_id"))
    assert joined.filter(F.col("qlab") != F.col("mlab")).count() == 0
    assert df.count() > 0


def test_runtime_bloom_filter_prunes_selective_join(spark):
    """Runtime bloom-filter join pruning (the probe-side row filter a
    selective fact-fact join relies on at 100 TB) INJECTS on this engine's
    conf: with a selective dimension filter and a non-broadcast join, the
    fact side's scan gains a might_contain(bloom_filter_agg(...)) filter
    built from the filtered build side. Default thresholds only trigger at
    multi-GB scan sizes, so the test lowers them in a cloned session --
    the assertion is that the optimizer rule fires at all (the session
    enables spark.sql.optimizer.runtime.bloomFilter), not the thresholds."""
    from pyspark.sql import functions as F

    from multiagent_form_schema_etl_spark.session import tune_for_session
    from tests.conftest import SF_CHECK

    s2 = tune_for_session(spark.newSession())
    s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        "10MB")
    s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold", "1KB")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    li = s2.read.parquet(f"{SF_CHECK}/lineitem.parquet")
    o = (s2.read.parquet(f"{SF_CHECK}/orders.parquet")
         .filter(F.col("o_orderpriority") == "1-URGENT"))
    j = (li.join(o, li.l_orderkey == o.o_orderkey)
         .groupBy("o_orderpriority").count())
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "might_contain" in plan and "bloom_filter_agg" in plan
    # and the result is still correct vs the broadcast plan in the main
    # session
    want = (spark.read.parquet(f"{SF_CHECK}/lineitem.parquet")
            .join(spark.read.parquet(f"{SF_CHECK}/orders.parquet")
                  .filter(F.col("o_orderpriority") == "1-URGENT"),
                  F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority").count())
    assert sorted(map(tuple, j.collect())) == sorted(map(tuple, want.collect()))


def test_threshold_sql_gate_caps_depth_via_window_group_limit(spark):
    """The depth-capped recursive-CTE gate face (r7): the explicit
    ``rn <= cap`` filter must compile to a WindowGroupLimit (top-cap per
    key WITHOUT materializing every row's rank -- Spark's rank-limit
    pushdown), the loop-invariant input must be the persisted relation,
    and the recursion must execute as UnionLoop. Losing any of these
    silently restores the 28s uncapped gate latency this face was
    depth-capped to eliminate."""
    plan = _plan(spark, "st_stateful_threshold_sql")
    assert "UnionLoop" in plan
    assert "WindowGroupLimit" in plan
    assert "InMemoryRelation" in plan or "InMemoryTableScan" in plan


def test_pagerank_star_per_component_solve_no_cartesian(spark):
    """The oracle-backed pagerank twin must keep its scale shape: star
    edges built via broadcast joins (the per-bucket hub relation is
    KB-sized), the per-component solve as the ONLY Python surface
    (groupBy-applyInPandas), and no cartesian anywhere in the
    components+solve lineage."""
    plan = _plan(spark, "x1_graph_pagerank_star")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "FlatMapGroupsInPandas" in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python


def test_scaled_pipelines_pin_stage_persist(spark):
    """The 10k-doc pipelines materialize their stage relation, the
    extraction EAV of either mode, through track_persist so standing
    re-executions skip the explode+window subtree. Pin the
    InMemoryRelation in both plans -- dropping the persist silently costs
    ~5x warm throughput."""
    for name in ("doc_pipeline_scoped_scaled", "doc_pipeline_scaled"):
        plan = _plan(spark, name)
        assert "InMemoryRelation" in plan or "InMemoryTableScan" in plan, name


def _decimal_output_cols(schema) -> list:
    """Top-level DecimalType output columns -- the r11 driver-hash trap.

    DecimalType survives toPandas() as object-dtype ``Decimal`` cells,
    which the driver's factorize hasher distinguishes from the DuckDB
    oracle's float64 even when values are numerically identical
    (VERDICT r11: x1_linkage_fellegi_sunter). The repo's output
    convention is cast-to-double; this predicate is shared with the
    check.py gate replica's schema FAIL."""
    return [f.name for f in schema.fields
            if f.dataType.typeName() == "decimal"]


def test_no_oracle_backed_face_emits_decimal_output(spark):
    """Registry-wide plan-only scan (VERDICT r11 item 2b): build every
    oracle-backed face's DataFrame and assert its OUTPUT schema carries
    no DecimalType column. No execution -- schema inspection only. This
    pins the cast-to-double output convention that was previously only
    customary; the one face that violated it sailed through the local
    gate and failed the driver's hash."""
    from multiagent_form_schema_etl_spark.plans import registry

    registry.load_all_modules()
    offenders = {}
    for name in sorted(registry.ORACLES):
        df = registry.QUERIES[name](spark, SF_CHECK)
        bad = _decimal_output_cols(df.schema)
        if bad:
            offenders[name] = bad
    assert not offenders, (
        f"oracle-backed faces with DecimalType output (driver hash will "
        f"mismatch the float64 oracle): {offenders}")


def test_decimal_output_detection_trips_on_decimal_face(spark):
    """The detection itself must trip: a deliberately-DECIMAL result
    (the exact shape of the r11 Fellegi-Sunter defect -- a CASE over
    decimal literals, rounded) is flagged by the shared predicate, and
    its end-cast-to-double repair passes."""
    bad = spark.range(3).selectExpr(
        "id", "round(CASE WHEN id = 1 THEN 2.1986 ELSE -6.2830 END, 6) AS s")
    assert _decimal_output_cols(bad.schema) == ["s"]
    import pandas as pd  # noqa: F401
    assert bad.toPandas()["s"].dtype.kind == "O"  # Decimal cells, the trap
    good = bad.selectExpr("id", "round(CAST(s AS DOUBLE), 6) AS s")
    assert _decimal_output_cols(good.schema) == []
    assert good.toPandas()["s"].dtype.kind == "f"


def _final_plan(spark, name: str) -> str:
    """The executed (final adaptive) plan of face `name` at SF_SMOKE,
    where exchange reuse has already been applied."""
    from multiagent_form_schema_etl_spark.plans import registry

    registry.load_all_modules()
    df = registry.QUERIES[name](spark, SF_SMOKE)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


@pytest.mark.parametrize("name", ["x5_corpus_pipeline_end_to_end",
                                  "x5_decontaminate_ngram"])
def test_decontamination_shingles_once_behind_one_gram_exchange(spark, name):
    """Both n-gram decontamination faces read the one kernel
    `_decon_grams`: the shingle explode runs once and its rows cross one
    repartition(gram) exchange. A consumer that re-derives a split's
    shingles shows up as a second explode (the exchange reuse between
    two consumers of one relation does not fire reliably)."""
    plan = _final_plan(spark, name)
    assert plan.count("Generate explode(transform(sequence") == 1, plan
    assert plan.count("REPARTITION_BY_COL") == 1, plan


def test_jaccard_prefix_verifies_packed_arrays_not_token_rows(spark):
    """x1_dedup_jaccard_prefix verifies its candidate pairs with
    `_verify_pairs_arrays`: the per-document side of every join keyed on
    a pair column (doc_a / doc_b) is a packed token array, never an
    exploded token relation."""
    from multiagent_form_schema_etl_spark.plans import registry

    registry.load_all_modules()
    df = registry.QUERIES["x1_dedup_jaccard_prefix"](spark, SF_CHECK)

    def nodes(p):
        stack = [p]
        while stack:
            p = stack.pop()
            yield p
            ch = p.children()
            stack.extend(ch.apply(i) for i in range(ch.size()))

    verify = [j for j in nodes(df._jdf.queryExecution().sparkPlan())
              if j.nodeName() in ("BroadcastHashJoin", "SortMergeJoin",
                                  "ShuffledHashJoin")
              and re.search(r"\bdoc_[ab]#", j.leftKeys().toString())]
    assert len(verify) == 2
    for j in verify:
        assert not any(n.nodeName() == "Generate" for n in nodes(j.right()))
