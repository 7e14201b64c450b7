"""Aggregation surface (SURVEY.md §7 step 4; §2.5 A1-A9 + Spark extras:
cube / rollup / grouping sets, exact distinct).

All aggregations are single groupBy stages → Spark plans partial (map-side)
aggregation before the shuffle; conditional counts are `sum(when(...))`
expressions inside the same hash-agg, not separate passes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, local_df
from ..functions.scalars import dec_avg, dec_sum
from ..plans.registry import register


@register(
    "a4_conditional_aggregation",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS n_high_priority,
           CAST(SUM(CASE WHEN o_totalprice > 200000 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) / COUNT(o_totalprice) AS avg_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def a4_conditional_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional hash aggregation (A4: TP/FP/FN-style class counts,
    evaluation/evaluator.py:43-61)."""
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.when(high, 1).otherwise(0)).alias("n_high_priority"),
            F.sum(F.when(F.col("o_totalprice") > 200000, 1).otherwise(0)).alias("n_big"),
            dec_avg("o_totalprice", "avg_price"),
        )
    )


@register(
    "a_rollup_order_hierarchy",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def a_rollup_order_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING flags -- subtotal hierarchy absent from the
    reference, free in Spark (SURVEY §2.5 note)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").cast("long").alias("g_status"),
            F.grouping("o_orderpriority").cast("long").alias("g_priority"),
            F.count(F.lit(1)).alias("n"),
            dec_sum("o_totalprice", "total"),
        )
        .select("o_orderstatus", "o_orderpriority", "g_status", "g_priority", "n", "total")
    )


@register(
    "a_cube_lineitem_flags",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def a_cube_lineitem_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over the two lineitem status dims."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), dec_sum("l_quantity", "sum_qty"))
        .select("l_returnflag", "l_linestatus", "n", "sum_qty")
    )


@register(
    "a7_bool_and_completeness",
    oracle="""
    SELECT sub.all_low_discount, COUNT(*) AS n_orders
    FROM (SELECT l_orderkey, BOOL_AND(l_discount < 0.05) AS all_low_discount
          FROM lineitem GROUP BY l_orderkey) sub
    GROUP BY sub.all_low_discount
    """,
)
def a7_bool_and_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOOL_AND aggregate (A7: is_complete = every required field non-null,
    utils/form.py:49-58) -- here: orders whose lines all have low discount."""
    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.bool_and(F.col("l_discount") < 0.05).alias("all_low_discount"))
    return per_order.groupBy("all_low_discount").agg(
        F.count(F.lit(1)).alias("n_orders"))


@register(
    "a8_distinct_key_union",
    oracle="""
    SELECT COUNT(*) AS n_nations_active
    FROM (SELECT c_nationkey AS nk FROM customer
          UNION
          SELECT s_nationkey FROM supplier)
    """,
)
def a8_distinct_key_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct key-set union (A8, evaluation/evaluator.py:40)."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.union(s).distinct().agg(F.count(F.lit(1)).alias("n_nations_active"))


@register(
    "a_multi_distinct_counts",
    oracle="""
    SELECT c_mktsegment,
           COUNT(DISTINCT c_nationkey) AS n_nations,
           COUNT(DISTINCT c_custkey) AS n_customers,
           COUNT(*) AS n_rows
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def a_multi_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple exact COUNT(DISTINCT) in one aggregation (Spark expands
    grouping sets internally)."""
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_mktsegment")
        .agg(
            F.countDistinct("c_nationkey").alias("n_nations"),
            F.countDistinct("c_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "a2_minmax_stats_per_nation",
    oracle="""
    SELECT n_name,
           MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) / COUNT(c_acctbal) AS avg_bal,
           COUNT(*) AS n
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def a2_minmax_stats_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min/max/avg/count stats rollup (A1/A6 shapes) after a broadcast join."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.min("c_acctbal").alias("min_bal"),
            F.max("c_acctbal").alias("max_bal"),
            dec_avg("c_acctbal", "avg_bal"),
            F.count(F.lit(1)).alias("n"),
        )
    )


_PROFILE_COLS = [
    # (column, numeric?) -- numeric columns also report min/max as DOUBLE
    ("l_orderkey", True), ("l_partkey", True), ("l_suppkey", True),
    ("l_linenumber", True), ("l_quantity", True),
    ("l_extendedprice", True), ("l_discount", True), ("l_tax", True),
    ("l_returnflag", False), ("l_linestatus", False),
]


def _profile_oracle() -> str:
    parts = []
    for c, num in _PROFILE_COLS:
        mn = f"CAST(MIN({c}) AS DOUBLE)" if num else "CAST(NULL AS DOUBLE)"
        mx = f"CAST(MAX({c}) AS DOUBLE)" if num else "CAST(NULL AS DOUBLE)"
        parts.append(f"""
      SELECT '{c}' AS column_name,
             COUNT(*) AS n_rows,
             COUNT(*) - COUNT({c}) AS n_nulls,
             COUNT(DISTINCT {c}) AS n_distinct,
             {mn} AS min_value, {mx} AS max_value
      FROM lineitem""")
    return " UNION ALL ".join(parts)


@register("a_data_profile_lineitem", oracle=_profile_oracle())
def a_data_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling in ONE scan: per-column row/null/exact-distinct
    counts plus numeric min/max over the fact table -- the data-quality
    audit every ingest pipeline runs before publishing a snapshot (and
    the input to constraint inference: a column whose n_nulls jumps or
    whose min/max drifts is a quarantine candidate; the doc-pipeline's
    p10 validation consumes exactly such expectations).

    Plan shape: a single wide aggregate produces every statistic in one
    pass (the multi-distinct aggregation plans through Spark's Expand --
    one logical scan, |profiled columns| expanded rows per input row, all
    combining map-side); the per-column presentation is a driver-sized
    unpivot of the ONE aggregated row, never a second scan. At 100 TB
    this is the difference between one job and one job per column;
    sketch-based ndv (a_approx_count_distinct / the HLL rollup faces) is
    the documented swap when exact distinct counts stop being worth their
    shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c, num in _PROFILE_COLS:
        aggs.append(F.count(c).alias(f"cnt_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"ndv_{c}"))
        if num:
            aggs.append(F.min(c).cast("double").alias(f"min_{c}"))
            aggs.append(F.max(c).cast("double").alias(f"max_{c}"))
    row = li.agg(*aggs)
    stack_args = []
    for c, num in _PROFILE_COLS:
        mn = f"min_{c}" if num else "CAST(NULL AS DOUBLE)"
        mx = f"max_{c}" if num else "CAST(NULL AS DOUBLE)"
        stack_args.append(
            f"'{c}', cnt_{c}, ndv_{c}, {mn}, {mx}")
    n = len(_PROFILE_COLS)
    return row.selectExpr(
        "n_rows",
        f"stack({n}, {', '.join(stack_args)}) AS "
        "(column_name, cnt, n_distinct, min_value, max_value)"
    ).select(
        "column_name", "n_rows",
        (F.col("n_rows") - F.col("cnt")).alias("n_nulls"),
        "n_distinct", "min_value", "max_value")


@register(
    "a_key_skew_profile",
    oracle="""
    WITH per_key AS (
      SELECT l_orderkey AS key, COUNT(*) AS c
      FROM lineitem GROUP BY l_orderkey),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(c) AS BIGINT) AS n_rows,
             CAST(MAX(c) AS BIGINT) AS max_rows_per_key,
             ROUND(AVG(c), 6) AS avg_rows_per_key,
             CAST(MIN(c) AS BIGINT) AS min_rows_per_key
      FROM per_key),
    quant AS (
      SELECT ROUND(quantile_cont(c, 0.50), 6) AS p50,
             ROUND(quantile_cont(c, 0.99), 6) AS p99
      FROM per_key)
    SELECT n_keys, n_rows, min_rows_per_key, avg_rows_per_key,
           max_rows_per_key, p50, p99,
           ROUND(CAST(max_rows_per_key AS DOUBLE) / n_rows, 9)
             AS top_key_share,
           ROUND(CAST(max_rows_per_key AS DOUBLE)
                 / avg_rows_per_key, 6) AS skew_factor
    FROM stats, quant
    """,
)
def a_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/aggregation KEY-SKEW profile for the shuffle key a planner
    cares about (l_orderkey): per-key row-count distribution (min / avg /
    max / exact interpolated p50 / p99 via the engine-parity
    `percentile`/`quantile_cont` pair the percentile faces established),
    the hottest key's share of all rows, and max/avg skew factor -- the
    measurement that DECIDES between the plain, AQE-skew, and salted join
    strategies this engine ships (j_salted_skew_join / a_salted_skew_sum
    act on exactly this diagnosis). One groupBy on the key (the shuffle
    the consumer would pay anyway) + single-row aggregates over the key
    relation -- deliberately NO window anywhere: a sort over the distinct
    keys would be fact-sized at 100 TB (the first cut used CUME_DIST and
    was rewritten for exactly that reason)."""
    li = load_table(spark, sf_dir, "lineitem")
    per_key = li.groupBy(F.col("l_orderkey").alias("key")).agg(
        F.count(F.lit(1)).alias("c"))
    quant = per_key.agg(
        F.round(F.percentile("c", F.lit(0.50)), 6).alias("p50"),
        F.round(F.percentile("c", F.lit(0.99)), 6).alias("p99"))
    stats = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("c").cast("long").alias("n_rows"),
        F.max("c").alias("max_rows_per_key"),
        F.round(F.avg("c"), 6).alias("avg_rows_per_key"),
        F.min("c").alias("min_rows_per_key"))
    return (stats.crossJoin(quant)
            .select("n_keys", "n_rows", "min_rows_per_key",
                    "avg_rows_per_key", "max_rows_per_key", "p50", "p99",
                    F.round(F.col("max_rows_per_key").cast("double")
                            / F.col("n_rows"), 9).alias("top_key_share"),
                    F.round(F.col("max_rows_per_key").cast("double")
                            / F.col("avg_rows_per_key"), 6)
                     .alias("skew_factor")))


# --- exact distributed weighted percentiles (r12) -----------------------------

_WP_QUANTILES = (25, 50, 75, 90)  # integer percents => exact arithmetic
_WP_BUCKET = 1000.0               # coarse value-bucket width for the
#                                   two-phase cumulative sum (price domain
#                                   ~900..105k => ~110 buckets per group)


@register(
    "a_weighted_percentile_exact",
    oracle=f"""
    WITH vals AS (
      SELECT l_returnflag, l_extendedprice AS v,
             SUM(CAST(l_quantity AS BIGINT)) AS w
      FROM lineitem GROUP BY l_returnflag, l_extendedprice),
    cum AS (
      SELECT l_returnflag, v,
             SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v
                          ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(w) OVER (PARTITION BY l_returnflag) AS total
      FROM vals),
    q(pct) AS (VALUES {", ".join(f"({p})" for p in _WP_QUANTILES)})
    SELECT l_returnflag, CAST(pct AS BIGINT) AS pct, MIN(v) AS value
    FROM cum, q
    WHERE 100 * cw >= pct * total
    GROUP BY l_returnflag, pct
    """,
)
def a_weighted_percentile_exact(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """EXACT weighted percentiles without a fact-scale single-partition
    window: the p-th weighted percentile of l_extendedprice with weight
    l_quantity per l_returnflag -- the smallest value whose cumulative
    weight reaches p% of the group total (the estimator approx_percentile
    approximates; this face is its exact audit twin, the shape a curation
    pipeline needs when a cut threshold must be reproducible).

    Scale shape -- the x5_shard_by_budget two-phase global-cumsum idiom
    applied to a window most engines write as one giant sort:
    1. weights collapse to the (group, value) DISTINCT-VALUE relation
       first (map-side combine; the fact table never enters a window);
    2. per-(group, coarse value-bucket) sums roll up to bucket offsets
       via a window over the ~110-buckets-per-group relation (tiny);
    3. the within-bucket running sum + its bucket offset is the exact
       global cumulative weight -- each window task sorts ONE bucket,
       so parallelism is (groups x buckets), never 1.
    All comparisons are exact integer arithmetic (quantities are
    integral: 100*cw >= pct*total in BIGINT -- no float epsilon at the
    percentile boundary), and the emitted value is a SELECTED datum, not
    a computed float, so no rounding exposure is needed."""
    li = (load_table(spark, sf_dir, "lineitem")
          .select(F.col("l_returnflag").alias("g"),
                  F.col("l_extendedprice").alias("v"),
                  F.col("l_quantity").cast("long").alias("w")))
    vals = (li.groupBy("g", "v").agg(F.sum("w").alias("w"))
            .withColumn("bucket",
                        F.floor(F.col("v") / F.lit(_WP_BUCKET))
                        .cast("long")))
    from pyspark.sql import Window
    wb = (Window.partitionBy("g").orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    boff = (vals.groupBy("g", "bucket").agg(F.sum("w").alias("bw"))
            .withColumn("offset", F.sum("bw").over(wb) - F.col("bw"))
            .select("g", "bucket", "offset"))
    ww = (Window.partitionBy("g", "bucket").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    # offsets: |groups| x |value-range / bucket-width| rows -- domain-
    # bounded, never fact-scale (the x5_shard_by_budget precedent)
    cum = (vals.join(F.broadcast(boff), ["g", "bucket"])
           .withColumn("cw", F.col("offset") + F.sum("w").over(ww)))
    totals = li.groupBy("g").agg(F.sum("w").alias("total"))
    qs = local_df(spark, [(p,) for p in _WP_QUANTILES], "pct long")
    return (cum.join(totals, "g")
            .crossJoin(F.broadcast(qs))
            .filter(100 * F.col("cw") >= F.col("pct") * F.col("total"))
            .groupBy(F.col("g").alias("l_returnflag"), "pct")
            .agg(F.min("v").alias("value")))
