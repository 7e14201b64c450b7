"""Scalar-function layer queries (SURVEY.md §7 step 2; §2.8 F5-F9, §1.2 P7).

Each query exercises one scalar family over the shared literal fixture (or the
real ``events`` table for JSON) with a DuckDB oracle twin. All expressions are
built-in Column functions -- JVM-side, codegen-friendly, no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, local_df
from ..fixtures import SCALAR_COLS, SCALAR_ROWS, values_sql
from ..functions.scalars import (
    dec_avg,
    is_currency,
    is_email,
    nullify,
    parse_bool,
    parse_date_multi,
    parse_number,
)
from ..plans.registry import register

_SCALAR_SCHEMA = "id long, raw string"
_V = values_sql(SCALAR_ROWS, SCALAR_COLS)


def _scalar_df(spark: SparkSession) -> DataFrame:
    return local_df(spark, SCALAR_ROWS, _SCALAR_SCHEMA)


_MONTHS_RE = ("(?:January|February|March|April|May|June|July|August|September"
              "|October|November|December)")
_T3 = (f"NULLIF(regexp_extract(TRIM(raw), '(?i)({_MONTHS_RE}"
       r"\s+\d{1,2},?\s+\d{4})', 1), '')")


@register(
    "f5_date_parse_multi",
    oracle=f"""
    SELECT id,
           COALESCE(
             TRY_STRPTIME(NULLIF(regexp_extract(TRIM(raw),
               '(\\d{{4}}-\\d{{1,2}}-\\d{{1,2}})', 1), ''), '%Y-%m-%d'),
             TRY_STRPTIME(NULLIF(regexp_extract(TRIM(raw),
               '(\\d{{1,2}}/\\d{{1,2}}/\\d{{4}})', 1), ''), '%m/%d/%Y'),
             TRY_STRPTIME({_T3}, '%B %d, %Y'),
             TRY_STRPTIME({_T3}, '%B %d %Y'),
             TRY_STRPTIME(NULLIF(regexp_extract(TRIM(raw),
               '(?i)(\\d{{1,2}}\\s+{_MONTHS_RE}\\s+\\d{{4}})', 1), ''), '%d %B %Y')
           )::DATE AS parsed_date
    FROM {_V}
    """,
)
def f5_date_parse_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-format date parse, reference re.search semantics: the date
    token is extracted as a SUBSTRING anywhere in the value, month names
    match IGNORECASE, the comma in "Month D, YYYY" is optional, and the
    first pattern whose token parses wins
    (extraction/form_filler.py:147-163). DuckDB's strptime %B is already
    case-insensitive; Spark initcap-normalizes the token instead."""
    return _scalar_df(spark).select(
        "id", parse_date_multi("raw").alias("parsed_date"))


@register(
    "f6_number_extract",
    oracle=f"""
    SELECT id,
           CAST(NULLIF(regexp_extract(raw, '(\\d+(?:\\.\\d+)?)', 1), '') AS DOUBLE) AS num
    FROM {_V}
    """,
)
def f6_number_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First numeric token as double (reference
    extraction/form_filler.py:165-171)."""
    return _scalar_df(spark).select("id", parse_number("raw").alias("num"))


@register(
    "f7_bool_null_normalize",
    oracle=f"""
    SELECT id,
           CASE WHEN lower(TRIM(raw)) IN ('true','yes','1','agree','agreed') THEN TRUE
                WHEN lower(TRIM(raw)) IN ('false','no','0','disagree') THEN FALSE
           END AS as_bool,
           CASE WHEN lower(TRIM(raw)) IN ('none','null','n/a','na','unknown','') THEN NULL
                ELSE raw END AS null_normalized
    FROM {_V}
    """,
)
def f7_bool_null_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truthy-word boolean parse (form_filler.py:173-174) + null-word
    normalization P7 (form_filler.py:142-143)."""
    return _scalar_df(spark).select(
        "id",
        parse_bool("raw").alias("as_bool"),
        nullify("raw").alias("null_normalized"),
    )


@register(
    "f8_email_currency_flags",
    oracle=f"""
    SELECT id,
           regexp_matches(raw, '^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}$') AS valid_email,
           regexp_matches(raw, '^[A-Z]{{3}}\\s+[\\d,]+(\\.\\d{{2}})?$') AS valid_currency
    FROM {_V}
    """,
)
def f8_email_currency_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-validity predicates P10 (utils/validation.py:82-94)."""
    return _scalar_df(spark).select(
        "id",
        is_email("raw").alias("valid_email"),
        is_currency("raw").alias("valid_currency"),
    )


@register(
    "f9_events_json_extract",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / COUNT(value) AS avg_value
    FROM events
    GROUP BY event_type
    """,
)
def f9_events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from the events.props string column (F9;
    reference parses LLM JSON at extraction/extraction.py:130-146 -- same
    get-field-from-JSON-text semantics, here over a real table)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("long"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            dec_avg("value", "avg_value"),
        )
    )


@register(
    "f_variant_semistructured",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(COUNT(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS n_with_k,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS min_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS max_k
    FROM events GROUP BY event_type
    """,
)
def f_variant_semistructured(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through the VARIANT type (Spark 4): the
    scale-correct twin of f9_events_json_extract. get_json_object re-parses
    the JSON text on EVERY path access; parse_json decodes it ONCE into
    the binary variant encoding, and each variant_get is a typed path read
    -- at 100 TB with many accessed paths, that is the difference between
    N string parses per row and one. Same aggregation + same DuckDB JSON
    oracle as the string path, so the hash match proves the variant
    lane is value-identical to text-path extraction."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.withColumn("pv", F.parse_json("props"))
    k = F.try_variant_get("pv", "$.k", "long")
    return (v.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.count(k).alias("n_with_k"),
                 F.sum(k).alias("sum_k"),
                 F.min(k).alias("min_k"),
                 F.max(k).alias("max_k")))


@register(
    "f_date_functions",
    oracle="""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
           CAST(EXTRACT(quarter FROM o_orderdate) AS BIGINT) AS o_quarter,
           CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS o_month,
           CAST(EXTRACT(day FROM o_orderdate) AS BIGINT) AS o_day,
           date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS days_since_epoch_start,
           COUNT(*) AS n
    FROM orders
    GROUP BY 1, 2, 3, 4, 5
    """,
)
def f_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part family (F5/F10 adjacents): year/quarter/month/day extraction
    + day arithmetic, grouped to exercise them as keys."""
    o = load_table(spark, sf_dir, "orders")
    return (o.groupBy(
        F.year("o_orderdate").cast("long").alias("o_year"),
        F.quarter("o_orderdate").cast("long").alias("o_quarter"),
        F.month("o_orderdate").cast("long").alias("o_month"),
        F.dayofmonth("o_orderdate").cast("long").alias("o_day"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp"))
         .cast("long").alias("days_since_epoch_start"))
        .agg(F.count(F.lit(1)).alias("n")))


@register(
    "f_string_functions",
    oracle="""
    SELECT c_custkey,
           upper(c_name) AS uname,
           substr(c_name, 1, 8) AS prefix,
           CAST(length(c_name) AS BIGINT) AS name_len,
           replace(c_name, 'Customer', 'Cust') AS shortened,
           reverse(c_mktsegment) AS seg_rev,
           c_mktsegment || '/' || c_name AS tagged,
           split_part(c_name, '#', 2) AS name_num
    FROM customer WHERE c_custkey < 50
    """,
)
def f_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String family (F7/F12/F13 adjacents): case, substring, length,
    replace, reverse, concat templating, token split."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 50)
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("uname"),
        F.substring("c_name", 1, 8).alias("prefix"),
        F.length("c_name").cast("long").alias("name_len"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("Cust")).alias("shortened"),
        F.reverse("c_mktsegment").alias("seg_rev"),
        F.concat_ws("/", "c_mktsegment", "c_name").alias("tagged"),
        F.element_at(F.split("c_name", "#"), 2).alias("name_num"),
    )


@register(
    "f_array_functions",
    oracle="""
    SELECT l_orderkey,
           array_to_string(list_transform(list_sort(list(l_quantity)),
                                          x -> CAST(x AS VARCHAR)), ',')
             AS quantities_csv,
           CAST(length(list(l_quantity)) AS BIGINT) AS n_lines,
           list_sort(list(l_quantity))[1] AS min_qty,
           list_sort(list(l_quantity))[-1] AS max_qty,
           list_contains(list(l_quantity), 5.0) AS has_qty5
    FROM lineitem
    WHERE l_orderkey < 100
    GROUP BY l_orderkey
    """,
)
def f_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array family (§2.8 note): collect + sort + index + membership over
    per-order quantity vectors. The array itself is projected through a
    canonical CSV rendering: every gate-visible column must be scalar (the
    driver's hasher rejects list cells)."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    q = F.array_sort(F.collect_list("l_quantity"))
    return (li.groupBy("l_orderkey")
            .agg(F.concat_ws(",", F.transform(q, lambda x: x.cast("string")))
                  .alias("quantities_csv"),
                 F.size(F.collect_list("l_quantity")).cast("long").alias("n_lines"),
                 F.element_at(q, 1).alias("min_qty"),
                 F.element_at(q, -1).alias("max_qty"),
                 F.array_contains(F.collect_list("l_quantity"), 5.0).alias("has_qty5")))


@register(
    "f_map_functions",
    oracle="""
    WITH per_line AS (
      SELECT l_orderkey, l_linenumber,
             CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS qty
      FROM lineitem WHERE l_orderkey < 50
      GROUP BY l_orderkey, l_linenumber)
    SELECT l_orderkey,
           array_to_string(list_transform(list_sort(list(l_linenumber)),
                                          x -> CAST(x AS VARCHAR)), ',')
             AS line_numbers_csv,
           array_to_string(
             list_transform(list_sort(list({'k': l_linenumber, 'v': qty})),
                            e -> CAST(e['k'] AS VARCHAR) || '=' || CAST(e['v'] AS VARCHAR)),
             ';') AS line_qty_entries
    FROM per_line GROUP BY l_orderkey
    """,
)
def f_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map family: build MAP<line,qty> per order (map_from_entries over
    pre-aggregated unique keys -- line numbers repeat within an order in
    this corpus), emit sorted keys and 'k=v' entry strings joined into one
    scalar per row (the driver's hasher rejects list cells)."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 50)
    per_line = (li.groupBy("l_orderkey", "l_linenumber")
                .agg(F.sum(F.col("l_quantity").cast("decimal(28,6)"))
                      .cast("double").alias("qty")))
    entries = F.array_sort(F.collect_list(F.struct(
        F.col("l_linenumber").alias("k"), F.col("qty").alias("v"))))
    m = F.map_from_entries(entries)
    return (per_line.groupBy("l_orderkey")
            .agg(F.concat_ws(",", F.transform(F.map_keys(m),
                                              lambda x: x.cast("string")))
                  .alias("line_numbers_csv"),
                 F.concat_ws(";", F.transform(
                     entries,
                     lambda e: F.concat(e["k"].cast("string"), F.lit("="),
                                        e["v"].cast("string"))))
                 .alias("line_qty_entries")))


@register(
    "p5_preview_truncate",
    oracle="""
    SELECT doc_id, substr(text, 1, 100) AS preview, n_chars
    FROM documents ORDER BY doc_id LIMIT 10
    """,
)
def p5_preview_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5/P6: preview projections -- substring truncation + limit
    (main.py:157,179; extraction/extraction.py:102)."""
    d = load_table(spark, sf_dir, "documents")
    return (d.select("doc_id", F.substring("text", 1, 100).alias("preview"), "n_chars")
            .orderBy("doc_id").limit(10))


@register(
    "a_percentiles_exact",
    oracle="""
    SELECT c_mktsegment,
           quantile_cont(c_acctbal, 0.25) AS p25,
           quantile_cont(c_acctbal, 0.5) AS median,
           quantile_cont(c_acctbal, 0.75) AS p75
    FROM customer GROUP BY c_mktsegment
    """,
)
def a_percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles per segment (both engines use
    the p*(n-1) continuous-quantile definition)."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.percentile("c_acctbal", F.lit(0.25)).alias("p25"),
        F.percentile("c_acctbal", F.lit(0.5)).alias("median"),
        F.percentile("c_acctbal", F.lit(0.75)).alias("p75"))


@register(
    "a_approx_count_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           ABS(CAST(approx_count_distinct(l_orderkey) AS DOUBLE)
               - COUNT(DISTINCT l_orderkey))
             <= 0.10 * COUNT(DISTINCT l_orderkey) AS approx_within_10pct
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) -- the at-scale substitute for
    exact COUNT(DISTINCT) on high-cardinality keys. Raw sketch estimates are
    engine-specific, so the gate-visible columns are the exact count plus a
    boolean asserting each engine's OWN estimate lands within 10% of exact
    (both engines' HLL default rsd is ~2-5%, so this is robustly true)."""
    li = load_table(spark, sf_dir, "lineitem")
    exact = F.countDistinct("l_orderkey")
    approx = F.approx_count_distinct("l_orderkey")
    return li.groupBy("l_returnflag").agg(
        exact.alias("exact_orders"),
        (F.abs(approx.cast("double") - exact) <= 0.10 * exact)
        .alias("approx_within_10pct"))


@register(
    "a_approx_percentile",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.5) AS exact_median,
           ABS(approx_quantile(l_extendedprice, 0.5)
               - quantile_cont(l_extendedprice, 0.5))
             <= 0.05 * quantile_cont(l_extendedprice, 0.5)
             AS approx_within_5pct
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (Greenwald-Khanna / t-digest family) -- the
    at-scale substitute for exact quantiles: mergeable per-partition
    sketches instead of a global sort. Sketch outputs are engine-specific
    (Spark GK vs DuckDB t-digest), so as with a_approx_count_distinct the
    gate-visible columns are the exact continuous median (identical
    interpolation arithmetic in both engines) plus a boolean asserting each
    engine's OWN estimate lands within 5% of its exact value."""
    li = load_table(spark, sf_dir, "lineitem")
    exact = F.percentile("l_extendedprice", F.lit(0.5))
    approx = F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10000))
    return li.groupBy("l_returnflag").agg(
        exact.alias("exact_median"),
        (F.abs(approx - exact) <= 0.05 * exact).alias("approx_within_5pct"))


@register(
    "a_hll_sketch_partial_merge",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
           ABS(CAST(approx_count_distinct(o_custkey) AS DOUBLE)
               - COUNT(DISTINCT o_custkey))
             <= 0.10 * COUNT(DISTINCT o_custkey)
             AS merged_estimate_within_10pct
    FROM orders GROUP BY 1
    """,
)
def a_hll_sketch_partial_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable distinct counts via mergeable HLL sketches -- the
    100 TB pattern a_approx_count_distinct only hints at: per-day partial
    sketches (hll_sketch_agg) are UNIONED into monthly estimates
    (hll_union_agg -> hll_sketch_estimate) without ever re-touching the
    rows. At scale the daily sketches are a few KB each and persist as a
    rollup table; any coarser granularity (month/quarter/ad-hoc date range)
    is a sketch merge, not a re-scan. Raw sketch bytes/estimates are
    engine-specific, so as with a_approx_count_distinct the gate-visible
    columns are the exact monthly distinct plus a boolean asserting each
    engine's OWN estimator (Spark: two-level daily->monthly sketch merge;
    DuckDB: its native approx_count_distinct) lands within 10% of exact."""
    o = load_table(spark, sf_dir, "orders")
    month = F.date_trunc("month", F.col("o_orderdate")).cast("date")
    daily = (o.groupBy(month.alias("month"),
                       F.col("o_orderdate").alias("day"))
             .agg(F.hll_sketch_agg("o_custkey").alias("sk")))
    merged = (daily.groupBy("month")
              .agg(F.hll_sketch_estimate(F.hll_union_agg("sk"))
                   .alias("merged_est")))
    exact = (o.groupBy(month.alias("month"))
             .agg(F.countDistinct("o_custkey").alias("exact_customers")))
    return (exact.join(F.broadcast(merged), "month")
            .select(
                "month",
                "exact_customers",
                (F.abs(F.col("merged_est").cast("double")
                       - F.col("exact_customers"))
                 <= 0.10 * F.col("exact_customers"))
                .alias("merged_estimate_within_10pct")))


@register(
    "a_theta_sketch_set_ops",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             MAX(CASE WHEN year(o_orderdate) = 1995 THEN 1 ELSE 0 END) AS a,
             MAX(CASE WHEN year(o_orderdate) = 1996 THEN 1 ELSE 0 END) AS b
      FROM orders
      WHERE year(o_orderdate) IN (1995, 1996)
      GROUP BY o_custkey)
    SELECT CAST(SUM(a) AS BIGINT) AS n_1995,
           CAST(SUM(b) AS BIGINT) AS n_1996,
           CAST(SUM(a * b) AS BIGINT) AS n_both,
           CAST(COUNT(*) AS BIGINT) AS n_either,
           CAST(SUM(a * (1 - b)) AS BIGINT) AS n_only_1995,
           true AS theta_within_10pct
    FROM per_cust
    """,
)
def a_theta_sketch_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta sketches: mergeable distinct-count sketches with full SET
    ALGEBRA -- union, INTERSECTION, and DIFFERENCE -- which HLL cannot do
    (a_hll_sketch_partial_merge only unions). The 100 TB pattern is
    audience overlap: per-segment sketches a few KB each answer
    "customers active in BOTH periods / only period A" without ever
    re-scanning or joining the raw 100 TB -- an exact answer needs a
    distinct-key shuffle of everything.

    Gate-visible columns are the exact overlap counts (one custkey-grouped
    flag aggregation, oracle-checked) plus a boolean asserting Spark's own
    theta estimates (union/intersection/difference of the two yearly
    sketches) all land within 10% of exact. DuckDB has no theta surface,
    so its boolean is literal true -- the Spark side still computes the
    real bounds; any out-of-band estimate flips the boolean and fails the
    hash match."""
    o = load_table(spark, sf_dir, "orders")
    yr = F.year("o_orderdate")
    o2 = o.filter(yr.isin(1995, 1996)).select(
        "o_custkey", (yr == 1995).alias("a"), (yr == 1996).alias("b"))
    per_cust = o2.groupBy("o_custkey").agg(
        F.max(F.col("a").cast("int")).alias("a"),
        F.max(F.col("b").cast("int")).alias("b"))
    exact = per_cust.agg(
        F.sum("a").alias("n_1995"),
        F.sum("b").alias("n_1996"),
        F.sum(F.col("a") * F.col("b")).alias("n_both"),
        F.count(F.lit(1)).alias("n_either"),
        F.sum(F.col("a") * (1 - F.col("b"))).alias("n_only_1995"))
    sketches = o2.agg(
        F.theta_sketch_agg(F.when(F.col("a"), F.col("o_custkey"))).alias("ska"),
        F.theta_sketch_agg(F.when(F.col("b"), F.col("o_custkey"))).alias("skb"))
    est = sketches.select(
        F.theta_sketch_estimate("ska").alias("e_a"),
        F.theta_sketch_estimate("skb").alias("e_b"),
        F.theta_sketch_estimate(
            F.theta_intersection("ska", "skb")).alias("e_both"),
        F.theta_sketch_estimate(F.theta_union("ska", "skb")).alias("e_either"),
        F.theta_sketch_estimate(
            F.theta_difference("ska", "skb")).alias("e_only_a"))

    def within(est_col: str, exact_col: str):
        return (F.abs(F.col(est_col).cast("double") - F.col(exact_col))
                <= 0.10 * F.col(exact_col))

    return (exact.crossJoin(F.broadcast(est))
            .select(
                "n_1995", "n_1996", "n_both", "n_either", "n_only_1995",
                (within("e_a", "n_1995") & within("e_b", "n_1996")
                 & within("e_both", "n_both") & within("e_either", "n_either")
                 & within("e_only_a", "n_only_1995"))
                .alias("theta_within_10pct")))


@register(
    "f14_base64_roundtrip",
    oracle="""
    SELECT doc_id,
           base64(encode(substr(text, 1, 30))) AS b64,
           substr(text, 1, 30) AS round_tripped
    FROM documents WHERE doc_id < 20
    """,
)
def f14_base64_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14: base64 encoding of binary payloads (reference encodes page
    images for Ollama, extraction/llama_extractor.py:80-84) + decode
    round-trip."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    payload = F.substring("text", 1, 30).cast("binary")
    return d.select(
        "doc_id",
        F.base64(payload).alias("b64"),
        F.unbase64(F.base64(payload)).cast("string").alias("round_tripped"))


@register(
    "a_histogram_equiwidth",
    oracle="""
    WITH bounds AS (
      SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders)
    SELECT CAST(CASE WHEN hi = lo THEN 0
                     ELSE LEAST(FLOOR((o_totalprice - lo) / (hi - lo) * 20),
                                19) END AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(o_totalprice) AS DOUBLE) AS bucket_min,
           CAST(MAX(o_totalprice) AS DOUBLE) AS bucket_max
    FROM orders CROSS JOIN bounds
    GROUP BY 1
    """,
)
def a_histogram_equiwidth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram (20 buckets over the observed range) -- the
    profiling primitive behind data-quality dashboards and CBO statistics.
    Two passes: a 2-scalar min/max agg broadcast back as a 1-row cross
    join, then a map-side-combinable bucket groupBy. The bucket expression
    is one double multiply/floor per row -- identical in both engines;
    LEAST pins the hi endpoint into the last bucket."""
    o = load_table(spark, sf_dir, "orders")
    bounds = o.agg(F.min("o_totalprice").alias("lo"),
                   F.max("o_totalprice").alias("hi"))
    # hi = lo (single-valued range): everything lands in bucket 0 instead
    # of an ANSI-mode division error
    bucket = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
        F.least(F.floor((F.col("o_totalprice") - F.col("lo"))
                        / (F.col("hi") - F.col("lo")) * 20),
                F.lit(19))).cast("long")
    return (o.crossJoin(F.broadcast(bounds))
            .groupBy(bucket.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("o_totalprice").cast("double").alias("bucket_min"),
                 F.max("o_totalprice").cast("double").alias("bucket_max")))


@register(
    "a_gini_concentration",
    oracle="""
    WITH rev AS (
      SELECT c.c_mktsegment, c.c_custkey,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
               AS revenue
      FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_mktsegment, c.c_custkey),
    ranked AS (
      SELECT c_mktsegment, revenue,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY revenue, c_custkey) AS i
      FROM rev),
    sums AS (
      SELECT c_mktsegment, COUNT(*) AS n,
             CAST(SUM(CAST(revenue AS DECIMAL(28,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(i * revenue AS DECIMAL(38,12))) AS DOUBLE) AS six
      FROM ranked GROUP BY c_mktsegment)
    SELECT c_mktsegment, CAST(n AS BIGINT) AS n_customers,
           ROUND(2.0 * six / (n * sx) - (n + 1.0) / n, 6) AS gini
    FROM sums
    """,
)
def a_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of revenue concentration per market segment -- the
    inequality metric corpus pipelines apply to SOURCE share (is one
    domain dominating the mixture?) and billing applies to customer
    concentration. Exact rank formula G = 2*sum(i*x_i)/(n*sum(x)) -
    (n+1)/n over revenues ranked ascending (ties broken by key). Shape:
    one fact rollup, one per-segment rank window, decimal-exact sums with
    a single double expression at the end -- deterministic and identical
    in both engines."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    dec6, dec12 = "decimal(28,6)", "decimal(38,12)"
    rev = (c.join(o, c["c_custkey"] == o["o_custkey"])
           .groupBy("c_mktsegment", "c_custkey")
           .agg(F.sum(F.col("o_totalprice").cast(dec6)).cast("double")
                .alias("revenue")))
    from pyspark.sql import Window
    w = (Window.partitionBy("c_mktsegment")
         .orderBy(F.asc("revenue"), F.asc("c_custkey")))
    ranked = rev.withColumn("i", F.row_number().over(w))
    sums = ranked.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("revenue").cast(dec6)).cast("double").alias("sx"),
        F.sum((F.col("i") * F.col("revenue")).cast(dec12)).cast("double")
         .alias("six"))
    return sums.select(
        "c_mktsegment", F.col("n").alias("n_customers"),
        F.round(2.0 * F.col("six") / (F.col("n") * F.col("sx"))
                - (F.col("n") + 1.0) / F.col("n"), 6).alias("gini"))


@register(
    "a_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def a_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond rollup/cube): per-status, per-priority,
    and grand-total rows in one aggregation pass."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """)


@register(
    "f_date_arithmetic",
    oracle="""
    SELECT o_orderkey,
           o_orderdate + INTERVAL 1 MONTH AS plus_month,
           last_day(CAST(o_orderdate AS DATE)) AS month_end,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           o_orderdate + INTERVAL 90 DAY AS due_date
    FROM orders WHERE o_orderkey < 200
    """,
)
def f_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic family: month addition (end-of-month clamped the same
    way by both engines), last_day, month truncation, day offsets."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 200)
    return o.select(
        "o_orderkey",
        (F.col("o_orderdate") + F.expr("INTERVAL 1 MONTH")).alias("plus_month"),
        F.last_day("o_orderdate").alias("month_end"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")).alias("due_date"))


@register(
    "f_conditional_functions",
    oracle=f"""
    SELECT id,
           COALESCE(NULLIF(trim(raw), ''), '<empty>') AS defaulted,
           CASE WHEN length(raw) > 10 THEN 'long'
                WHEN length(raw) > 3 THEN 'mid'
                ELSE 'short' END AS size_class,
           GREATEST(length(raw), 5) AS len_floor5,
           LEAST(length(raw), 20) AS len_cap20,
           raw IS NOT DISTINCT FROM 'yes' AS null_safe_eq_yes
    FROM {_V}
    """,
)
def f_conditional_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional scalar family: coalesce/nullif defaults, CASE ladders,
    greatest/least clamps, null-safe equality."""
    return _scalar_df(spark).select(
        "id",
        F.coalesce(F.nullif(F.trim("raw"), F.lit("")), F.lit("<empty>"))
         .alias("defaulted"),
        F.when(F.length("raw") > 10, "long")
         .when(F.length("raw") > 3, "mid")
         .otherwise("short").alias("size_class"),
        F.greatest(F.length("raw"), F.lit(5)).alias("len_floor5"),
        F.least(F.length("raw"), F.lit(20)).alias("len_cap20"),
        F.col("raw").eqNullSafe(F.lit("yes")).alias("null_safe_eq_yes"))


@register(
    "sql_scalar_subquery",
    oracle="""
    SELECT c_custkey, c_acctbal
    FROM customer
    WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE)
                              / COUNT(c_acctbal) * 1.8
                       FROM customer)
    """,
)
def sql_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark SQL surface: uncorrelated scalar subquery (Catalyst plans the
    inner aggregate once and broadcasts the scalar)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_sq")
    return spark.sql("""
        SELECT c_custkey, c_acctbal
        FROM customer_sq
        WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE)
                                  / COUNT(c_acctbal) * 1.8
                           FROM customer_sq)
    """)


@register(
    "sql_correlated_exists_subquery",
    oracle="""
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_suppkey = s_suppkey AND l_quantity > 45)
      AND NOT EXISTS (SELECT 1 FROM lineitem
                      WHERE l_suppkey = s_suppkey
                        AND l_shipdate > TIMESTAMP '2001-10-01' AND l_quantity > 40)
    """,
)
def sql_correlated_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark SQL surface: correlated EXISTS / NOT EXISTS (Catalyst rewrites
    to semi/anti joins -- same plan the DataFrame API produces)."""
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView("supplier_sq")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_sq")
    return spark.sql("""
        SELECT s_suppkey, s_name
        FROM supplier_sq
        WHERE EXISTS (SELECT 1 FROM lineitem_sq
                      WHERE l_suppkey = s_suppkey AND l_quantity > 45)
          AND NOT EXISTS (SELECT 1 FROM lineitem_sq
                          WHERE l_suppkey = s_suppkey
                            AND l_shipdate > TIMESTAMP '2001-10-01' AND l_quantity > 40)
    """)


@register(
    "f_unpivot_measures",
    oracle="""
    SELECT l_orderkey, l_linenumber, measure, val
    FROM (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
          FROM lineitem WHERE l_orderkey < 30)
    UNPIVOT (val FOR measure IN (l_quantity, l_extendedprice, l_discount))
    """,
)
def f_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt: wide numeric measures → long (measure, value) EAV --
    the inverse of doc_form_pivot_nda, via Spark's native unpivot."""
    li = (load_table(spark, sf_dir, "lineitem")
          .filter(F.col("l_orderkey") < 30)
          .select("l_orderkey", "l_linenumber",
                  "l_quantity", "l_extendedprice", "l_discount"))
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="measure", valueColumnName="val")


@register(
    "f_map_explode_roundtrip",
    oracle="""
    WITH per_line AS (
      SELECT l_orderkey, l_linenumber,
             CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS qty
      FROM lineitem WHERE l_orderkey < 30
      GROUP BY l_orderkey, l_linenumber)
    SELECT l_orderkey, l_linenumber AS line, qty FROM per_line
    """,
)
def f_map_explode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP round-trip: build MAP<line,qty> per order, then explode it back
    to rows (map_from_entries → explode) -- proving the EAV ↔ MAP duality
    the form model relies on (SURVEY §1.1-7). The oracle is the pre-map
    relation, which the round-trip must reproduce exactly."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 30)
    per_line = (li.groupBy("l_orderkey", "l_linenumber")
                .agg(F.sum(F.col("l_quantity").cast("decimal(28,6)"))
                      .cast("double").alias("qty")))
    as_map = (per_line.groupBy("l_orderkey")
              .agg(F.map_from_entries(
                  F.array_sort(F.collect_list(F.struct(
                      F.col("l_linenumber").alias("k"),
                      F.col("qty").alias("v"))))).alias("m")))
    return as_map.select("l_orderkey", F.explode("m").alias("line", "qty"))


@register(
    "f_levenshtein_fuzzy_match",
    oracle="""
    WITH names AS (SELECT DISTINCT p_name FROM part)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           levenshtein(a.p_name, b.p_name) AS edit_dist
    FROM names a JOIN names b ON a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 4
    """,
)
def f_levenshtein_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy matching over the (tiny, distinct) part-name
    vocabulary -- the string-similarity family for fuzzy dedup/linkage. The
    self-join runs on the deduplicated name dim, never the fact table."""
    names = load_table(spark, sf_dir, "part").select("p_name").distinct()
    a = names.select(F.col("p_name").alias("name_a"))
    b = names.select(F.col("p_name").alias("name_b"))
    return (a.join(b, F.col("name_a") < F.col("name_b"))
            .withColumn("edit_dist", F.levenshtein("name_a", "name_b"))
            .filter(F.col("edit_dist") <= 4))


_QGRAM_Q = 2  # gram width for the blocked edit-distance join
_QGRAM_K = 2  # edit-distance threshold the blocking must preserve


@register(
    "x1_entity_qgram_join",
    oracle=f"""
    WITH names AS (SELECT DISTINCT p_name FROM part)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           levenshtein(a.p_name, b.p_name) AS edit_dist
    FROM names a JOIN names b ON a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= {_QGRAM_K}
    """,
)
def x1_entity_qgram_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution at scale: the SAME contract as the all-pairs
    `f_levenshtein_fuzzy_match` shape (every distinct-name pair within
    edit distance {_QGRAM_K}) computed as a q-gram COUNT-FILTERED
    similarity join instead of a quadratic self-join -- the standard
    scalable string-join (Gravano et al. q-gram lemma: one edit destroys
    at most q grams, so any pair within k edits shares at least
    max(|a|,|b|) - q + 1 - k*q bag q-grams). Candidates come from an
    inverted gram index with the bag-intersection count filter; survivors
    verify with exact `levenshtein`, so the filter only has to be
    NECESSARY (never drop a true pair -- a theorem, not a recall knob)
    and the oracle hash checks exactly that.

    Completeness edge: the bound is only >= 1 when max(len) >= q + k*q,
    so pairs where BOTH names are shorter brute-force in a separate tiny
    bucket (empty on this corpus -- min name length 7 > {_QGRAM_Q + _QGRAM_K * _QGRAM_Q};
    real name vocabularies keep it dimension-sized). Scale shape: grams
    shuffle on the gram key (df-bounded: a vocabulary gram appears in a
    bounded fraction of names), the count filter prunes before any
    edit-distance work, and `levenshtein` runs only on surviving
    candidate pairs."""
    names = (load_table(spark, sf_dir, "part")
             .select("p_name").distinct()
             .select("p_name", F.length("p_name").alias("len")))
    return qgram_join(names)


def qgram_join(names: DataFrame) -> DataFrame:
    """The q-gram count-filtered similarity join over an arbitrary
    (p_name, len) relation: the levenshtein-verified pairs
    (name_a, name_b, edit_dist) of every name pair within _QGRAM_K
    edits."""
    q, k = _QGRAM_Q, _QGRAM_K
    min_long = q + k * q  # max(len) >= this  <=>  count bound >= 1

    grams = (names.filter(F.col("len") >= q)
             .select("p_name", "len",
                     F.explode(F.expr(
                         f"transform(sequence(1, length(p_name) - {q - 1}),"
                         f" i -> substring(p_name, i, {q}))")).alias("gram"))
             .groupBy("p_name", "len", "gram")
             .agg(F.count(F.lit(1)).alias("c")))
    ga = grams.select(F.col("p_name").alias("name_a"),
                      F.col("len").alias("la"), "gram",
                      F.col("c").alias("ca"))
    gb = grams.select(F.col("p_name").alias("name_b"),
                      F.col("len").alias("lb"), "gram",
                      F.col("c").alias("cb"))
    cand = (ga.join(gb, "gram")
            .filter(F.col("name_a") < F.col("name_b"))
            .groupBy("name_a", "name_b", "la", "lb")
            .agg(F.sum(F.least("ca", "cb")).alias("shared"))
            .filter(F.col("shared")
                    >= F.greatest("la", "lb") - F.lit(q - 1) - F.lit(k * q))
            .select("name_a", "name_b"))
    shorts = names.filter(F.col("len") < min_long)
    short_pairs = (shorts.select(F.col("p_name").alias("name_a"))
                   .join(shorts.select(F.col("p_name").alias("name_b")),
                         F.col("name_a") < F.col("name_b")))
    return (cand.unionByName(short_pairs).distinct()
            .withColumn("edit_dist", F.levenshtein("name_a", "name_b"))
            .filter(F.col("edit_dist") <= k))


@register(
    "a_bitwise_aggregates",
    oracle="""
    SELECT event_type,
           bit_or(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_bits_or,
           bit_and(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_bits_and,
           CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_min
    FROM events GROUP BY event_type
    """,
)
def a_bitwise_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise OR/AND aggregation (flag-set unions at scale -- order-free by
    construction, no decimal discipline needed)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.bit_or(k).alias("k_bits_or"),
        F.bit_and(k).alias("k_bits_and"),
        F.min(k).alias("k_min"))


@register(
    "a_statistics_moments",
    oracle="""
    WITH sums AS (
      SELECT event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) AS DECIMAL(28,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(value * CAST(json_extract_string(props, '$.k') AS BIGINT) AS DECIMAL(38,12))) AS DOUBLE) AS sxy
      FROM events GROUP BY event_type)
    SELECT event_type, n,
           ROUND((sxx - sx * sx / n) / n, 6) AS var_pop_value,
           ROUND((sxy - sx * sy / n) / n, 6) AS covar_pop_value_k
    FROM sums
    """,
)
def a_statistics_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical moments with the engine's determinism discipline:
    variance/covariance assembled from DECIMAL-exact power sums and ONE
    final double expression, instead of built-in var_pop/covar_pop whose
    streaming accumulation is partition-order-dependent. Same single-pass
    map-side aggregation profile; bit-stable across engines and runs."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    dec6, dec12 = "decimal(28,6)", "decimal(38,12)"
    sums = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast(dec6)).cast("double").alias("sx"),
        F.sum((F.col("value") * F.col("value")).cast(dec12)).cast("double").alias("sxx"),
        F.sum(k.cast(dec6)).cast("double").alias("sy"),
        F.sum((F.col("value") * k).cast(dec12)).cast("double").alias("sxy"))
    return sums.select(
        "event_type", "n",
        F.round((F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / F.col("n"), 6)
         .alias("var_pop_value"),
        F.round((F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / F.col("n"), 6)
         .alias("covar_pop_value_k"))


@register(
    "f_unpivot_melt",
    oracle="""
    SELECT p_partkey, 'p_size' AS attr, CAST(p_size AS DOUBLE) AS val
    FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS attr, p_retailprice AS val
    FROM part
    """,
)
def f_unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide -> EAV unpivot (melt) via stack(): the inverse of the
    doc_form_pivot_nda pivot, and the shape that turns feature columns into
    long-format rows for per-attribute aggregation. stack() is a generator
    expression -- one narrow pass, rows fan out 2x with no shuffle."""
    p = load_table(spark, sf_dir, "part")
    return p.selectExpr(
        "p_partkey",
        "stack(2, 'p_size', CAST(p_size AS DOUBLE),"
        " 'p_retailprice', p_retailprice) AS (attr, val)")


_SN_WINDOW = 8  # sorted-neighborhood width: pairs within this rank gap
_SN_NAME_DIM_MAX = 1_000_000  # distinct-name rows the unpartitioned rank
#   window may sort in one task (~50 MB of short strings -- the outer
#   limit of "dimension-sized"); a corpus whose name relation grows
#   fact-sized must fail loudly here (the _SEMDECON_EVAL_MAX idiom,
#   VERDICT r10 item 7), not silently single-task the window


@register(
    "x1_entity_sorted_neighborhood",
    oracle=f"""
    WITH names AS (SELECT DISTINCT p_name FROM part),
    ranked AS (
      SELECT p_name,
             ROW_NUMBER() OVER (ORDER BY p_name) AS rnk
      FROM names),
    cand AS (
      SELECT a.p_name AS name_a, b.p_name AS name_b,
             CAST(b.rnk - a.rnk AS BIGINT) AS rank_gap
      FROM ranked a JOIN ranked b
        ON b.rnk > a.rnk AND b.rnk <= a.rnk + {_SN_WINDOW})
    SELECT name_a, name_b, rank_gap,
           CAST(levenshtein(name_a, name_b) AS BIGINT) AS edit_dist
    FROM cand
    WHERE levenshtein(name_a, name_b) <= {_QGRAM_K}
    """,
)
def x1_entity_sorted_neighborhood(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Entity resolution via SORTED-NEIGHBORHOOD blocking (Hernandez &
    Stolfo's merge/purge): sort the name dimension, pair every name with
    its {_SN_WINDOW} successors in sort order, verify with exact
    levenshtein <= k -- the third member of the fuzzy-join family next to
    the all-pairs dim join (f_levenshtein_fuzzy_match) and the q-gram
    count-filtered join (x1_entity_qgram_join). Unlike the q-gram lemma,
    SN blocking is a RECALL HEURISTIC (typos in the first characters move
    a name far in sort order), which is why production stacks run it as
    one pass of a multi-key blocking ensemble; this face registers the
    method's exact semantics (window pairs + verify), and the oracle hash
    checks the Spark plan reproduces them bit-for-bit, not that SN finds
    every pair the q-gram join finds.

    Plan shape: the rank assignment is a row_number over an UNPARTITIONED
    window -- deliberate and bounded, like w_ntile_acctbal_quartiles: it
    runs on the DISTINCT NAME DIMENSION (64 rows at sf0.1; name
    vocabularies are dimension-sized by nature), never the fact table,
    and the face is allowlisted in the gate's unpartitioned-window guard
    with this stated bound -- now ENFORCED: a distinct-name relation over
    _SN_NAME_DIM_MAX rows raises before the window is built (a corpus
    where names become fact-sized needs ranged/partitioned SN, not a
    silent single-task sort). The successor join is an equi-join on
    rank + offset (the offsets explode to {_SN_WINDOW} rows per name, a
    constant), so no range-join or cross product appears at any scale;
    levenshtein runs on exactly n x {_SN_WINDOW} candidate pairs."""
    from pyspark.sql import Window

    names = load_table(spark, sf_dir, "part").select("p_name").distinct()
    n_names = names.count()
    if n_names > _SN_NAME_DIM_MAX:
        raise ValueError(
            f"distinct-name relation has {n_names} rows, exceeding the "
            f"dimension bound {_SN_NAME_DIM_MAX} the unpartitioned SN "
            "rank window is allowlisted under -- partition the sort key "
            "(e.g. rank within name prefix blocks) before using SN here")
    w = Window.orderBy("p_name")
    ranked = names.select("p_name", F.row_number().over(w).alias("rnk"))
    offs = spark.range(1, _SN_WINDOW + 1).select(
        F.col("id").cast("int").alias("off"))
    a = ranked.select(F.col("p_name").alias("name_a"),
                      F.col("rnk").alias("ra"))
    b = ranked.select(F.col("p_name").alias("name_b"),
                      F.col("rnk").alias("rb"))
    cand = (a.crossJoin(F.broadcast(offs))
            .withColumn("rb", F.col("ra") + F.col("off"))
            .join(b, "rb")
            .select("name_a", "name_b",
                    F.col("off").cast("long").alias("rank_gap")))
    return (cand.withColumn("edit_dist",
                            F.levenshtein("name_a", "name_b").cast("long"))
            .filter(F.col("edit_dist") <= _QGRAM_K))


# Fellegi-Sunter field comparison model: per-field (m, u) probabilities --
# P(agree | same entity) and P(agree | different entities). In production
# these are EM-estimated from the candidate set; here they are FIXED
# literals (the estimation step is orthogonal to the scoring operator, and
# literals keep the oracle exact: both engines sum the identical 4-dp
# doubles in the identical expression order, so no float divergence can
# exist). Weights are the classic log2 likelihood ratios, precomputed at
# import time.
_FS_MU = {
    "brand_eq": (0.95, 0.04),
    "type_eq": (0.90, 0.0067),
    "size_close": (0.85, 0.02),
    "price_close": (0.80, 0.05),
}


def _fs_weights() -> dict[str, tuple[float, float]]:
    import math
    return {f: (round(math.log2(m / u), 4),
                round(math.log2((1.0 - m) / (1.0 - u)), 4))
            for f, (m, u) in _FS_MU.items()}


_FS_LINK_THR = 10.0     # total log-odds above which the pair is a link
_FS_NONLINK_THR = 0.0   # and below which it is a non-link
_FS_FIELDS = {  # agreement predicate per field, per engine side (a_/b_)
    "brand_eq": "a_brand = b_brand",
    "type_eq": "a_type = b_type",
    "size_close": "abs(a_size - b_size) <= 1",
    "price_close": "abs(a_price - b_price) <= 100.0",
}


def _fs_score_sql() -> str:
    """The summed field-comparison score: CASE per field, fixed order."""
    w = _fs_weights()
    return " + ".join(
        f"(CASE WHEN {pred} THEN {w[f][0]} ELSE {w[f][1]} END)"
        for f, pred in sorted(_FS_FIELDS.items()))


_FS_DECISION_SQL = f"""CASE WHEN fs_score >= {_FS_LINK_THR} THEN 'link'
         WHEN fs_score <= {_FS_NONLINK_THR} THEN 'non_link'
         ELSE 'possible' END"""


@register(
    "x1_linkage_fellegi_sunter",
    oracle=f"""
    WITH names AS (SELECT DISTINCT p_name FROM part),
    pairs AS (
      SELECT a.p_name AS name_a, b.p_name AS name_b,
             levenshtein(a.p_name, b.p_name) AS edit_dist
      FROM names a JOIN names b ON a.p_name < b.p_name
      WHERE levenshtein(a.p_name, b.p_name) <= {_QGRAM_K}),
    reps AS (
      SELECT p.p_name, p.p_brand, p.p_type, p.p_size, p.p_retailprice
      FROM part p
      JOIN (SELECT p_name, MIN(p_partkey) AS pk FROM part GROUP BY p_name) r
        ON p.p_name = r.p_name AND p.p_partkey = r.pk),
    scored AS (
      SELECT name_a, name_b, edit_dist,
             {_fs_score_sql()} AS fs_score
      FROM pairs
      JOIN (SELECT p_name, p_brand AS a_brand, p_type AS a_type,
                   p_size AS a_size, p_retailprice AS a_price FROM reps) ra
        ON name_a = ra.p_name
      JOIN (SELECT p_name, p_brand AS b_brand, p_type AS b_type,
                   p_size AS b_size, p_retailprice AS b_price FROM reps) rb
        ON name_b = rb.p_name)
    SELECT name_a, name_b, edit_dist, ROUND(fs_score, 6) AS fs_score,
           {_FS_DECISION_SQL} AS decision
    FROM scored
    """,
)
def x1_linkage_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROBABILISTIC record linkage (Fellegi & Sunter 1969): score each
    blocked candidate pair by the summed per-field log-likelihood ratios
    -- log2(m/u) when the field agrees, log2((1-m)/(1-u)) when it
    disagrees -- and classify link / possible / non-link against the two
    decision thresholds. This is the scoring layer the entity-join family
    was missing: the q-gram join (`x1_entity_qgram_join`) finds WHICH
    pairs are plausibly the same entity from the name alone; this face
    decides, from four field comparisons (brand, type, size within 1,
    retail price within 100) with calibrated evidence weights, whether
    they ARE.

    Scale shape: candidate generation reuses the q-gram count-filtered
    join (inverted gram index, never all-pairs); record attributes attach
    via two joins against a one-row-per-name representative projection
    (min-partkey rep -- deterministic under name collisions); scoring is
    a single narrow CASE expression, no shuffle beyond the attach. The
    (m, u) table is fixed literals by design -- estimation (EM over the
    comparison-vector frequencies) is a separate fitting step in practice,
    and literal weights make the score a sum of identical doubles in
    identical order on both engines: bit-exact, no boundary exposure
    needed (the thresholds sit on values no weight sum can approach)."""
    names = (load_table(spark, sf_dir, "part")
             .select("p_name").distinct()
             .select("p_name", F.length("p_name").alias("len")))
    pairs = qgram_join(names)
    part = load_table(spark, sf_dir, "part")
    reps = (part.groupBy("p_name").agg(F.min("p_partkey").alias("pk"))
            .join(part, ["p_name"])
            .filter(F.col("p_partkey") == F.col("pk")))
    ra = reps.select(F.col("p_name").alias("name_a"),
                     F.col("p_brand").alias("a_brand"),
                     F.col("p_type").alias("a_type"),
                     F.col("p_size").alias("a_size"),
                     F.col("p_retailprice").alias("a_price"))
    rb = reps.select(F.col("p_name").alias("name_b"),
                     F.col("p_brand").alias("b_brand"),
                     F.col("p_type").alias("b_type"),
                     F.col("p_size").alias("b_size"),
                     F.col("p_retailprice").alias("b_price"))
    scored = (pairs.join(ra, "name_a").join(rb, "name_b")
              .withColumn("fs_score", F.expr(_fs_score_sql())))
    # The CASE weight literals parse as DECIMAL in Spark SQL, so the sum
    # stays DECIMAL; the driver's hasher distinguishes Decimal cells from
    # DuckDB's float64. Cast at the END (the decimal sum is exact, so the
    # end-cast reproduces DuckDB's double bit-for-bit), per the repo's
    # universal cast-to-double output convention.
    return scored.select(
        "name_a", "name_b", "edit_dist",
        F.round(F.col("fs_score").cast("double"), 6).alias("fs_score"),
        F.expr(_FS_DECISION_SQL).alias("decision"))
