"""Join & set-operation surface (SURVEY.md §7 step 3; §2.4 J1-J5, §2.7).

Join strategy notes for scale:
- Semi/anti joins replace EXISTS/NOT-EXISTS subqueries; Spark plans them as
  broadcast- or shuffled-hash joins with early-out probing (no fact-side
  duplication).
- The containment-theta join (J2's fuzzy section lookup shape) is a broadcast
  nested-loop join; correct only because the build side is tiny (a schema /
  keyword list). Never theta-join two fact tables.
- Set ops are expressed with Spark's native union/intersect/except so
  Catalyst can rewrite them into aggregates/joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, local_df
from ..fixtures import values_sql
from ..plans.registry import register

# Tiny keyword dimension for the containment-theta join (J2 shape: the
# reference matches a schema 'section' key by substring against clause keys
# and texts, extraction/form_filler.py:101-115).
_KW_COLS = ["kw"]
_KW_ROWS: list[tuple] = [("standard",), ("large",), ("econ",), ("med",), ("promo",)]


@register(
    "j5_semi_join_customers_with_urgent_orders",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
                    AND o_totalprice > 400000)
    """,
)
def j5_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (J5's key-guarded membership shape,
    utils/form.py:30-43): customers having at least one qualifying order."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 400000))
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


@register(
    "j5_anti_join_parts_never_shipped",
    oracle="""
    SELECT p_partkey, p_name
    FROM part
    WHERE NOT EXISTS (SELECT 1 FROM lineitem
                      WHERE l_partkey = p_partkey
                        AND l_shipdate < TIMESTAMP '1996-01-01')
    """,
)
def j5_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (J5's dropped-key side-output shape): parts with no
    early shipment."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
    return (
        part.join(li, part.p_partkey == li.l_partkey, "left_anti")
        .select("p_partkey", "p_name")
    )


@register(
    "j2_containment_theta_join",
    oracle=f"""
    SELECT kw, COUNT(*) AS n_parts,
           CAST(SUM(CAST(p_retailprice AS DECIMAL(28,6))) AS DOUBLE) AS total_price
    FROM part JOIN {values_sql(_KW_ROWS, _KW_COLS)}
      ON POSITION(kw IN lower(p_type)) > 0
    GROUP BY kw
    """,
)
def j2_containment_theta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment theta-join (J2: substring-match lookup of section keys,
    extraction/form_filler.py:101-115), expressed as a broadcast
    nested-loop join against a 5-row keyword dim."""
    from ..functions.scalars import dec_sum

    part = load_table(spark, sf_dir, "part")
    kws = local_df(spark, _KW_ROWS, "kw string")
    return (
        part.join(F.broadcast(kws), F.instr(F.lower(part.p_type), kws.kw) > 0)
        .groupBy("kw")
        .agg(F.count(F.lit(1)).alias("n_parts"),
             dec_sum("p_retailprice", "total_price"))
    )


@register(
    "j_cross_join_fanout",
    oracle="""
    SELECT r_name, seg.c_mktsegment
    FROM region CROSS JOIN (SELECT DISTINCT c_mktsegment FROM customer) seg
    """,
)
def j_cross_join_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-join fan-out (J3's schema×document shape,
    extraction/form_filler.py:40-47): every (region, segment) pair."""
    region = load_table(spark, sf_dir, "region").select("r_name")
    segs = load_table(spark, sf_dir, "customer").select("c_mktsegment").distinct()
    return region.crossJoin(F.broadcast(segs))


@register(
    "set_ops_customer_cohorts",
    oracle="""
    WITH y96 AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'),
         y97 AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')
    SELECT 'both_years' AS cohort, COUNT(*) AS n FROM (SELECT * FROM y96 INTERSECT SELECT * FROM y97)
    UNION ALL
    SELECT 'only_1996', COUNT(*) FROM (SELECT * FROM y96 EXCEPT SELECT * FROM y97)
    UNION ALL
    SELECT 'either_year', COUNT(*) FROM (SELECT * FROM y96 UNION SELECT * FROM y97)
    """,
)
def set_ops_customer_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION-DISTINCT (A8's key-set algebra,
    evaluation/evaluator.py:40) over yearly customer cohorts."""
    orders = load_table(spark, sf_dir, "orders")

    def cohort(y: int) -> DataFrame:
        return (orders.filter(
            (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01").cast("timestamp")))
            .select("o_custkey").distinct())

    y96, y97 = cohort(1996), cohort(1997)

    def tagged_count(tag: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(tag).alias("cohort"), "n")

    return (
        tagged_count("both_years", y96.intersect(y97))
        .unionByName(tagged_count("only_1996", y96.subtract(y97)))
        .unionByName(tagged_count("either_year", y96.union(y97).distinct()))
    )


@register(
    "set_ops_bag_semantics",
    oracle="""
    WITH a AS (SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'R'),
         b AS (SELECT l_suppkey FROM lineitem WHERE l_linestatus = 'F')
    SELECT 'intersect_all' AS op, COUNT(*) AS n FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
    UNION ALL
    SELECT 'except_all', COUNT(*) FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
    """,
)
def set_ops_bag_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL / EXCEPT ALL (bag semantics -- duplicates counted),
    complementing the distinct set algebra in set_ops_customer_cohorts."""
    li = load_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "R").select(F.col("l_suppkey").alias("k"))
    b = li.filter(F.col("l_linestatus") == "F").select(F.col("l_suppkey").alias("k"))

    def tagged(tag: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(tag).alias("op"), "n")

    return (tagged("intersect_all", a.intersectAll(b))
            .unionByName(tagged("except_all", a.exceptAll(b))))


@register(
    "j_asof_backward_join",
    oracle="""
    WITH tagged AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
             CASE WHEN event_type = 'click' THEN event_id END AS click_id,
             CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END AS click_ts,
             event_type
      FROM events WHERE event_type IN ('click', 'purchase')),
    filled AS (
      SELECT *,
             last_value(click_id IGNORE NULLS) OVER w AS asof_click_id,
             last_value(click_ts IGNORE NULLS) OVER w AS asof_click_ts
      FROM tagged
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT user_id, event_id AS purchase_id, ts AS purchase_ts,
           asof_click_id, asof_click_ts
    FROM filled WHERE event_type = 'purchase'
    """,
)
def j_asof_backward_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF (backward) join -- an operator Spark lacks natively, built as
    the scalable union+window composition: tag both sides, sort-merge them
    once per key, and carry the last left-side row forward with
    last_value(ignorenulls). One shuffle on the key, no range cross-product
    -- the pattern that survives 100 TB, unlike a naive theta join
    (b.ts <= a.ts) which explodes quadratically.

    Here: each purchase event gets the same user's most recent prior-or-
    simultaneous click."""
    from pyspark.sql import Window

    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("event_type").isin("click", "purchase")))
    tagged = ev.select(
        "user_id", "ts", "event_id", "event_type",
        F.when(F.col("event_type") == "click", F.col("event_id")).alias("click_id"),
        F.when(F.col("event_type") == "click", F.col("ts")).alias("click_ts"))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    filled = tagged.select(
        "user_id", "ts", "event_id", "event_type",
        F.last("click_id", ignorenulls=True).over(w).alias("asof_click_id"),
        F.last("click_ts", ignorenulls=True).over(w).alias("asof_click_ts"))
    return (filled.filter(F.col("event_type") == "purchase")
            .select("user_id",
                    F.col("event_id").alias("purchase_id"),
                    F.col("ts").alias("purchase_ts"),
                    "asof_click_id", "asof_click_ts"))


@register(
    "j_range_interval_join",
    oracle="""
    SELECT o_orderkey, COUNT(*) AS n_events_in_week
    FROM orders JOIN events
      ON CAST(events.ts AS TIMESTAMP) - INTERVAL 10000 DAY >= o_orderdate
     AND CAST(events.ts AS TIMESTAMP) - INTERVAL 10000 DAY < o_orderdate + INTERVAL 7 DAY
    WHERE o_orderkey < 2000
    GROUP BY o_orderkey
    """,
)
def j_range_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/interval join: events (time-shifted into the orders epoch)
    falling in each order's first week. The probe side is pre-filtered tiny
    and broadcast, so the range predicate evaluates as a broadcast join --
    at scale, bucket both sides by coarse time bucket first and equi-join on
    the bucket before applying the residual range predicate."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    ev = load_table(spark, sf_dir, "events").withColumn(
        "shifted", F.col("ts") + F.expr("INTERVAL -10000 DAY"))
    return (ev.join(F.broadcast(orders),
                    (F.col("shifted") >= F.col("o_orderdate"))
                    & (F.col("shifted") < F.col("o_orderdate") + F.expr("INTERVAL 7 DAY")))
            .groupBy("o_orderkey")
            .agg(F.count(F.lit(1)).alias("n_events_in_week")))


@register(
    "j_range_bucketed_join",
    oracle="""
    SELECT o_orderkey, COUNT(*) AS n_events_in_week
    FROM orders JOIN events
      ON CAST(events.ts AS TIMESTAMP) - INTERVAL 10000 DAY >= o_orderdate
     AND CAST(events.ts AS TIMESTAMP) - INTERVAL 10000 DAY < o_orderdate + INTERVAL 7 DAY
    WHERE o_orderkey < 2000
    GROUP BY o_orderkey
    """,
)
def j_range_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fact-fact scale shape of `j_range_interval_join` (same semantics,
    same oracle): neither side broadcasts. Both sides bucket by a coarse
    7-day grid; the interval side explodes into the (at most 2) buckets its
    week can touch, the join runs as an EQUI join on the bucket, and the
    exact range predicate applies as a residual filter. Each (event, order)
    pair matches at most once -- an event has one bucket and the order's
    two exploded buckets are distinct.

    At 100 TB this replaces an O(n*m) theta join with a shuffle on a
    uniform bucket key: candidate volume is |events| * (avg orders per
    2-bucket span), and bucket width tunes the selectivity/fan-out
    trade-off. Bucket values are engine-internal (only the residual decides
    membership), so no cross-engine bucket parity is needed."""
    week = 7 * 86400
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    ev = (load_table(spark, sf_dir, "events")
          .withColumn("shifted", F.col("ts") + F.expr("INTERVAL -10000 DAY"))
          .withColumn("bkt", F.floor(F.unix_timestamp("shifted") / week)))
    ob = orders.withColumn(
        "bkt0",
        F.floor(F.unix_timestamp(F.col("o_orderdate").cast("timestamp")) / week))
    ox = ob.select("o_orderkey", "o_orderdate",
                   F.explode(F.array(F.col("bkt0"), F.col("bkt0") + 1))
                   .alias("bkt"))
    return (ev.join(ox.hint("shuffle_hash"), "bkt")
            .filter((F.col("shifted") >= F.col("o_orderdate").cast("timestamp"))
                    & (F.col("shifted") < F.col("o_orderdate").cast("timestamp")
                       + F.expr("INTERVAL 7 DAY")))
            .groupBy("o_orderkey")
            .agg(F.count(F.lit(1)).alias("n_events_in_week")))


@register(
    "etl_upsert_latest_wins",
    oracle="""
    WITH updates AS (
      SELECT c_custkey, c_name, c_nationkey,
             c_acctbal + 1000 AS c_acctbal, 'UPDATED' AS c_mktsegment,
             1 AS priority
      FROM customer WHERE c_custkey % 10 = 0),
    base AS (
      SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
             0 AS priority
      FROM customer),
    merged AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY c_custkey
                                   ORDER BY priority DESC) AS rn
      FROM (SELECT * FROM base UNION ALL SELECT * FROM updates))
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM merged WHERE rn = 1
    """,
)
def etl_upsert_latest_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert as a relational pattern (no table format needed): union
    base + updates with a priority column, keep the highest-priority row per
    key via row_number. One shuffle on the merge key -- the shape Delta/
    Iceberg MERGE compiles to underneath. Updates here are a deterministic
    synthetic change set (every 10th customer re-segmented)."""
    from pyspark.sql import Window

    cust = load_table(spark, sf_dir, "customer")
    updates = (cust.filter(F.col("c_custkey") % 10 == 0)
               .select("c_custkey", "c_name", "c_nationkey",
                       (F.col("c_acctbal") + 1000).alias("c_acctbal"),
                       F.lit("UPDATED").alias("c_mktsegment"),
                       F.lit(1).alias("priority")))
    base = cust.select("c_custkey", "c_name", "c_nationkey", "c_acctbal",
                       "c_mktsegment", F.lit(0).alias("priority"))
    w = Window.partitionBy("c_custkey").orderBy(F.desc("priority"))
    return (base.unionByName(updates)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("c_custkey", "c_name", "c_nationkey", "c_acctbal",
                    "c_mktsegment"))


@register(
    "etl_cdc_snapshot_diff",
    oracle="""
    WITH snap2 AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 500.25
                  ELSE c_acctbal END AS c_acctbal
      FROM customer WHERE c_custkey % 13 <> 0),
    diff AS (
      SELECT COALESCE(a.c_custkey, b.c_custkey) AS c_custkey,
             a.c_acctbal AS old_bal, b.c_acctbal AS new_bal
      FROM customer a FULL OUTER JOIN snap2 b ON a.c_custkey = b.c_custkey)
    SELECT c_custkey,
           CASE WHEN old_bal IS NULL THEN 'insert'
                WHEN new_bal IS NULL THEN 'delete'
                WHEN old_bal <> new_bal THEN 'update'
                ELSE 'unchanged' END AS change_type,
           old_bal, new_bal
    FROM diff
    WHERE NOT (old_bal IS NOT NULL AND new_bal IS NOT NULL AND old_bal = new_bal)
    """,
)
def etl_cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot diff: full-outer join two table versions on the
    key and classify insert/update/delete rows (unchanged filtered out).
    The second snapshot is a deterministic mutation (every 13th customer
    dropped, every 7th rebalanced by an exact +500.25 so no cross-engine ROUND half-case can bite). At scale: partition both snapshots by
    key range so the diff join is co-located."""
    cust = load_table(spark, sf_dir, "customer")
    snap2 = (cust.filter(F.col("c_custkey") % 13 != 0)
             .select("c_custkey",
                     F.when(F.col("c_custkey") % 7 == 0,
                            F.col("c_acctbal") + 500.25)
                      .otherwise(F.col("c_acctbal")).alias("new_bal")))
    old = cust.select("c_custkey", F.col("c_acctbal").alias("old_bal"))
    diff = old.join(snap2, "c_custkey", "full_outer")
    change = (F.when(F.col("old_bal").isNull(), "insert")
               .when(F.col("new_bal").isNull(), "delete")
               .when(F.col("old_bal") != F.col("new_bal"), "update")
               .otherwise("unchanged"))
    return (diff.withColumn("change_type", change)
            .filter(F.col("change_type") != "unchanged")
            .select("c_custkey", "change_type", "old_bal", "new_bal"))


@register(
    "etl_scd2_intervals",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY CAST(ts AS TIMESTAMP), event_id)
               AS prev_type
      FROM events),
    changes AS (
      SELECT user_id, event_type, ts, event_id FROM ordered
      WHERE prev_type IS NULL OR event_type <> prev_type),
    intervals AS (
      SELECT user_id, event_type, ts AS valid_from,
             LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to
      FROM changes)
    SELECT user_id, event_type, valid_from, valid_to,
           valid_to IS NULL AS is_current
    FROM intervals
    """,
)
def etl_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 build from a change stream: collapse
    consecutive duplicate states per user, then derive [valid_from,
    valid_to) validity intervals with a lead window and flag the open
    (current) row -- the standard warehouse dimension-history pattern. Two
    window passes over the same (user_id, ts) sort; at scale both reuse one
    shuffle+sort on user_id, and state never leaves its user partition."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (ev.select("user_id", "event_type", "ts", "event_id")
               .withColumn("prev_type", F.lag("event_type").over(w))
               .filter(F.col("prev_type").isNull()
                       | (F.col("event_type") != F.col("prev_type"))))
    return (changes
            .withColumn("valid_to", F.lead("ts").over(w))
            .select("user_id", "event_type",
                    F.col("ts").alias("valid_from"), "valid_to",
                    F.col("valid_to").isNull().alias("is_current")))


@register(
    "etl_incremental_agg",
    oracle="""
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
           CAST(SUM(CASE WHEN o_orderdate >= DATE '1997-01-01'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_delta_orders
    FROM orders
    GROUP BY o_custkey
    """,
)
def etl_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (materialized-view refresh): fold a
    delta batch (orders from 1997 on) into a previously-materialized base
    aggregate (orders before 1997) by merging per-key PARTIAL aggregates --
    count/sum are commutative monoids, so re-aggregating the union of
    partials is exactly a full recompute (the oracle), never a rescan of
    history. This is how a 100 TB nightly pipeline absorbs a day's data:
    the base partials are read back from the materialized rollup (here:
    recomputed, same lineage), only the delta scans new files, and the
    merge shuffles one row per touched key. Partial sums stay DECIMAL until
    the final cast so the merged double is bit-identical to the one-pass
    aggregate. n_delta_orders exposes which keys the delta touched."""
    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1997-01-01").cast("date")
    dec = "decimal(28,6)"

    def partials(df: DataFrame, is_delta: bool) -> DataFrame:
        g = (df.groupBy("o_custkey")
             .agg(F.count(F.lit(1)).alias("n_orders"),
                  F.sum(F.col("o_totalprice").cast(dec)).alias("rev_part")))
        return g.withColumn(
            "n_delta", F.col("n_orders") if is_delta else F.lit(0).cast("long"))

    base = partials(orders.filter(F.col("o_orderdate") < cutoff), False)
    delta = partials(orders.filter(F.col("o_orderdate") >= cutoff), True)
    return (base.unionByName(delta)
            .groupBy("o_custkey")
            .agg(F.sum("n_orders").cast("long").alias("n_orders"),
                 F.sum("rev_part").cast("double").alias("revenue"),
                 F.sum("n_delta").cast("long").alias("n_delta_orders")))


@register(
    "etl_referential_integrity",
    oracle="""
    WITH checks AS (
      SELECT 'lineitem.l_orderkey -> orders.o_orderkey' AS fk,
             CAST(COUNT(*) AS BIGINT) AS n_child,
             CAST(COUNT(DISTINCT l.l_orderkey) AS BIGINT) AS n_child_keys,
             CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_orphans,
             CAST(COUNT(DISTINCT CASE WHEN o.o_orderkey IS NULL
                                      THEN l.l_orderkey END)
                  AS BIGINT) AS n_orphan_keys
      FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      UNION ALL
      SELECT 'orders.o_custkey -> customer.c_custkey',
             CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT),
             CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT),
             CAST(COUNT(DISTINCT CASE WHEN c.c_custkey IS NULL
                                      THEN o.o_custkey END) AS BIGINT)
      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      UNION ALL
      SELECT 'customer.c_nationkey -> nation.n_nationkey',
             CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(DISTINCT cu.c_nationkey) AS BIGINT),
             CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT),
             CAST(COUNT(DISTINCT CASE WHEN n.n_nationkey IS NULL
                                      THEN cu.c_nationkey END) AS BIGINT)
      FROM customer cu LEFT JOIN nation n ON cu.c_nationkey = n.n_nationkey)
    SELECT fk, n_child, n_child_keys, n_orphans, n_orphan_keys,
           n_orphans = 0 AS intact
    FROM checks
    """,
)
def etl_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit -- the ETL validation pass every load
    pipeline runs before publishing: for each declared foreign key, the
    child row/key counts, ORPHAN rows/keys (child references with no
    parent), and an intact verdict. One left join per edge (the orphan
    probe is the join's null side -- at scale Spark turns the
    fixed-parent edges into broadcast joins via AQE and the fact-fact
    edge into a shuffle join on the key it would shuffle on anyway);
    counts are single-pass aggregates over the join output. Generalizes
    the reference's per-form required-field validation
    (utils/validation.py:60-96) from row-local rules to CROSS-TABLE
    consistency."""
    def check(child: DataFrame, ck: str, parent: DataFrame, pk: str,
              label: str) -> DataFrame:
        j = child.select(F.col(ck).alias("ck")).join(
            parent.select(F.col(pk).alias("pk")),
            F.col("ck") == F.col("pk"), "left")
        return j.agg(
            F.lit(label).alias("fk"),
            F.count(F.lit(1)).alias("n_child"),
            F.countDistinct("ck").alias("n_child_keys"),
            F.sum(F.when(F.col("pk").isNull(), 1).otherwise(0))
             .cast("long").alias("n_orphans"),
            F.countDistinct(F.when(F.col("pk").isNull(), F.col("ck")))
             .alias("n_orphan_keys"))
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    na = load_table(spark, sf_dir, "nation")
    out = (check(li, "l_orderkey", od, "o_orderkey",
                 "lineitem.l_orderkey -> orders.o_orderkey")
           .unionByName(check(od, "o_custkey", cu, "c_custkey",
                              "orders.o_custkey -> customer.c_custkey"))
           .unionByName(check(cu, "c_nationkey", na, "n_nationkey",
                              "customer.c_nationkey -> nation.n_nationkey")))
    return out.withColumn("intact", F.col("n_orphans") == 0)


# --- inclusion-dependency FK discovery (r12) ----------------------------------

# Candidate (child_table, child_col, parent_table, parent_col) edges to
# PROFILE -- deliberately a mix: true FKs, a reversed edge (inclusion holds
# both ways when the child covers the parent domain -- uniqueness is what
# orients it), and coincidental integer-domain overlaps that a naive
# "containment high => FK" rule would false-positive on.
_FK_CANDIDATES = (
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_nationkey", "customer", "c_nationkey"),  # reversed edge
    ("part", "p_size", "nation", "n_nationkey"),       # ~0.5 overlap
    ("customer", "c_nationkey", "part", "p_size"),     # high-but-not-1.0
)


def _fk_oracle() -> str:
    parts = []
    for ct, cc, pt, pc in _FK_CANDIDATES:
        parts.append(f"""
    SELECT '{ct}.{cc} -> {pt}.{pc}' AS candidate,
           CAST(s.nc AS BIGINT) AS n_child_rows,
           CAST(s.nk AS BIGINT) AS n_child_keys,
           CAST(s.ni AS BIGINT) AS n_contained_keys,
           ROUND(CAST(s.ni AS DOUBLE) / s.nk, 6) AS containment,
           ROUND(CAST(s.nk AS DOUBLE) / s.nc, 6) AS uniqueness,
           s.ni = s.nk AS is_inclusion
    FROM (SELECT (SELECT COUNT({cc}) FROM {ct}) AS nc,
                 (SELECT COUNT(DISTINCT {cc}) FROM {ct}) AS nk,
                 (SELECT COUNT(*) FROM
                    (SELECT DISTINCT c.{cc} FROM {ct} c
                     JOIN {pt} p ON c.{cc} = p.{pc})) AS ni) s""")
    return "\nUNION ALL\n".join(parts)


@register("etl_fk_discovery", oracle=_fk_oracle())
def etl_fk_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCLUSION-DEPENDENCY profiling -- foreign-key DISCOVERY, the
    schema-inference sibling of etl_referential_integrity's declared-FK
    audit: for each candidate column pair, the fraction of the child's
    distinct values contained in the parent's (containment), the child
    column's uniqueness (distinct/rows -- what ORIENTS an edge when
    inclusion holds both ways, as it does for
    nation.n_nationkey <-> customer.c_nationkey here), and the exact
    inclusion verdict. The candidate list mixes true FKs with a reversed
    edge and two coincidental integer-domain overlaps (p_size vs
    n_nationkey at ~0.5; c_nationkey in p_size at 24/25) so the output
    demonstrates discrimination, not just confirmation. Generalizes the
    reference's schema-driven field typing (schema/schema.py) from
    declared structure to INFERRED cross-table structure.

    Scale shape: every pair reduces each side to its DISTINCT key set
    FIRST (map-side partial agg; the join inputs are key-domain-sized,
    never fact-sized), then one left-semi-shaped join + a 1-row
    aggregate per pair; the six 1-row results union. The containment /
    uniqueness divisions are single same-operand IEEE ops on both
    engines -- bit-identical pre-round."""
    tables = {t: load_table(spark, sf_dir, t)
              for pair in _FK_CANDIDATES for t in (pair[0], pair[2])}
    outs = []
    for ct, cc, pt, pc in _FK_CANDIDATES:
        child = tables[ct]
        parent = tables[pt]
        nc = child.agg(F.count(cc).alias("nc"))
        ck = child.select(F.col(cc).alias("ck")).filter(
            F.col("ck").isNotNull()).distinct()
        pk = parent.select(F.col(pc).alias("pk")).distinct()
        keyed = (ck.join(pk, F.col("ck") == F.col("pk"), "left")
                 .agg(F.count(F.lit(1)).alias("nk"),
                      F.count("pk").alias("ni")))
        outs.append(
            keyed.crossJoin(nc).select(
                F.lit(f"{ct}.{cc} -> {pt}.{pc}").alias("candidate"),
                F.col("nc").cast("long").alias("n_child_rows"),
                F.col("nk").cast("long").alias("n_child_keys"),
                F.col("ni").cast("long").alias("n_contained_keys"),
                F.round(F.col("ni").cast("double") / F.col("nk"), 6)
                 .alias("containment"),
                F.round(F.col("nk").cast("double") / F.col("nc"), 6)
                 .alias("uniqueness"),
                (F.col("ni") == F.col("nk")).alias("is_inclusion")))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
