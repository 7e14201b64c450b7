"""Physical-layout operators: bucketing for co-located joins and salting for
skewed aggregations (SURVEY.md scale mandate).

These are the two layout levers that matter most at 100 TB:

- **Bucketing**: writing both join sides bucketed by the join key (same
  bucket count) lets Spark plan a SortMergeJoin with NO Exchange on either
  side -- the shuffle happened once at write time and is amortized over every
  subsequent join. `write_bucketed` + `read_bucketed_join` demonstrate the
  pattern; tests assert the exchange-free plan.

- **Salting**: a hot grouping key (one customer with 10% of all rows)
  overloads one reducer. Salted two-phase aggregation spreads each hot key
  over N sub-keys, partially aggregates, then combines -- turning one straggler
  task into N parallel ones at the cost of a second (tiny) aggregation. AQE's
  skew-join handles *join* skew automatically; aggregation skew still wants
  the salt.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import register

_N_SALTS = 16


def write_bucketed(df: DataFrame, table_name: str, key: str,
                   n_buckets: int = 8) -> None:
    """Persist a table bucketed+sorted by its join key (hash-partitioned at
    write time; the metastore records the layout so readers skip the
    shuffle)."""
    (df.write.mode("overwrite")
       .bucketBy(n_buckets, key).sortBy(key)
       .saveAsTable(table_name))


def bucketed_join(spark: SparkSession, left_table: str, right_table: str,
                  key_left: str, key_right: str) -> DataFrame:
    """Join two co-bucketed tables -- plans as SortMergeJoin with zero
    Exchange operators (verify with .explain: no 'Exchange hashpartitioning'
    above either scan)."""
    lt = spark.table(left_table)
    rt = spark.table(right_table)
    return lt.join(rt, lt[key_left] == rt[key_right])


def salted_sum(df: DataFrame, key: str, value: str, alias: str,
               n_salts: int = _N_SALTS) -> DataFrame:
    """Two-phase skew-safe aggregation: sum(value) by key, with each key's
    rows scattered across ``n_salts`` sub-aggregations first. Decimal-routed
    like every engine sum, so the result is bit-identical to the direct
    groupBy (addition is exact => salting is semantics-free)."""
    dec = "decimal(28,6)"
    salted = df.withColumn(
        "_salt", (F.crc32(F.col(key).cast("string")) + F.monotonically_increasing_id())
        % n_salts)
    partial = (salted.groupBy(key, "_salt")
               .agg(F.sum(F.col(value).cast(dec)).alias("_part")))
    return (partial.groupBy(key)
            .agg(F.sum("_part").cast("double").alias(alias)))


@register(
    "a_salted_skew_sum",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS total_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS total_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a_salted_skew_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation, gate-visible: lineitem grouped by
    l_returnflag -- THREE distinct keys over the whole fact table, the
    textbook aggregation-skew shape (a plain groupBy lands ~1/3 of 100 TB
    on each of three reducers). Each key's rows first scatter over 16 salt
    sub-keys (map-side partials stay effective), then the 48 partials
    collapse in a second, trivially small aggregation. Decimal accumulation
    is exact and order-free, so salting is semantics-free and the result is
    bit-identical to the direct-groupBy oracle."""
    from ..catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    dec = "decimal(28,6)"
    salted = li.withColumn(
        "_salt",
        (F.crc32(F.col("l_returnflag").cast("string"))
         + F.monotonically_increasing_id()) % _N_SALTS)
    partial = (salted.groupBy("l_returnflag", "_salt")
               .agg(F.count(F.lit(1)).alias("_n"),
                    F.sum(F.col("l_quantity").cast(dec)).alias("_q"),
                    F.sum(F.col("l_extendedprice").cast(dec)).alias("_p")))
    return (partial.groupBy("l_returnflag")
            .agg(F.sum("_n").alias("n_rows"),
                 F.sum("_q").cast("double").alias("total_qty"),
                 F.sum("_p").cast("double").alias("total_price")))


def salted_join(fact: DataFrame, dim: DataFrame, fact_key: str,
                dim_key: str, n_salts: int = _N_SALTS) -> DataFrame:
    """Skew-safe salted equi join: the fact side scatters each key over
    ``n_salts`` sub-keys (deterministic row-id salt -- semantics-free, any
    salt meets its replicated dim row), the dim side replicates once per
    salt via a small explode, and the join runs shuffle-hash on
    (key, salt) so a hot fact key spreads over ``n_salts`` reducers.
    Used by the gate-visible j_salted_skew_join; on a 50%-one-key
    corpus it ran 3.1x faster than the naive join (SCALE_PROBE.md, the
    skew probe).

    Output contract (ADVICE r6): the salt is an internal mechanism, so
    the returned relation carries the ORIGINAL columns of both inputs
    (fact columns first, then the dim columns minus its join key) and no
    salt residue -- a caller's select('*') or column-name assumptions see
    exactly what an unsalted fact.join(dim, on=key) would give them. The
    salt column uses a collision-proof internal name so a pre-existing
    user column named '_salt' passes through untouched."""
    salt = "__sj_salt__"
    f = fact.withColumn(
        salt, F.pmod(F.monotonically_increasing_id(), F.lit(n_salts)))
    d = dim.withColumn(
        salt,
        F.explode(F.array(*[F.lit(i).cast("long")
                            for i in range(n_salts)])))
    joined = f.join(
        d.hint("shuffle_hash"),
        (f[fact_key] == d[dim_key]) & (f[salt] == d[salt]))
    return joined.select(
        *[f[c] for c in fact.columns],
        *[d[c] for c in dim.columns if c != dim_key])


@register(
    "j_salted_skew_join",
    oracle="""
    SELECT s_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(28,6))) AS DOUBLE) AS revenue
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_nationkey
    """,
)
def j_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted JOIN, gate-visible (companion to a_salted_skew_sum,
    which salts an aggregation): when one fact-side join key holds a
    disproportionate share of rows and the dim side is too big to
    broadcast, a plain shuffle join lands the hot key on one reducer.
    Salting fixes it by hand: the fact side scatters each key over
    ``_N_SALTS`` sub-keys (deterministic row-id salt -- semantics-free for
    a join, any salt meets its replicated dim row), the dim side REPLICATES
    each row once per salt via a small explode, and the join runs on
    (key, salt) -- so the hot key's rows spread over 16 reducers instead
    of one. shuffle_hash hint keeps the demonstration honest (no broadcast
    shortcut; at real scale the dim side wouldn't fit). AQE's skew-join
    split handles most of this automatically, but only per-shuffle-block;
    the manual salt is the portable form and the only option when the
    skew sits inside one key, not one partition. Decimal accumulation
    makes the post-join rollup bit-identical to the direct-join oracle."""
    from ..catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey")
    joined = salted_join(li, sup, "l_suppkey", "s_suppkey")
    dec = "decimal(28,6)"
    return (joined.groupBy("s_nationkey")
            .agg(F.count(F.lit(1)).alias("n_items"),
                 F.sum((F.col("l_extendedprice")
                        * (1 - F.col("l_discount"))).cast(dec))
                 .cast("double").alias("revenue")))
