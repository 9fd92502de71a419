"""Product/BI analytics shapes: nation-pair flows, share-of-total
ratios, funnels, histograms — rounding out the join/agg/ratio surface
with the same exact-integer determinism rules."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import cents
from ..sources.tables import load_table
from .registry import register


@register(
    "volume_shipping",
    oracle="""
SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
       CAST(year(o_orderdate) AS BIGINT) AS order_year,
       sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
         / 100.0 AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE cn.n_name <> sn.n_name
GROUP BY cn.n_name, sn.n_name, year(o_orderdate)
""",
)
def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-nation trade flows (TPC-H Q7 family): one fact-fact
    shuffle join; both nation dims broadcast twice under different
    aliases."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    cn = n.select(F.col("n_nationkey").alias("cnk"),
                  F.col("n_name").alias("cust_nation"))
    sn = n.select(F.col("n_nationkey").alias("snk"),
                  F.col("n_name").alias("supp_nation"))
    # Revenue cents accumulate in DECIMAL, not long (ADVICE r14): at
    # the contracted ±2e12-cent per-row magnitudes a single
    # (nation, nation, year) group of ~4.6M rows pushes an int64 sum
    # past 2^63 — the shared ``cents`` helper carries the full
    # analysis (functions/compare.py; migration ledger: SCALING.md).
    rev_cents = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cnk"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("snk"))
        .where(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy("cust_nation", "supp_nation",
                 F.year("o_orderdate").cast("long").alias("order_year"))
        .agg((F.sum(rev_cents) / 100.0).alias("revenue"))
    )


@register(
    "asia_market_share",
    oracle="""
WITH rev AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
         CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
           AS cents,
         r_name
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
)
SELECT order_year,
       -- CAST AS DOUBLE, not * 1.0 (r17, the qavg_sql decimal-literal
       -- class): * 1.0 made these HUGEINT × DECIMAL = exact
       -- DECIMAL(38,1), whose double conversion double-rounds
       -- (unscaled/10) where Spark converts the sum once — a 1-ulp
       -- divergence seed for the share's floor boundary.
       CAST(sum(cents) FILTER (WHERE r_name = 'ASIA') AS DOUBLE)
         AS asia_cents,
       CAST(sum(cents) AS DOUBLE) AS total_cents,
       CASE WHEN sum(cents) <> 0 THEN
         CASE WHEN abs(CAST(coalesce(
                  sum(cents) FILTER (WHERE r_name = 'ASIA'), 0) AS DOUBLE)
                       / sum(cents)) < 9.0e12 THEN
           floor((CAST(coalesce(
                    sum(cents) FILTER (WHERE r_name = 'ASIA'), 0) AS DOUBLE)
                  / sum(cents)) * 1000000 + 0.5) / 1000000.0
         ELSE
           CAST(coalesce(
             sum(cents) FILTER (WHERE r_name = 'ASIA'), 0) AS DOUBLE)
           / sum(cents)
         END
       END AS asia_share
FROM rev GROUP BY order_year
""",
)
def q_asia_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total ratio (TPC-H Q8 family): numerator and
    denominator are exact integer cents, so the ratio is
    deterministic; the 6dp quantized share is the comparable value."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    # decimal cents for the same reason as volume_shipping (ADVICE
    # r14; shared helper carries the analysis). Exact integer either
    # way; every consumer converts to double once.
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(F.year("o_orderdate").cast("long").alias("order_year"),
                cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .alias("cents"), "r_name")
    )
    asia = F.sum(F.when(F.col("r_name") == "ASIA", F.col("cents")))
    total = F.sum("cents")
    # The share division is CASE-guarded on BOTH sides (r14
    # adversarial TPC-H sweep): Spark 4's ANSI mode hard-fails
    # DIVIDE_BY_ZERO even for DOUBLE division, so one year whose
    # cents sum to zero (all-zero or cancelling positive/negative
    # revenue) would kill the whole job, while DuckDB's double
    # division yields NULL — a crash on one side and a value on the
    # other. Guarded, a zero-revenue year is a NULL share on both.
    # The quantization additionally branches to the raw double when
    # |share| >= 9e12: a NEAR-cancelling total under a large
    # numerator pushes share*1e6 past int64, where Spark's
    # floor(double) silently SATURATES at 2^63-1 while DuckDB's
    # floor stays double (the value_distribution_stats variance
    # class). The raw share is bit-deterministic (exact integer
    # sums, one conversion, one division) and both engines branch on
    # the SAME double.
    share = F.coalesce(asia, F.lit(0)) * 1.0 / total
    return rev.groupBy("order_year").agg(
        (asia * 1.0).alias("asia_cents"),
        (total * 1.0).alias("total_cents"),
        F.when(
            total != 0,
            F.when(F.abs(share) < 9.0e12,
                   F.floor(share * 1_000_000 + 0.5) / 1_000_000.0)
             .otherwise(share),
        ).alias("asia_share"),
    )


@register(
    "signup_to_purchase_funnel",
    oracle="""
WITH stages AS (
  SELECT user_id,
         min(ts) FILTER (WHERE event_type = 'signup')   AS t_signup,
         min(ts) FILTER (WHERE event_type = 'click')    AS t_click,
         min(ts) FILTER (WHERE event_type = 'purchase') AS t_purchase
  FROM events GROUP BY user_id
)
SELECT count(*) AS n_users,
       count(t_signup) AS n_signup,
       count(CASE WHEN t_click > t_signup THEN 1 END) AS n_click_after_signup,
       count(CASE WHEN t_purchase > t_click AND t_click > t_signup
                  THEN 1 END) AS n_full_funnel
FROM stages
""",
)
def q_signup_to_purchase_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analysis: first-occurrence per stage via
    conditional min, then ordering predicates — one aggregation, no
    self-joins (the n-way self-join funnel formulation explodes at
    scale; this shape shuffles each user once)."""
    ev = load_table(spark, sf_dir, "events")

    def first(stage):
        return F.min(F.when(F.col("event_type") == stage, F.col("ts")))

    stages = ev.groupBy("user_id").agg(
        first("signup").alias("t_signup"),
        first("click").alias("t_click"),
        first("purchase").alias("t_purchase"),
    )
    return stages.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_signup").alias("n_signup"),
        F.count(F.when(F.col("t_click") > F.col("t_signup"), 1))
            .alias("n_click_after_signup"),
        F.count(F.when((F.col("t_purchase") > F.col("t_click"))
                       & (F.col("t_click") > F.col("t_signup")), 1))
            .alias("n_full_funnel"),
    )


@register(
    "monthly_retention_cohorts",
    oracle="""
WITH cohort AS (
  SELECT user_id, date_trunc('month', min(ts)) AS cohort_month
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT user_id, date_trunc('month', ts) AS active_month FROM events
)
SELECT cohort_month, active_month, count(*) AS n_users
FROM cohort JOIN activity USING (user_id)
GROUP BY cohort_month, active_month
""",
)
def q_monthly_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix: first-seen month × active month. Two
    aggregations + one equi-join on user_id (broadcastable — the
    cohort table is one row per user)."""
    ev = load_table(spark, sf_dir, "events")
    cohort = ev.groupBy("user_id").agg(
        F.date_trunc("month", F.min("ts")).alias("cohort_month"))
    activity = ev.select(
        "user_id", F.date_trunc("month", "ts").alias("active_month")
    ).distinct()
    return (
        cohort.join(activity, "user_id")
        .groupBy("cohort_month", "active_month")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "top_parts_per_nation",
    oracle="""
WITH rev AS (
  SELECT n_name, l_partkey,
         sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
           AS cents
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  GROUP BY n_name, l_partkey
)
SELECT n_name, l_partkey, cents / 100.0 AS revenue, rn FROM (
  SELECT *, row_number() OVER (PARTITION BY n_name
                               ORDER BY cents DESC, l_partkey) AS rn
  FROM rev
) WHERE rn <= 3
""",
)
def q_top_parts_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level aggregation + per-group top-k: revenue per (nation,
    part), then rank within nation on the EXACT integer cents (no
    float ties possible)."""
    from ..operators.relational import top_k_per_group
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    # decimal cents accumulation (ADVICE r14, same int64-overflow
    # class as volume_shipping; shared helper); ranking on the
    # decimal sum is still exact-integer, so ties remain impossible
    # cross-engine.
    rev_cents = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    rev = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "l_partkey")
        .agg(F.sum(rev_cents).alias("cents"))
    )
    top = top_k_per_group(
        rev, ["n_name"], [F.col("cents").desc(), F.col("l_partkey")], k=3)
    return top.select("n_name", "l_partkey",
                      (F.col("cents") / 100.0).alias("revenue"), "rn")


@register(
    "order_size_distribution",
    oracle="""
WITH sizes AS (
  SELECT l_orderkey, count(*) AS n_items FROM lineitem GROUP BY l_orderkey
)
SELECT n_items, count(*) AS n_orders FROM sizes GROUP BY n_items
""",
)
def q_order_size_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of order sizes: two chained aggregations (the
    second groups on the first's output — a re-shuffle on a derived
    key)."""
    li = load_table(spark, sf_dir, "lineitem")
    sizes = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_items"))
    return sizes.groupBy("n_items").agg(F.count(F.lit(1)).alias("n_orders"))
