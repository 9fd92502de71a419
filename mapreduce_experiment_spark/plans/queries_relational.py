"""Relational queries over the driver's TPC-H-ish tables.

Covers every relational capability category SURVEY §2 lists as absent
from the reference: filters/predicates, named joins (broadcast,
sort-merge, semi, anti), numeric aggregation (sum/avg/min/max/count,
exact distinct), rollup/cube, window functions (rank, cumsum, lag),
global top-k, set ops (intersect/except/union), scalar functions
(date/math/string/regex/JSON), and pivot.

Cross-engine conventions: float aggregates rounded on both sides;
ints normalized to BIGINT where the engines' natural widths differ;
every window carries a unique tie-breaker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import (
    cents,
    cents_long,
    chunk_id,
    dsum,
    q2,
    q2_sql,
    qavg,
    qavg_sql,
    qsum,
    qsum_sql,
)
from ..operators.relational import (
    lag_diff,
    pivot_counts,
    running_total,
    top_k_per_group,
)
from ..sources.tables import load_table
from .registry import register


# --- aggregation: TPC-H Q1 style (headline) --------------------------------
_DISC_PRICE = "l_extendedprice * (1 - l_discount)"
_CHARGE = "l_extendedprice * (1 - l_discount) * (1 + l_tax)"


@register(
    "pricing_summary",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {qsum_sql('l_quantity')}           AS sum_qty,
       {qsum_sql('l_extendedprice')}      AS sum_base_price,
       {qsum_sql(_DISC_PRICE)}            AS sum_disc_price,
       {qsum_sql(_CHARGE)}                AS sum_charge,
       {qavg_sql('l_quantity', 4)}        AS avg_qty,
       {qavg_sql('l_extendedprice', 4)}   AS avg_price,
       {qavg_sql('l_discount', 6, scale=10000)} AS avg_disc,
       count(*)                           AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
    headline=True,
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: 5 distinct money buffers + count over one
    corpus-scale scan — the engine's heaviest money aggregation, so
    it uses the TWO-LEVEL sum (functions/compare.py): per-chunk long
    cents (bounded exact int64 — chunk_id() caps a chunk at 2^21
    rows of one partition), then decimal sums over the tiny chunk-sum
    set. Values are bit-identical to the one-level qsum/qavg form
    (exact integer arithmetic at both levels, same decimal(29,0)
    intermediate, same final double conversion; same oracle SQL), but
    the per-row decimal accumulation — measured at 318 ns/row/buffer
    vs 109 for long, 71% of this query's CPU at a 10-task scan
    (r17 sweep) — drops off the hot path: sf0.1
    executor CPU 1,090 -> 386 ms, back to ~1.2x the pre-migration r1
    cost with the overflow safety kept. The level-1 exchange carries
    one row per (group, chunk) — at 10^12 input rows that is ~6 x
    500k rows of longs, noise next to the scan."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_chunk = (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .withColumn("_chunk", chunk_id())
        .groupBy("l_returnflag", "l_linestatus", "_chunk")
        .agg(
            F.sum(cents_long(F.col("l_quantity"))).alias("c_qty"),
            F.sum(cents_long(F.col("l_extendedprice"))).alias("c_price"),
            F.sum(cents_long(disc_price)).alias("c_disc_price"),
            F.sum(cents_long(disc_price * (1 + F.col("l_tax"))))
            .alias("c_charge"),
            F.sum(cents_long(F.col("l_discount"), 10000)).alias("c_disc"),
            F.count(F.lit(1)).alias("c_n"),
        )
    )
    n = F.sum("c_n")

    def d_avg(chunk_col: str, p: int, scale: int = 100):
        # qavg's exact form over the level-2 decimal sum: floor at
        # the same IEEE-double point as the oracle's HUGEINT path
        mult = float(10 ** p)
        return F.floor(dsum(chunk_col) * mult / (scale * n) + 0.5) / mult

    return (
        per_chunk.groupBy("l_returnflag", "l_linestatus")
        .agg(
            (dsum("c_qty") / 100.0).alias("sum_qty"),
            (dsum("c_price") / 100.0).alias("sum_base_price"),
            (dsum("c_disc_price") / 100.0).alias("sum_disc_price"),
            (dsum("c_charge") / 100.0).alias("sum_charge"),
            d_avg("c_qty", 4).alias("avg_qty"),
            d_avg("c_price", 4).alias("avg_price"),
            d_avg("c_disc", 6, scale=10000).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


# --- multi-way join + aggregation: TPC-H Q5 style (headline) ----------------
@register(
    "revenue_by_nation",
    oracle=f"""
SELECT n_name,
       {qsum_sql(_DISC_PRICE)} AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name
""",
    headline=True,
)
def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-way join. At scale: lineitem⋈orders is the one real shuffle
    (both huge, equi on orderkey); customer/supplier/nation/region are
    broadcast by Catalyst under the session's 64 MB threshold."""
    t = {n: load_table(spark, sf_dir, n)
         for n in ("customer", "orders", "lineitem", "supplier", "nation", "region")}
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["supplier"], (F.col("l_suppkey") == F.col("s_suppkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(t["nation"], F.col("s_nationkey") == F.col("n_nationkey"))
        .join(t["region"], F.col("n_regionkey") == F.col("r_regionkey"))
        .where(
            (F.col("r_name") == "ASIA")
            & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy("n_name")
        .agg(qsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
             .alias("revenue"))
    )


# --- window: top-k per group -------------------------------------------------
@register(
    "top_customers_per_nation",
    oracle="""
SELECT c_custkey, c_nationkey, c_acctbal, rn FROM (
  SELECT c_custkey, c_nationkey, c_acctbal,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal DESC, c_custkey) AS rn
  FROM customer
) WHERE rn <= 3
""",
)
def q_top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return top_k_per_group(
        cust.select("c_custkey", "c_nationkey", "c_acctbal"),
        ["c_nationkey"],
        [F.col("c_acctbal").desc(), F.col("c_custkey").asc()],
        k=3,
    )


# --- window: running total + lag ---------------------------------------------
@register(
    "customer_running_spend",
    oracle="""
SELECT o_orderkey, o_custkey,
       sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0
       AS running_spend
FROM orders
""",
)
def q_customer_running_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Cumulative sum over integer cents: exact, so the window's
    # internal summation strategy (sequential vs segment-tree) can't
    # drift between engines. decimal cents (r16, the shared-helper
    # migration): a whale customer's running total crossing 2^63
    # cents would ANSI-overflow a long window sum mid-partition while
    # DuckDB's window sum silently promotes to HUGEINT — same
    # int64-money class as the group sums (SCALING.md).
    orders = load_table(spark, sf_dir, "orders")
    out = running_total(
        orders, ["o_custkey"],
        [F.col("o_orderdate"), F.col("o_orderkey")],
        cents(F.col("o_totalprice")),
        alias="running_cents",
    )
    return out.select("o_orderkey", "o_custkey",
                      (F.col("running_cents") / 100.0).alias("running_spend"))


@register(
    "order_gap_days",
    oracle="""
SELECT o_orderkey, o_custkey,
       date_diff('day',
                 lag(o_orderdate) OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate, o_orderkey),
                 o_orderdate) AS gap_days
FROM orders
""",
)
def q_order_gap_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    out = lag_diff(
        orders, ["o_custkey"], [F.col("o_orderdate"), F.col("o_orderkey")],
        F.col("o_orderdate"),
        F.datediff(F.col("o_orderdate"), F.col("_prev")).cast("long"),
        alias="gap_days",
    )
    return out.select("o_orderkey", "o_custkey", "gap_days")


# --- global top-k -------------------------------------------------------------
@register(
    "top_orders_global",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
""",
)
def q_top_orders_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orderBy+limit compiles to TakeOrderedAndProject — per-partition
    top-k then a k-row merge on the driver; no global sort even at
    100 TB."""
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


# --- rollup / cube -------------------------------------------------------------
@register(
    "order_priority_rollup",
    oracle=f"""
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n_orders, {qsum_sql('o_totalprice')} AS total_price
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""",
)
def q_order_priority_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two-level money sum under the rollup (r18 optimization round):
    # the one-level decimal qsum rode the rollup's Expand ×3, paying the
    # ~318 ns/row decimal add on every expanded copy. Level 1 groups
    # exactly (keys, chunk) with long adds; the rollup runs over the
    # tiny chunk-sum table. Grouping-set semantics are preserved —
    # every rollup group's sum is a sum of its chunk partials,
    # including data-NULL key values (their level-1 groups roll up
    # the same way the raw rows did). Values bit-identical (exact
    # integer arithmetic at both levels, same decimal(29,0)
    # intermediate, same oracle).
    per_chunk = (
        load_table(spark, sf_dir, "orders")
        .withColumn("_chunk", chunk_id())
        .groupBy("o_orderstatus", "o_orderpriority", "_chunk")
        .agg(F.sum(cents_long(F.col("o_totalprice"))).alias("c_price"),
             F.count(F.lit(1)).alias("c_n"))
    )
    return (
        per_chunk.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.sum("c_n").alias("n_orders"),
             (dsum("c_price") / 100.0).alias("total_price"))
    )


@register(
    "returnflag_status_cube",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       count(*) AS n_items, {qsum_sql('l_quantity')} AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)
def q_returnflag_status_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two-level money sum under the cube — same composition and
    # rationale as q_order_priority_rollup (the cube's Expand is ×4).
    per_chunk = (
        load_table(spark, sf_dir, "lineitem")
        .withColumn("_chunk", chunk_id())
        .groupBy("l_returnflag", "l_linestatus", "_chunk")
        .agg(F.sum(cents_long(F.col("l_quantity"))).alias("c_qty"),
             F.count(F.lit(1)).alias("c_n"))
    )
    return (
        per_chunk.cube("l_returnflag", "l_linestatus")
        .agg(F.sum("c_n").alias("n_items"),
             (dsum("c_qty") / 100.0).alias("sum_qty"))
    )


# --- pivot ---------------------------------------------------------------------
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


@register(
    "mktsegment_pivot",
    oracle="""
SELECT c_nationkey,
       count(*) FILTER (WHERE c_mktsegment = 'AUTOMOBILE') AS automobile,
       count(*) FILTER (WHERE c_mktsegment = 'BUILDING')   AS building,
       count(*) FILTER (WHERE c_mktsegment = 'FURNITURE')  AS furniture,
       count(*) FILTER (WHERE c_mktsegment = 'HOUSEHOLD')  AS household,
       count(*) FILTER (WHERE c_mktsegment = 'MACHINERY')  AS machinery
FROM customer GROUP BY c_nationkey
""",
)
def q_mktsegment_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pivot_counts(load_table(spark, sf_dir, "customer"),
                        "c_nationkey", "c_mktsegment", _SEGMENTS)


# --- semi / anti joins -----------------------------------------------------------
@register(
    "parts_never_ordered",
    oracle="""
SELECT p_partkey, p_name FROM part
WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
""",
)
def q_parts_never_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        part.join(li, part.p_partkey == li.l_partkey, "left_anti")
        .select("p_partkey", "p_name")
    )


@register(
    "suppliers_with_orders",
    oracle="""
SELECT s_suppkey, s_name FROM supplier
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey)
""",
)
def q_suppliers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        sup.join(li, sup.s_suppkey == li.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
    )


# --- set ops -----------------------------------------------------------------------
@register(
    "customers_retained",
    oracle="""
SELECT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
INTERSECT
SELECT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
""",
)
def q_customers_retained(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")

    def year(y):
        return orders.where(
            (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01").cast("timestamp"))
        ).select("o_custkey")

    return year(1995).intersect(year(1996))


@register(
    "customers_churned",
    oracle="""
SELECT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
EXCEPT
SELECT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
""",
)
def q_customers_churned(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")

    def year(y):
        return orders.where(
            (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01").cast("timestamp"))
        ).select("o_custkey")

    # subtract == EXCEPT DISTINCT (exceptAll would keep surplus
    # multiplicities of keys present in both years).
    return year(1995).subtract(year(1996))


# --- correlated-subquery semantics -------------------------------------------------
@register(
    "orders_above_customer_average",
    # HUGEINT on the product side (r16): cents*n at contract-extreme
    # magnitudes (2e12 cents × ~5M orders) exceeds int64, where DuckDB
    # BIGINT*BIGINT HARD-ERRORS ("Overflow in multiplication") instead
    # of promoting — engine and oracle must widen together (the Spark
    # side is decimal cents × long n → decimal(38,0), exact here).
    oracle="""
SELECT o.o_orderkey, o.o_custkey
FROM orders o
WHERE CAST(round(o.o_totalprice * 100) AS HUGEINT)
      * (SELECT count(*) FROM orders i WHERE i.o_custkey = o.o_custkey)
      > (SELECT sum(CAST(round(i.o_totalprice * 100) AS BIGINT))
         FROM orders i WHERE i.o_custkey = o.o_custkey)
""",
)
def q_orders_above_customer_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders priced above their customer's average — correlated-
    subquery semantics, decorrelated into one window pass (the 100 TB
    shape: a correlated scalar subquery re-scans per row; the window
    shuffles once on the key). The comparison is cents*n > sum_cents —
    pure integers, so the engines cannot disagree at the boundary.
    decimal cents (r16, SCALING.md money section): the long form's
    window sum AND its cents×n product both ANSI-overflow past 2^63
    at group sizes a 100 TB whale customer reaches; decimal(19,0)
    cents sum as decimal(29,0) and multiply n exactly within
    decimal(38,0). The oracle keeps the CORRELATED formulation,
    independently validating the decorrelation."""
    from pyspark.sql import Window
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    return (
        orders.select("o_orderkey", "o_custkey",
                      cents(F.col("o_totalprice")).alias("cents"))
        .withColumn("n", F.count(F.lit(1)).over(w))
        .withColumn("s", F.sum("cents").over(w))
        .where(F.col("cents") * F.col("n") > F.col("s"))
        .select("o_orderkey", "o_custkey")
    )


# --- scalar functions: date / math / string / regex -------------------------------
@register(
    "order_scalar_functions",
    oracle="""
SELECT o_orderkey,
       CAST(year(o_orderdate) AS BIGINT)    AS order_year,
       CAST(month(o_orderdate) AS BIGINT)   AS order_month,
       CAST(day(o_orderdate) AS BIGINT)     AS order_day,
       date_trunc('month', o_orderdate)     AS month_start,
       date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS days_since_epoch,
       upper(o_orderpriority)               AS priority_upper,
       CAST(length(o_orderpriority) AS BIGINT) AS priority_len,
       regexp_extract(o_orderpriority, '^(\\d)', 1) AS priority_digit,
       CASE WHEN o_orderpriority IS NOT NULL
            THEN split_part(o_orderpriority, '-', 2)
       END                                  AS priority_word,
       CASE WHEN o_totalprice >= 0
            THEN round(sqrt(o_totalprice), 6) END AS price_sqrt,
       CASE WHEN o_totalprice > 0
            THEN round(ln(o_totalprice), 6) END   AS price_ln,
       CAST(floor(o_totalprice) AS BIGINT)  AS price_floor,
       floor(abs(o_totalprice - 1000.0) * 100 + 0.5) / 100.0 AS price_abs_diff
FROM orders
""",
)
def q_order_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.month("o_orderdate").cast("long").alias("order_month"),
        F.dayofmonth("o_orderdate").cast("long").alias("order_day"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.datediff("o_orderdate", F.lit("1995-01-01").cast("timestamp"))
         .cast("long").alias("days_since_epoch"),
        F.upper("o_orderpriority").alias("priority_upper"),
        F.length("o_orderpriority").cast("long").alias("priority_len"),
        F.regexp_extract("o_orderpriority", r"^(\d)", 1).alias("priority_digit"),
        # Native split_part, NOT split().getItem(1): under ANSI (the
        # Spark 4 default) getItem hard-fails INVALID_ARRAY_INDEX on
        # delimiter-free input, and a non-ANSI NULL would still diverge
        # from the oracle's split_part '' — Spark's split_part matches
        # DuckDB on every NON-NULL input ('' out of range). NULL input
        # does diverge (Spark NULL, DuckDB '' — probed on the r14
        # hostile-TPC-H sweep), so the ORACLE carries an explicit
        # IS NOT NULL CASE to mirror Spark's NULL propagation.
        F.split_part("o_orderpriority", F.lit("-"), F.lit(2))
         .alias("priority_word"),
        # Domain-guarded on BOTH sides (r14 adversarial TPC-H sweep):
        # out of domain, Spark sqrt yields NaN and ln yields NULL,
        # while DuckDB HARD-ERRORS ("cannot take square root of a
        # negative number") — one bad row would kill the whole oracle
        # query, and the NaN would hash-diverge anyway. CASE-guarding
        # both engines makes a non-positive price a NULL stat instead
        # of a dead 100 TB job.
        F.when(F.col("o_totalprice") >= 0,
               F.round(F.sqrt("o_totalprice"), 6)).alias("price_sqrt"),
        F.when(F.col("o_totalprice") > 0,
               F.round(F.log("o_totalprice"), 6)).alias("price_ln"),
        F.floor("o_totalprice").cast("long").alias("price_floor"),
        q2(F.abs(F.col("o_totalprice") - 1000.0)).alias("price_abs_diff"),
    )


# --- JSON extraction ------------------------------------------------------------
@register(
    "events_json_extract",
    # Integer-gated lenient extraction, aligned expression-for-
    # expression with the Spark plan (r14 adversarial sweep; both
    # sides changed together, value-neutral on shipped props which
    # are always {"k": int}):
    # - json_valid gate: DuckDB's json_extract_string is a STRICT
    #   parser that kills the whole oracle query on one malformed
    #   props row, while Spark's get_json_object returns NULL.
    # - regex gate + TRY_CAST: the old bare CAST crashed Spark-side
    #   under ANSI on any non-integer k ('7.9', 'true', '[1,2]') and,
    #   lenient-ified naively, still diverged (DuckDB CAST('7.9') = 8
    #   rounds, Spark try_cast = NULL). Only exact integer renderings
    #   pass; TRY_CAST keeps >int64 digits NULL on both engines.
    # - \z anchor, not $: a string-valued k ending in '\n' passes
    #   Java's $-before-final-newline but not RE2's — the same
    #   engine trap URL_CANON_STEPS documents.
    oracle=r"""
SELECT event_id, event_type,
       CASE WHEN json_valid(props)
             AND regexp_matches(json_extract_string(props, '$.k'),
                                '^-?[0-9]+\z')
            THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
       END AS k
FROM events
""",
)
def q_events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction with the integer-gated lenient cast (see
    the oracle comment): one bad row must yield NULL, not kill a
    100 TB job — get_json_object is already lenient on malformed
    JSON, the regex gate makes the integer conversion ANSI-safe and
    cross-engine-exact (pinned by
    test_events_json_extract_survives_dirty_props on malformed /
    non-integer / overflow / newline-string props)."""
    ev = load_table(spark, sf_dir, "events")
    s = F.get_json_object("props", "$.k")
    return ev.select(
        "event_id", "event_type",
        F.when(s.rlike(r"^-?[0-9]+\z"), s.try_cast("long")).alias("k"),
    )


# --- aggregation with HAVING + exact distinct -------------------------------------
@register(
    "nation_order_stats",
    oracle=f"""
SELECT n_name,
       count(*) AS n_orders,
       count(DISTINCT o_custkey) AS n_customers,
       {qsum_sql('o_totalprice')} AS total_spend,
       {qavg_sql('o_totalprice', 4)} AS avg_spend,
       {q2_sql('min(o_totalprice)')} AS min_spend,
       {q2_sql('max(o_totalprice)')} AS max_spend
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name
HAVING count(*) >= 10
""",
)
def q_nation_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            qsum(F.col("o_totalprice")).alias("total_spend"),
            qavg(F.col("o_totalprice"), 4).alias("avg_spend"),
            q2(F.min("o_totalprice")).alias("min_spend"),
            q2(F.max("o_totalprice")).alias("max_spend"),
        )
        .where(F.col("n_orders") >= 10)
    )


# --- union over heterogeneous sources ----------------------------------------------
@register(
    "account_balance_union",
    oracle="""
SELECT 'customer' AS kind, c_custkey AS key, c_acctbal AS acctbal
FROM customer
UNION ALL
SELECT 'supplier' AS kind, s_suppkey AS key, s_acctbal AS acctbal
FROM supplier
""",
)
def q_account_balance_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Raw column pass-through: identical parquet doubles on both
    # engines need no quantization.
    cust = load_table(spark, sf_dir, "customer").select(
        F.lit("customer").alias("kind"),
        F.col("c_custkey").alias("key"),
        F.col("c_acctbal").alias("acctbal"),
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("kind"),
        F.col("s_suppkey").alias("key"),
        F.col("s_acctbal").alias("acctbal"),
    )
    return cust.unionByName(sup)
