"""Approximate-sketch queries (HLL distinct counts, quantile sketch),
driver-checkable.

Sketch outputs are engine-specific estimators (Spark HyperLogLog++ /
GK percentile sketches have no DuckDB equivalent), so the raw
estimates can never value-match a cross-engine oracle. Every
registered query must carry an oracle (there is no rows-only check),
so each query is stated as an oracle-compatible contract:

- the output carries the EXACT values (oracle-computable in DuckDB:
  exact distinct counts / exact continuous quantiles), plus
- a boolean per sketch, computed Spark-side, asserting the estimate
  is within its error bound of the exact value; the oracle emits the
  same exact values and literal TRUE.

The hash matches iff the sketch is in bounds — the statement
tests/test_sketches.py used to make only locally is now a hard
driver signal. The exact side doubles as its own capability (exact
count-distinct / exact quantiles per group).

Scale rationale: at 100 TB an exact COUNT(DISTINCT) shuffles every
distinct key and an exact quantile sorts the column; the sketches are
a few KB of mergeable state per group, combined map-side — they are
what you actually run on a 1000-executor cluster. The exact
companions in these queries are the audit harness, not the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import register


@register(
    "approx_distinct_counts",
    oracle="""
SELECT count(DISTINCT l_orderkey) AS exact_orders,
       count(DISTINCT l_partkey) AS exact_parts,
       count(DISTINCT l_suppkey) AS exact_suppliers,
       count(*) AS n_rows,
       TRUE AS orders_within_tol,
       TRUE AS parts_within_tol,
       TRUE AS suppliers_within_tol
FROM lineitem
""",
)
def q_approx_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ distinct-count estimates over lineitem key columns,
    verified in-plan against the exact counts.

    rsd=0.01 → ~1% standard error; the bound checked is 5× that
    (``abs(approx - exact) <= max(0.05 * exact, 1)``), a ≥5σ margin.
    HLL++ is deterministic for fixed data, so the driver's sf0.01 run
    reproduces exactly what the local mirror verified.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cols = {"orders": "l_orderkey", "parts": "l_partkey",
            "suppliers": "l_suppkey"}
    # The sketches aggregate SEPARATELY from the exact distincts (r18
    # optimization round, guide §5/§2.3): mixed into one agg, Spark's
    # multi-distinct rewrite Expands the input 4x and keys the partial
    # aggregate by every distinct key value — which allocates the three
    # rsd=0.01 HLL++ buffers (~13 KB each) PER DISTINCT KEY GROUP
    # (~190k groups at sf0.1 = ~7 GB of register arrays; measured 190 s
    # executor CPU / 76 s wall, in the partial HashAggregate above the
    # Expand). Split, the HLL pass is a plain two-phase
    # scalar aggregate (3 buffers per task total) and the exact pass
    # Expands with only count buffers; the two 1-row results cross-join
    # back. Values are identical: same aggregates over the same rows,
    # and HLL++ register maxes are order- and partition-independent.
    exact = li.agg(
        *[F.countDistinct(c).alias(f"exact_{k}") for k, c in cols.items()],
        F.count(F.lit(1)).alias("n_rows"),
    )
    approx = li.agg(
        *[F.approx_count_distinct(c, rsd=0.01).alias(f"_approx_{k}")
          for k, c in cols.items()],
    )
    agg = exact.crossJoin(approx)

    def within_tol(k: str) -> Column:
        exact = F.col(f"exact_{k}")
        return (F.abs(F.col(f"_approx_{k}") - exact)
                <= F.greatest(exact * 0.05, F.lit(1))).alias(f"{k}_within_tol")

    return agg.select(
        *[F.col(f"exact_{k}") for k in cols],
        "n_rows",
        *[within_tol(k) for k in cols],
    )


# Exact quantiles are continuous (linear interpolation at p*(n-1)) on
# integer cents. Round 3 computed them with Spark `percentile` vs
# DuckDB `quantile_cont` + a q4 floor-quantization — which absorbs ulp
# drift only while the interpolated value stays off a .5-cent
# boundary (ADVICE r3). Round 4 removes the float hazard entirely:
# with p expressed in hundredths (P/100), the interpolation index
# (n-1)*P/100 splits into exact integers lo = ((n-1)*P) DIV 100 and
# rem = ((n-1)*P) % 100, and
#     interp100 = 100*cents[lo] + rem*(cents[lo+1] - cents[lo])
# is an exact int64 on BOTH engines (rank values come from an
# identical sort); p_exact = interp100 / 10000.0 divides the same
# integer by the same constant → bit-identical doubles, no rounding
# step at all. cents[lo] is fetched with a conditional max over
# row_number.
_PS = (0.5, 0.9, 0.99)
_PCT = (50, 90, 99)  # the same fractions as exact hundredths
# Rank window for the in-bounds check: the GK sketch at accuracy
# 10_000 guarantees rank error <= n/10_000; the bound checked is the
# ELEMENT at 0-based rank floor((n-1)*(p-0.02)) .. the element at
# ceil((n-1)*(p+0.02)) (clamped to the max) — a 0.02*n rank slack,
# 200× the guarantee. Elements, NOT interpolated quantile values
# (the pre-r14 form): interpolation between two order statistics
# separated by a large value gap produces a bound strictly between
# the elements, which the sketch's returned element — rank-exact — can
# legitimately violate (observed on hostile ±2e7 prices in tiny
# groups). The rank guarantee is a statement about ranks; comparing
# against elements at slack ranks is what it actually implies.


def _interp_sql(pct: int) -> str:
    lo, hi = f"lo{pct}", f"hi{pct}"
    rem = f"(((n_orders - 1) * {pct}) % 100)"
    return (f"(100 * {lo} + {rem} * (coalesce({hi}, {lo}) - {lo}))"
            " / 10000.0")


@register(
    "approx_order_percentiles",
    oracle="WITH q AS (\n"
           "  SELECT o_orderpriority,\n"
           "         CAST(round(o_totalprice * 100) AS BIGINT) AS cents\n"
           "  FROM orders),\n"
           "r AS (\n"
           "  SELECT o_orderpriority, cents,\n"
           "         CAST(row_number() OVER (PARTITION BY o_orderpriority\n"
           "                                 ORDER BY cents) AS BIGINT) AS rn,\n"
           "         count(*) OVER (PARTITION BY o_orderpriority) AS n\n"
           "  FROM q),\n"
           "a AS (\n"
           "  SELECT o_orderpriority, max(n) AS n_orders,\n"
           + ",\n".join(
               f"    max(CASE WHEN rn = ((n - 1) * {pct}) // 100 + 1"
               f" THEN cents END) AS lo{pct},\n"
               f"    max(CASE WHEN rn = ((n - 1) * {pct}) // 100 + 2"
               f" THEN cents END) AS hi{pct}"
               for pct in _PCT) + "\n"
           "  FROM r GROUP BY o_orderpriority)\n"
           "SELECT o_orderpriority, n_orders,\n"
           + ",\n".join(f"  {_interp_sql(pct)} AS p{pct}_exact"
                        for pct in _PCT) + ",\n"
           + ",\n".join(f"  TRUE AS p{pct}_in_bounds" for pct in _PCT) + "\n"
           "FROM a",
)
def q_approx_order_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx (GK sketch) of order value per priority,
    verified in-plan against exact quantiles.

    The sketch value must lie between the ELEMENTS at 0-based ranks
    floor((n−1)(p−0.02)) and ceil((n−1)(p+0.02)) (p99's upper rank
    clamps to the max) — the rank-error statement a quantile sketch
    actually guarantees, checked with 200× headroom over the
    accuracy-10k bound; see the module comment for why interpolated
    band VALUES were the wrong check. The exact p50/p90/p99 are
    interpolated IN INTEGER SPACE over cents (see the module
    comment): both engines build the same int64, so equality is
    structural, not a quantization accident.
    """
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    wr = Window.partitionBy("o_orderpriority").orderBy("cents")
    wp = Window.partitionBy("o_orderpriority")
    r = (
        orders.select("o_orderpriority", cents.alias("cents"))
        .withColumn("rn", F.row_number().over(wr).cast("long"))
        .withColumn("n", F.count(F.lit(1)).over(wp))
    )

    def rank_val(pct: int, off: int) -> Column:
        lo = F.expr(f"((n - 1) * {pct}) DIV 100")
        return F.max(F.when(F.col("rn") == lo + off, F.col("cents")))

    def band_val(pct: int, side: str) -> Column:
        # Element at the slack rank (see the module comment): floor
        # rank for the lower bound, ceil rank clamped to the max for
        # the upper (p99 + 2 walks past the end). 0-based rank → the
        # 1-based rn via + 1.
        if side == "blo":
            rk = F.expr(f"((n - 1) * {pct - 2}) DIV 100")
        else:
            rk = F.least(F.expr(f"((n - 1) * {pct + 2} + 99) DIV 100"),
                         F.col("n") - 1)
        return F.max(F.when(F.col("rn") == rk + 1, F.col("cents")))

    g = r.groupBy("o_orderpriority").agg(
        F.max("n").alias("n_orders"),
        *[rank_val(pct, off).alias(f"_{side}{pct}")
          for pct in _PCT for side, off in (("lo", 1), ("hi", 2))],
        *[band_val(pct, side).alias(f"_{side}{pct}")
          for pct in _PCT for side in ("blo", "bhi")],
        F.percentile_approx("cents", list(_PS), 10_000).alias("_approx"),
    )

    def p_exact(pct: int) -> Column:
        lo, hi = F.col(f"_lo{pct}"), F.col(f"_hi{pct}")
        rem = F.expr(f"((n_orders - 1) * {pct}) % 100")
        return (100 * lo + rem * (F.coalesce(hi, lo) - lo)) / F.lit(10000.0)

    def in_bounds(i: int) -> Column:
        ap, pct = F.col("_approx").getItem(i), _PCT[i]
        return ((ap >= F.col(f"_blo{pct}")) & (ap <= F.col(f"_bhi{pct}")))

    return g.select(
        "o_orderpriority", "n_orders",
        *[p_exact(pct).alias(f"p{pct}_exact") for pct in _PCT],
        *[in_bounds(i).alias(f"p{int(p * 100)}_in_bounds")
          for i, p in enumerate(_PS)],
    )
