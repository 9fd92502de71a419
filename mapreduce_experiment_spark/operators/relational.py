"""Generic relational operators.

SURVEY §2 decomposes the reference into relational primitives and
lists whole categories the reference lacks (filters, named joins,
numeric aggregation, windows, sorts, top-k, set ops — §2 "capability
categories absent"). This module supplies the reusable forms; the
registry binds them to concrete queries over the test tables.

Everything here is a declarative Catalyst plan: broadcast and
sort-merge selection, pushdown, and codegen come from the optimizer.
Helpers take explicit deterministic tie-breakers so results are
set-stable across engines (required for the oracle hash compare).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k_per_group(df: DataFrame, partition_by: Sequence[str],
                    order_by: Sequence[Column], k: int) -> DataFrame:
    """Top-k rows per group via a ranking window, ranked in ``rn``.

    ``order_by`` must include a unique tie-breaker for deterministic
    output. One shuffle on the partition keys; AQE handles skewed
    groups. At 100 TB this beats a global sort by never materializing
    an order beyond each group's top-k (rank + filter pipelines in a
    single window stage).
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= k)
    )


def running_total(df: DataFrame, partition_by: Sequence[str],
                  order_by: Sequence[Column], value: Column,
                  alias: str = "running_total") -> DataFrame:
    """Cumulative sum per group (ROWS UNBOUNDED PRECEDING..CURRENT)."""
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(alias, F.sum(value).over(w))


def lag_diff(df: DataFrame, partition_by: Sequence[str],
             order_by: Sequence[Column], value: Column,
             diff: Column, alias: str) -> DataFrame:
    """Attach a difference against the previous row per group.

    ``diff`` is an expression over ``value`` and ``F.col('_prev')``.
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn("_prev", F.lag(value).over(w))
        .withColumn(alias, diff)
        .drop("_prev")
    )


def pivot_counts(df: DataFrame, group_by: str, pivot_col: str,
                 values: Sequence[str]) -> DataFrame:
    """Count pivot with a FIXED value list (scale rule: never let Spark
    scan for distinct pivot values on 100 TB) and zero-filled cells so
    the result matches conditional-aggregation SQL."""
    out = df.groupBy(group_by).pivot(pivot_col, list(values)).count()
    return out.select(
        group_by,
        *[
            F.coalesce(F.col(f"`{v}`"), F.lit(0)).cast("long")
             .alias(v.lower().replace(" ", "_").replace("-", "_"))
            for v in values
        ],
    )


def range_join(facts: DataFrame, value_col: str, intervals: DataFrame,
               granule: float) -> DataFrame:
    """Interval (range) join without a nested-loop product.

    Joins each fact row to every interval row whose ``[lo, hi)``
    contains ``value_col``. A naive theta-join plans as a broadcast
    nested loop (per-row interval scan — the plan that dies first on a
    skewed 100 TB fact table). This uses granule bucketing instead —
    the same binning technique production engines apply to optimize
    range joins: every interval explodes to the fixed-width granules
    it covers, facts compute their single granule key, the join is a
    plain equi-join on the granule, and the exact ``lo <= v < hi``
    predicate verifies on the (tiny) matched set.

    Granule expansion multiplies the INTERVAL side only (ceil(width /
    granule) rows per interval) — choose ``granule`` near the median
    interval width. The fact side stays one row per fact, so shuffle
    volume is unchanged and a small expanded dimension broadcasts.
    """
    # Guard (r14 second-pass review): granule = 0 is an ANSI
    # DIVIDE_BY_ZERO at runtime, and granule < 0 makes the covering
    # `sequence(floor(lo/g), floor(hi/g))` count DOWN (default step
    # -1) through garbage granule keys — silently WRONG join results,
    # the word_ngrams short-doc hazard class. NaN fails both.
    if not float(granule) > 0:
        raise ValueError("granule must be > 0")
    g = F.lit(float(granule))
    expanded = intervals.withColumn(
        "_granule",
        F.explode(F.sequence(
            F.floor(F.col("lo") / g).cast("long"),
            F.floor(F.col("hi") / g).cast("long"))),
    )
    keyed = facts.withColumn(
        "_granule", F.floor(F.col(value_col) / g).cast("long"))
    return (
        keyed.join(expanded, "_granule")
        .where((F.col(value_col) >= F.col("lo"))
               & (F.col(value_col) < F.col("hi")))
        .drop("_granule")
    )


def stratified_sample(df: DataFrame, key_col: str, strata_col: str,
                      pct_by_stratum: dict) -> DataFrame:
    """Deterministic hash-based stratified sampling (data mixing).

    Keep a row iff ``hash60(key) % 100 < pct`` for its stratum's
    percentage (0 for strata not listed). No RNG state anywhere: the
    keep/drop decision is a pure function of the KEY, so (a) reruns
    and retries keep exactly the same rows (restart-safe at 100 TB),
    (b) every table sampled
    with the same key joins consistently with other samples, and
    (c) the result is cross-engine value-checkable — Bernoulli
    samplers are none of these. Rates compose: re-sampling the output
    at a lower pct yields a strict subset.
    """
    from ..functions.textfns import hash60

    pct = F.lit(0)
    for stratum, p in sorted(pct_by_stratum.items()):
        pct = F.when(F.col(strata_col) == stratum, F.lit(int(p))) \
               .otherwise(pct)
    bucket = hash60(F.col(key_col).cast("string")) % 100
    return df.where(bucket < pct)


def mixture_sample(df: DataFrame, weights: DataFrame, key_col: str,
                   strata_col: str) -> DataFrame:
    """Weighted data mixing driven by a WEIGHTS TABLE (``strata_col`` →
    ``keep_ppm``, the parts-per-million keep rate) instead of a CASE
    chain — the shape a real corpus-mixing config takes when there
    are hundreds of sources: the config is data, not code.

    The weights side broadcasts (config-sized); the keep decision is
    ``hash60(stratum || ':' || key) % 1_000_000 < keep_ppm`` — the
    stratum is salted into the hash so sampling the SAME key space at
    equal rates across strata still draws independent subsets, while
    staying a pure function of (stratum, key): restart-safe,
    rerun-identical, cross-engine value-checkable, and
    rate-composable like :func:`stratified_sample`. Strata missing
    from the weights table drop (inner join = rate 0).
    """
    from ..functions.textfns import hash60

    bucket = hash60(F.concat_ws(":", F.col(strata_col),
                                F.col(key_col).cast("string"))) % 1_000_000
    return (
        df.join(F.broadcast(weights), strata_col)
        .where(bucket < F.col("keep_ppm"))
        .drop("keep_ppm")
    )
