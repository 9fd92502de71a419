"""Cross-engine-deterministic numeric aggregation.

Floating-point sums are order-dependent: Spark and DuckDB aggregate
the same doubles in different orders and can disagree in the last
ulps, and engine ``round()`` implementations disagree on exact .5 —
either is enough to flip the driver's value hash (observed:
``round(avg(o_totalprice), 4)`` → 237217.9588 vs 237217.9587).

Fix: quantize each element to integer "cents" BEFORE aggregating.
Integer sums are exact and order-independent, so both engines hold
bit-identical intermediates, and every subsequent step (IEEE double
multiply/divide, floor) is deterministic on identical inputs. Each
helper has a Spark form and a mirrored DuckDB-SQL form; keep them in
lockstep.

Cents accumulate in DECIMAL, not long (the ADVICE-r14 int64-money
class, closed surface-by-surface in r15/r16 — the authoritative
migration ledger is SCALING.md's money section): at the contracted
±2e12-cent per-row magnitude a single group of ~4.6M rows pushes a
long sum past 2^63 — an ANSI ARITHMETIC_OVERFLOW that kills the job
Spark-side while DuckDB's BIGINT sum silently promotes to HUGEINT
(a crash on one engine, a value on the other). A decimal(19,0)
input sums as decimal(29,0) — exact to 1e29 (Spark widens sum
precision by 10, not to 38), ~10 orders above any realistic 100 TB
group — and every consumer converts to double exactly once, so
non-overflow values are bit-identical to the old long form.

This also matches 100 TB reality: money-like measures should be
fixed-point (DECIMAL / integer cents) at scale anyway — float sums
over 10^12 rows lose pennies.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def cents(col: Column, scale: int = 100) -> Column:
    """Exact integer cents as decimal(19,0): ``round(x*scale)``.

    The shared quantization step behind qsum/qavg and every inline
    money aggregation (events values, revenue sums, window spends) —
    one definition so the decimal width and rounding rule can never
    drift between surfaces. See the module docstring for why decimal
    and not long.
    """
    return F.round(col * scale, 0).cast("decimal(19,0)")


def cents_sql(expr: str, scale: int = 100) -> str:
    """DuckDB mirror of :func:`cents`. BIGINT, not HUGEINT: per-row
    cents are bounded by the money domain (±2e12), and DuckDB's
    ``sum(BIGINT)`` already returns HUGEINT — the promotion Spark's
    decimal accumulation mirrors. Only expressions that MULTIPLY
    cents by a count before DuckDB can widen them need an explicit
    HUGEINT cast (BIGINT*BIGINT hard-errors on overflow there)."""
    return f"CAST(round(({expr}) * {scale}) AS BIGINT)"


# --- two-level money sums (hot-scan mitigation, r17) -----------------------
#
# Spark's decimal(29,0) accumulation costs ~318 ns/row/buffer vs
# ~109 ns for a long add (measured by a decimal-vs-long sum sweep at
# sf0.1, min-of-5) — with several money buffers over one huge scan the
# decimal sums dominate query CPU (71% of pricing_summary's at a
# 10-task scan). The two-level form keeps the per-ROW adds long and
# moves the decimal widening to per-CHUNK rows:
#
#   level 1: groupBy(keys, chunk_id()) with sum(cents_long(x)) —
#            long adds, map-side combining, exact;
#   level 2: groupBy(keys) with dsum("chunk_col") — decimal adds
#            over ~rows/2^21 chunk sums, where the cost is noise.
#
# Overflow safety is DETERMINISTIC, not probabilistic: chunk_id()
# bounds a chunk to 2^21 rows of ONE scan partition, so a chunk's
# long sum is bounded by 2^21 * |cents|_max = 4.4e18 at the
# contracted ±2e12-cent per-row domain — 2.1x under 2^63 (the r16
# overflow pin's 3e12-cent extreme still clears at 6.3e18). Every
# step is exact integer arithmetic, so the final values are
# bit-identical to the single-level qsum/qavg form — same oracle SQL.
# Use it where MANY money buffers ride one corpus-scale scan
# (pricing_summary); single-buffer aggregations behind joins
# (revenue_by_nation) keep the simpler one-level qsum.

# log2 of the max rows per chunk. monotonically_increasing_id() is
# (partition_index << 33) | row_offset, so ids within a partition are
# consecutive from p<<33 and shiftright by 21 groups at most 2^21
# rows; distinct partitions can't collide below 8.6e9 rows per
# PARTITION (offset overflowing into the partition bits) — ~1 TB+ in
# one task, far past any sane split size.
CHUNK_ROWS_LOG2 = 21


def chunk_id() -> Column:
    """Partition-local bounded chunk id for two-level money sums:
    at most 2^21 rows share a value (see CHUNK_ROWS_LOG2). The id is
    not deterministic across runs (it inherits the scan's partition
    layout) — which is fine ONLY under exact integer aggregation,
    where every chunking yields the same total; do not group
    non-exact aggregates by it. It must also be assigned DIRECTLY
    over a deterministic scan (no upstream repartition/shuffle or
    nondeterministic ordering): downstream of a nondeterministic
    exchange, a partial stage retry re-chunks only the recomputed map
    tasks while completed reducers keep old output (the SPARK-23207
    class), duplicating or losing chunk rows even under exact sums.
    Task retries over a deterministic parquet scan regenerate
    identical ids."""
    return F.shiftright(F.monotonically_increasing_id(), CHUNK_ROWS_LOG2)


def cents_long(col: Column, scale: int = 100) -> Column:
    """Level-1 quantizer: the same ``round(x*scale)`` integer as
    :func:`cents` (kept textually in lockstep — the per-row parity
    test pins cents; this is the identical expression with a long
    cast) but accumulating in int64. ONLY safe summed per
    :func:`chunk_id` chunk: an unbounded group ANSI-overflows at
    ~4.6M contract-extreme rows, the exact defect qsum's decimal
    accumulation closed (SCALING.md)."""
    return F.round(col * scale, 0).cast("long")


def dsum(chunk_sum_col: str) -> Column:
    """Level-2 accumulator: exact decimal sum over chunk long sums.
    decimal(19,0) holds any chunk sum (|sum| <= 4.4e18 < 1e19 by the
    chunk bound) and Spark widens the sum buffer to decimal(29,0) —
    the same intermediate type, bound (1e29), and final-conversion
    point as the one-level qsum, so values are bit-identical."""
    return F.sum(F.col(chunk_sum_col).cast("decimal(19,0)"))


def qsum(col: Column) -> Column:
    """Exact quantized sum: ``sum(cents(x)) / 100`` (double out)."""
    return F.sum(cents(col)) / 100.0


def qsum_sql(expr: str) -> str:
    return f"sum({cents_sql(expr)}) / 100.0"


def qavg(col: Column, p: int = 4, scale: int = 100) -> Column:
    """Average rounded to ``p`` decimals via exact integer arithmetic:
    ``floor(cents * 10^p / (scale*n) + 0.5) / 10^p``. The decimal sum
    converts to double at the ``* 10^p`` step — the same point the
    oracle's HUGEINT sum does — so both engines floor the same IEEE
    double."""
    c = F.sum(cents(col, scale))
    mult = float(10 ** p)
    return F.floor(c * mult / (scale * F.count(F.lit(1))) + 0.5) / mult


def qavg_sql(expr: str, p: int = 4, scale: int = 100) -> str:
    # CAST the sum to DOUBLE before the multiply (r17, found by
    # hostile seed 35): in DuckDB the literal `10000.0` is
    # DECIMAL(6,1), so `sum(...) * 10000.0` was HUGEINT × DECIMAL =
    # exact decimal arithmetic — a DIFFERENT spec from qavg's
    # IEEE-double path, diverging whenever the true quotient sits
    # within ~1 double-ulp of the +0.5 floor boundary (at a 4e13
    # quotient the ulp is 0.008, so ~0.8% of contract-extreme groups;
    # reproduced: S=36,100,076,321,755 cents over n=93 → exact
    # ...478.4946 floors to ...478, double path to ...479). With the
    # cast both engines round S to double once and run identical
    # scalar ops — the lockstep the module docstring promises.
    # DOUBLE * DECIMAL(6,1) → DOUBLE in DuckDB, so one cast suffices.
    mult = 10 ** p
    return (
        f"floor(CAST(sum({cents_sql(expr, scale)}) AS DOUBLE) * {mult}.0"
        f" / ({scale} * count(*)) + 0.5) / {mult}.0"
    )


def q2(col: Column) -> Column:
    """Deterministic 2-dp quantization of a scalar (non-aggregated)
    double: ``floor(x*100 + 0.5) / 100`` — engine round() differs at
    exact halves, floor does not."""
    return F.floor(col * 100 + 0.5) / 100.0


def q2_sql(expr: str) -> str:
    return f"floor(({expr}) * 100 + 0.5) / 100.0"
