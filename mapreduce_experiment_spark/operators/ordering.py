"""Global ordering operators: deterministic corpus shuffling with
SCALABLE global position assignment.

Pre-training pipelines shuffle the corpus into a deterministic random
order (seeded, so re-runs and resumed jobs see the same order). The
naive formulation — ``row_number() OVER (ORDER BY hash)`` — plans a
single-partition window: every row funnels through ONE task, the
anti-scale shape (at 100 TB it simply never finishes). The reference
workload has no analogue; this is the standard distributed
zipWithIndex pattern re-expressed as DataFrame ops:

1. project a portable 60-bit hash of (seed, id) — codegen, map-side;
2. bucket it by VALUE RANGE: hashes are uniform, so fixed-width
   buckets are balanced with no sampling pass (unlike Spark's own
   range exchange, which needs one);
3. count rows per bucket (tiny aggregate, B rows);
4. cumulative offsets over that B-row table (a single-partition
   window over BUCKET COUNTS — bounded by B, never by data);
5. rank WITHIN each bucket (window partitioned by bucket — parallel
   across B tasks) and add the broadcast offset.

Every data-scale step is a hash aggregate or a bucket-partitioned
window; the only single-partition work is over B rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.textfns import hash60

_HASH60_SPACE = 1 << 60  # hash60 yields 15 hex chars: [0, 2^60)

# Fixed bucket count: 2^10 buckets of the 60-bit hash space. At 100 TB
# raise toward ~4x the cluster's task slots; correctness is
# bucket-count-independent (pinned by test_corpus_shuffle_bucket_counts).
N_SHUFFLE_BUCKETS = 1024


def corpus_shuffle(docs: DataFrame, seed: str = "shuffle-v1") -> DataFrame:
    """Deterministic seeded shuffle order: (doc_id, shuffle_pos) with
    ``shuffle_pos`` in 1..N, the rank of ``hash60(seed || id)`` (id
    tie-break for the negligible collision case). Same seed → same
    order on any cluster, any partitioning, any engine — the DuckDB
    oracle replays the hash and a global ``row_number`` and must
    match value-for-value."""
    width = _HASH60_SPACE // N_SHUFFLE_BUCKETS
    h = hash60(F.concat(F.lit(seed + ":"), F.col("doc_id").cast("string")))
    # Integer `div`, not float division: hashes exceed 2^53, where a
    # double quotient can round across a bucket boundary and break
    # the bucketing's monotonicity in h (global order would be wrong
    # exactly at boundaries). div is exact int64 and monotone.
    hashed = docs.select(F.col("doc_id"), h.alias("_h")).withColumn(
        "_b", F.expr(f"_h div {width}"))
    counts = hashed.groupBy("_b").agg(F.count(F.lit(1)).alias("_n"))
    # Offsets over the B-row bucket-count table: the ONLY unpartitioned
    # window, bounded by N_SHUFFLE_BUCKETS — never by corpus size.
    offsets = counts.select(
        "_b",
        (F.sum("_n").over(
            Window.orderBy("_b")
            .rowsBetween(Window.unboundedPreceding, -1)
        )).alias("_off"),
    ).select("_b", F.coalesce("_off", F.lit(0)).alias("_off"))
    within = F.row_number().over(
        Window.partitionBy("_b").orderBy("_h", "doc_id"))
    return (
        hashed.join(F.broadcast(offsets), "_b")
        .select("doc_id",
                (F.col("_off") + within).alias("shuffle_pos"))
    )
