"""Incremental triangle enumeration over an edge stream.

The reference's workload (SURVEY §7 step 6), streaming-first: edges
arrive in micro-batches; each batch emits exactly the triangles it
COMPLETES (the batch carries the triangle's last missing edge), so
the union of all batch outputs equals the batch-mode triangle set —
no recomputation of old triangles, state grows only by the deduped
edge delta.

Incremental step for a batch B against accumulated edge state E:

1. ``B_new = canonical(B) − E`` (anti-join: duplicates and already-
   seen edges never re-enter, so a triangle can't be emitted twice).
2. ``E' = E ∪ B_new``.
3. A triangle completed by this batch contains ≥1 edge of ``B_new``
   and its other two edges in ``E'``: for each (a,b) ∈ B_new, every w
   adjacent to both a and b in E' closes one. Enumerated as two
   adjacency joins + distinct (a triangle whose 2nd/3rd edge is also
   in ``B_new`` is found from each of them — distinct dedups within
   the batch; across batches step 1 makes re-finding impossible).

State and output are parquet directories laid out one Hive partition
per micro-batch (``batch_key=r{run}b{batch_id}``), each written with
mode("overwrite") — the pattern that scales AND survives replay:
foreachBatch is only at-least-once, so a batch re-delivered after a
partial failure must overwrite its own partition rather than append
a duplicate (a blind append double-emits triangles on replay). The
replay recomputes from exactly the pre-batch state — every state
read excludes the replayed batch's own partition, so a
half-committed first attempt can't feed itself — and overwrites its
partitions with identical content: idempotent. Existence is probed
by attempting the read (not ``os.path.exists``, which is always
false on HDFS/S3), and a source that yields zero micro-batches
returns an empty result instead of PATH_NOT_FOUND.

State layout (guide §2.3/§6: make per-batch work proportional to
the batch, not the state):
THREE append-only per-batch state tables instead of one —

- ``edge_state``   (u, v): the deduped edge delta, as before. Read
  per batch only for the anti-join membership probe (one scan; with
  a small batch the probe is a broadcast hash of the batch, so the
  state is never shuffled).
- ``deg_state``    (a, d): the batch's symmetrized degree DELTA.
  Exact total degrees = sum over delta partitions — an aggregate
  over O(n_batches x nodes-per-batch) tiny rows, replacing the
  full 2m-row degree re-aggregation every batch ran before.
- ``adj_state``    (a, nbrs): the batch's adjacency DELTA arrays
  (each node's new neighbors this batch), omitting rows owned by
  hub nodes (total degree > MAX_INTERSECT_DEGREE — see below). The
  full adjacency a batch needs is then a flatten-merge of n-row
  pre-aggregated arrays, replacing the full 2m-row collect_list
  every batch ran before. Across batches each (a, w) appears in at
  most one delta (the anti-join guarantees an edge enters state
  once), so merged arrays are duplicate-free.

Write order per batch: triangles, deg delta, adj delta, edge delta
LAST — an edge partition's existence therefore implies its deg/adj
deltas exist (a crash between writes can never leave admitted edges
invisible to future adjacency). The converse orphan (deg/adj/tris
partitions whose edge partition is missing, then a FRESH run
re-admitting those edges under a new run key) is harmless by
construction: duplicated triangle rows collapse in the final
distinct, duplicated adjacency elements collapse in array_intersect
(set semantics), and duplicated degree deltas only overstate
degrees — pushing nodes toward the hub fallback, which is correct
for any degree.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from ..operators.graph import canonical_edges
from ..session import materialize
from .pipeline import _COUNTER

_EDGE_SCHEMA = "src long, dst long"


def _is_missing_path(ex: AnalysisException) -> bool:
    """Only PATH_NOT_FOUND means "no batch has committed yet". Any
    other analysis failure on the state/output root (corrupt layout,
    conflicting schema, permission mapping) must PROPAGATE: swallowing
    it as 'no prior state' would let the anti-join re-admit
    already-seen edges and duplicate triangles."""
    return ex.getCondition() == "PATH_NOT_FOUND"


def _read_batches(spark: SparkSession, root: str, schema: str,
                  exclude_key: str | None = None) -> DataFrame:
    """Read every ``batch_key=...`` partition under ``root`` except
    ``exclude_key`` (the in-flight batch's own partition, so a replay
    never sees its first attempt's half-committed writes). A missing
    root means no batch has committed yet — empty, not an error; the
    filesystem goes through Spark's datasource (portable to HDFS/S3,
    unlike a driver-local os.path.exists)."""
    try:
        df = spark.read.schema(f"{schema}, batch_key string").parquet(root)
    except AnalysisException as ex:
        if not _is_missing_path(ex):
            raise
        return spark.createDataFrame([], schema)
    if exclude_key is not None:
        df = df.where(F.col("batch_key") != exclude_key)
    return df.drop("batch_key")


# Degree cap for the per-batch adjacency-INTERSECT fast path. A
# batch's triangles are found as w ∈ N(u)∩N(v) per new edge;
# intersecting collected neighbor ARRAYS replaces the row-expansion
# join (every (new edge, neighbor-of-u) candidate row materialized and
# probed) — on the worst sf0.1 batch (398k new edges vs 797k state)
# 31 s executor CPU instead of 120 s, 2.4 s wall instead of 5.8 s.
# But a per-row array is as big as the node's degree, and a 100 TB
# hub (d ~ 10^7+) would put an unsplittable multi-MB payload on
# single rows, where the row expansion is AQE-skew-splittable. So
# nodes above this cap keep NO array (they are excluded from the
# adjacency DELTA writes, and in-batch degrees above the cap are
# excluded before the delta collect_list, so no giant agg buffer ever
# exists anywhere — the flatten-merge of non-hub deltas is likewise
# bounded by the cap) and edges touching them fall back to the
# row-expansion closure. 2^16 neighbors = 512 KB max array payload;
# every node in the shipped test data (d_max 222) is far below it,
# and the fallback's candidate volume on a real graph is bounded by
# the hub edges only.
MAX_INTERSECT_DEGREE = 1 << 16

# Above this many deduped edges in one micro-batch, the anti-join
# membership probe falls back from "broadcast the batch, scan the
# state" (guide §3.2 — the state is never shuffled) to the shuffled
# anti-join (state and batch both hashed by (u, v)). 4M edges ≈ 64 MB
# of raw key pairs — the session's autoBroadcastJoinThreshold — and a
# micro-batch is operationally bounded (one source file / trigger
# interval), so the fast path is the expected one; the fallback keeps
# correctness unconditional for arbitrarily large replays.
MAX_BROADCAST_BATCH_EDGES = 4_000_000


def _process_batch(batch: DataFrame, batch_key: str, state_dir: str,
                   out_dir: str) -> None:
    """One micro-batch: admit the deduped edge delta, emit the
    triangles it completes, and append this batch's state deltas.

    Per-batch work is proportional to the BATCH, not the accumulated
    state ("aggregate before you shuffle"). Re-deriving everything
    per batch from the edge state — a 2m-row degree aggregate (hub
    check), a 2m-row collect_list (full adjacency), and a full-state
    union — would cost 33.7 s executor CPU of the worst sf0.1 batch's
    46 s. Instead degrees and adjacency live as per-batch DELTA
    partitions: the batch aggregates only its own 2·|B_new|
    symmetrized rows, total degrees and full adjacency come from
    merging the tiny pre-aggregated deltas (O(n) rows, flatten of
    duplicate-free arrays), and the edge state is only SCANNED once
    for the membership anti-join (broadcast probe of the batch — no
    shuffle of the state; see MAX_BROADCAST_BATCH_EDGES)."""
    spark = batch.sparkSession
    deg_dir = os.path.join(os.path.dirname(state_dir), "deg_state")
    adj_dir = os.path.join(os.path.dirname(state_dir), "adj_state")

    new_raw = materialize(canonical_edges(batch))
    n_new = new_raw.count()  # sizes the probe
    state = _read_batches(spark, state_dir, "u long, v long",
                          exclude_key=batch_key)
    if 0 < n_new <= MAX_BROADCAST_BATCH_EDGES:
        # Membership probe without shuffling the state: the state
        # streams once past a broadcast hash of the batch (LeftSemi
        # builds on the broadcast side), and the already-seen subset
        # (≤ |batch| rows) broadcasts back into the anti-join.
        seen = state.join(F.broadcast(new_raw), ["u", "v"], "left_semi")
        new = new_raw.join(F.broadcast(seen), ["u", "v"], "left_anti")
    else:
        new = new_raw.join(state, ["u", "v"], "left_anti")
    new = materialize(new, eager=False)

    sym_new = new.select(
        F.explode(F.array(
            F.struct(F.col("u").alias("a"), F.col("v").alias("w")),
            F.struct(F.col("v").alias("a"), F.col("u").alias("w")),
        )).alias("e")).select("e.a", "e.w")
    # This batch's exact degree delta, consumed by the hub check here,
    # the adjacency-delta hub exclusion, and its own state write below.
    degd = materialize(sym_new.groupBy("a").agg(F.count(F.lit(1)).alias("d")),
                       eager=False)
    deg_prior = _read_batches(spark, deg_dir, "a long, d long",
                              exclude_key=batch_key)
    # Hub nodes by TOTAL degree (sum of deltas — exact; a node's
    # hub-ness is monotone, it can only ever grow into the cap).
    # Normally EMPTY; tiny by construction (≤ 2m / cap rows) and
    # consumed by several anti-joins, so materialized once.
    hubs = materialize(deg_prior.unionByName(degd)
                       .groupBy("a").agg(F.sum("d").alias("d"))
                       .where(F.col("d") > MAX_INTERSECT_DEGREE)
                       .select("a"))
    any_hubs = hubs.count() > 0

    # Adjacency DELTA for this batch: each non-hub node's new
    # neighbors. Hub rows (total degree over the cap — which covers
    # any node whose IN-BATCH degree alone exceeds it) are excluded
    # BEFORE the collect_list, so no giant agg buffer ever exists;
    # their edges take the row-expansion fallback below.
    adj_src = sym_new
    if any_hubs:
        adj_src = sym_new.join(F.broadcast(hubs), "a", "left_anti")
    adjd = materialize(adj_src.groupBy("a")
                       .agg(F.collect_list("w").alias("nbrs")), eager=False)
    adj_prior = _read_batches(spark, adj_dir, "a long, nbrs array<long>",
                              exclude_key=batch_key)
    adj_all = adj_prior.unionByName(adjd)
    if any_hubs:
        # Drop deltas written before a node grew into the cap.
        adj_all = adj_all.join(F.broadcast(hubs), "a", "left_anti")
    # Full adjacency of E' for non-hub nodes: flatten-merge of the
    # duplicate-free delta arrays — O(n) rows instead of a 2m-row
    # collect_list per batch; per-group buffers stay
    # ≤ MAX_INTERSECT_DEGREE elements (hubs excluded). Materialized
    # eagerly per batch: the fast path consumes the arrays under TWO
    # differently-projected joins (u side, v side), and with both
    # broadcasts hanging off the same LogicalRDD leaf the second
    # becomes a ReusedExchange (a persist stops the aggregate building
    # twice, 109 → 68 s executor CPU, but still builds two broadcasts).
    adj = materialize(adj_all.groupBy("a")
                      .agg(F.flatten(F.collect_list("nbrs")).alias("nbrs")))
    # Fast path: both endpoints sub-cap — one array intersection per
    # new edge, no candidate rows. w ≠ u/v holds by construction (the
    # canonical edge set has no self-loops, so u ∉ N(u)).
    fast_new = new
    if any_hubs:
        fast_new = (new.join(hubs.withColumnRenamed("a", "u").hint(
                        "broadcast"), "u", "left_anti")
                    .join(hubs.withColumnRenamed("a", "v").hint(
                        "broadcast"), "v", "left_anti"))
    fast = (
        fast_new.join(adj.select(F.col("a").alias("u"),
                                 F.col("nbrs").alias("n_u")), "u")
        .join(adj.select(F.col("a").alias("v"),
                         F.col("nbrs").alias("n_v")), "v")
        .select(F.col("u").alias("a"), F.col("v").alias("b"),
                F.explode(F.array_intersect("n_u", "n_v")).alias("w"))
    )
    tris = fast
    if any_hubs:
        # Fallback for hub-touching edges: the row-expansion closure
        # (candidates from u's adjacency rows, existence-checked
        # against the edge set with LEFT SEMI — unique rows, so
        # semi ≡ inner), which AQE can skew-split. Only this rare
        # branch materializes the full-state union, because the
        # closure consumes sym twice.
        all_edges = materialize(state.unionByName(new), eager=False)
        sym = all_edges.select(
            F.explode(F.array(
                F.struct(F.col("u").alias("a"), F.col("v").alias("w")),
                F.struct(F.col("v").alias("a"), F.col("u").alias("w")),
            )).alias("e")).select("e.a", "e.w")
        hub_new = new.exceptAll(fast_new) \
            .select(F.col("u").alias("a"), F.col("v").alias("b"))
        slow = (
            hub_new.join(sym.withColumnRenamed("w", "w2"), "a")
            .withColumnRenamed("w2", "w")
            .join(sym.select(F.col("a").alias("b"), "w"), ["b", "w"],
                  "left_semi")
            .where((F.col("w") != F.col("a")) & (F.col("w") != F.col("b")))
        )
        tris = fast.unionByName(slow)
    abc = F.array_sort(F.array("a", "b", "w"))
    tris = tris.select(
        abc.getItem(0).alias("ta"),
        abc.getItem(1).alias("tb"),
        abc.getItem(2).alias("tc"),
    ).distinct()

    # Idempotent per-batch commits: overwrite THIS batch's partitions
    # only. A replay recomputes identical content (the reads above
    # excluded this partition) and overwrites in place — no appends,
    # no duplicates. Edge delta LAST: its existence must imply the
    # deg/adj deltas exist (module docstring).
    tris.write.mode("overwrite").parquet(
        os.path.join(out_dir, f"batch_key={batch_key}"))
    degd.write.mode("overwrite").parquet(
        os.path.join(deg_dir, f"batch_key={batch_key}"))
    adjd.write.mode("overwrite").parquet(
        os.path.join(adj_dir, f"batch_key={batch_key}"))
    new.write.mode("overwrite").parquet(
        os.path.join(state_dir, f"batch_key={batch_key}"))


def streaming_triangles(spark: SparkSession, edges_dir: str,
                        work_dir: str) -> DataFrame:
    """Run the incremental pipeline over parquet edge files arriving
    one file per micro-batch; returns the accumulated triangle set.

    ``batch_key`` carries the run ordinal too (``r{run}b{batch_id}``):
    batch ids restart at 0 under a fresh checkpoint, so a later call
    over the same ``work_dir`` must not treat an earlier run's batch 0
    as its own in-flight partition (the exclusion would un-see those
    edges). Replays WITHIN one call (task retry / checkpoint resume in
    the same query) keep their run ordinal and self-exclude —
    idempotent overwrite. A whole NEW call (or a restarted process,
    where the counter need not align with the crashed one's) gets a
    fresh checkpoint and run key, reprocesses the source, and the
    anti-join against the accumulated state suppresses everything
    already seen: its partitions come out empty and the triangle set
    is unchanged — correct, just not incremental for that pass."""
    state_dir = os.path.join(work_dir, "edge_state")
    out_dir = os.path.join(work_dir, "triangles_out")
    run = next(_COUNTER)

    stream = (
        spark.readStream.schema(_EDGE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(edges_dir)
    )
    q = (
        stream.writeStream
        .foreachBatch(lambda b, bid: _process_batch(
            b, f"r{run}b{bid}", state_dir, out_dir))
        .option("checkpointLocation", os.path.join(work_dir, f"ckpt_{run}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # The per-batch commits are duplicate-free within one run: each
    # partition is internally distinct, and a triangle is completed
    # exactly once (its last edge enters state in exactly one batch,
    # and the anti-join bars re-entry). Duplicates need a second run
    # ordinal somewhere under work_dir: a crashed run's half-committed
    # triangles, or its orphaned deg/adj partitions, whose adjacency
    # lets the rerun complete a triangle before it re-admits the
    # orphan's edges and again after. So the final distinct (a no-op
    # within one run, and 17 s of the registered query's 88 s executor
    # CPU when it was unconditional) runs exactly when the triangle
    # rows or any state table show more than one run ordinal. The
    # probe reads only the Hive partition values, one row per
    # partition with rows.
    try:
        keyed = spark.read.schema(
            "ta long, tb long, tc long, batch_key string").parquet(out_dir)
    except AnalysisException as ex:
        if not _is_missing_path(ex):
            raise
        return spark.createDataFrame([], "a long, b long, c long")
    keys = keyed.select("batch_key")
    for d in ("edge_state", "deg_state", "adj_state"):
        try:
            keys = keys.unionByName(spark.read.schema("batch_key string")
                                    .parquet(os.path.join(work_dir, d)))
        except AnalysisException as ex:
            if not _is_missing_path(ex):
                raise
    runs = {r.batch_key.split("b", 1)[0]
            for r in keys.distinct().collect()}
    out = keyed.select(F.col("ta").alias("a"), F.col("tb").alias("b"),
                       F.col("tc").alias("c"))
    if len(runs) > 1:
        out = out.distinct()
    return out
