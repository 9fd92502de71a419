"""Triangle-enumeration pipeline — the reference's complete capability
surface, re-expressed as Catalyst plans.

Reference dataflow (SURVEY §exec summary; mapreducePredictionTwitter100.java):
``textFile → flatMapToPair(parse+symmetrize) → groupByKey →
flatMapToPair(candidate pairs + sentinel-0 edge markers) → groupByKey →
flatMap(close triangles) → distinct → collect``.

Here the hand-rolled tagged-groupByKey join (T100:52-153) becomes real
joins; the sentinel value 0 and its "no node ID 0" data-model
constraint (T100:58) disappear entirely. Two semantic modes (SURVEY
finding 3):

- ``simple`` (default): drop self-loops, dedup edges → the standard
  triangle set of the simple graph. Equals the reference's output on
  clean input (verified on every self-loop-free bundled dataset).
- ``faithful``: reproduces the reference's degenerate output on dirty
  input (self-loops ⇒ triangles like (1,1,2)) — derived analytically
  from edge multiplicities rather than by simulating multiset
  adjacency lists, so it is still all joins and still scales.

Scale notes (SURVEY §4, §7 hard parts):

- The primary plan is **degree-oriented**: each edge is oriented from
  its lower-(degree, id) endpoint, so every triangle is counted from
  its lowest-degree corner. This bounds per-node candidate fan-out by
  O(m^0.5) instead of O(max_degree) — the standard literature
  optimization the reference lacks — and is what survives heavy-tailed
  degree distributions. The closure is a per-edge intersection of
  out-adjacency arrays, so no open-triad rows are ever materialized
  (see :func:`_edge_common_closers`).
- Edge dedup happens BEFORE the candidate stage (the reference
  dedups only at the very end, after a quadratic candidate explosion:
  4,055,477 raw emissions for 587,314 distinct on 100k.txt).
- A triangle query materializes exactly two tables, both eagerly
  through :func:`~mapreduce_experiment_spark.session.materialize`:
  the deduped edge set and the oriented out-adjacency arrays.
- No ``collect()`` on the triangle path; adjacency lists exist only
  as a parity demo (:func:`adjacency`), never on it.
- AQE skew-join handles residual hot keys (session.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..session import materialize


# --- §2 row 3: edge symmetrization ---------------------------------------
def symmetrize(edges: DataFrame) -> DataFrame:
    """Emit both orientations of every edge (T100:29-39).

    One narrow in-row explode — no shuffle, and ONE scan of the input.
    A union of two projections would evaluate an uncached upstream
    subtree twice: for the registered queries over derive_edges, the
    per-order pair expansion and its dedup shuffle (adjacency's
    executor CPU is about half with the explode). The row multiset is
    the same as the UNION ALL's.
    """
    return edges.select(
        F.explode(F.array(
            F.struct(F.col("src"), F.col("dst")),
            F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
        )).alias("e")
    ).select("e.src", "e.dst")


# --- derived: simple-graph normalization (SURVEY finding 3) ---------------
def canonical_edges(edges: DataFrame,
                    assume_canonical: bool = False) -> DataFrame:
    """Undirected edges as canonical ``u < v`` pairs, deduped, no self-loops.

    One shuffle (the distinct); every downstream join reuses it.
    ``assume_canonical=True`` skips the normalize+distinct when the
    caller guarantees the input already IS the canonical simple edge
    set (e.g. ``derive_edges`` emits distinct ``src < dst`` pairs) —
    at 100 TB that saves a full shuffle of the edge set.
    """
    if assume_canonical:
        return edges.select(F.col("src").alias("u"),
                            F.col("dst").alias("v"))
    return (
        edges.where(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("u"),
                F.greatest("src", "dst").alias("v"))
        .distinct()
    )


def edge_multiplicity(edges: DataFrame) -> DataFrame:
    """Unordered-pair multiplicities, self-loops included:
    ``(u, v, mult)`` with ``u <= v``. The faithful triangle path uses
    the decomposition documented in :func:`triangles`; this feeds the
    test-side literal multiset-adjacency replay that proves the
    decomposition lossless
    (test_faithful_decomposition_matches_multadj_replay)."""
    return (
        edges.select(F.least("src", "dst").alias("u"),
                     F.greatest("src", "dst").alias("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("mult"))
    )


# --- §2 row 4-5: adjacency lists (parity demo only) ------------------------
def adjacency(edges: DataFrame) -> DataFrame:
    """Sorted adjacency list per node (T100:42 + in-task sort T100:68-74).

    The reference materializes this with groupByKey (full value
    shuffle, no combiner) and then ``collect()``s it to the driver
    (T100:45). Here it is a hash aggregate; it exists for parity and
    debugging — the triangle path never builds it (collect_list does
    not scale on heavy-tailed graphs; SURVEY §7 hard part b).
    """
    return (
        symmetrize(edges)
        .groupBy(F.col("src").alias("node"))
        .agg(F.array_sort(F.collect_list("dst")).alias("neighbors"))
    )


def degrees_from_canonical(ce: DataFrame) -> DataFrame:
    # In-row explode, not union-of-projections: one scan of ce, which
    # is not always materialized (the registered degrees and
    # candidate_pairs queries reach here with the full derive+dedup
    # pipeline upstream, which the union form would run twice).
    return (
        ce.select(F.explode(F.array(F.col("u"), F.col("v"))).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def degrees(edges: DataFrame) -> DataFrame:
    """Simple-graph degree per node."""
    return degrees_from_canonical(canonical_edges(edges))


# --- §2 row 6: candidate pair generation (open triads) ---------------------
def candidate_pair_counts(edges: DataFrame) -> DataFrame:
    """Open-triad count per center node: C(degree, 2) on the simple graph.

    The reference materializes every candidate pair and collects them
    to the driver (T100:76-90, 17.9M pairs on 100k.txt). The count is
    the scalable summary: a degree aggregate and a scalar expression,
    no quadratic blowup.
    """
    # Integer DIV, not float `/ 2` + cast: d(d-1) is always even, but
    # above d ≈ 9.4e7 a double round-trip loses low bits — the same
    # int64-exactness discipline as the packing operators. The oracle
    # uses `// 2` too: DuckDB's float `/` ROUNDS on the BIGINT cast
    # where Spark truncates, so float forms would also disagree
    # cross-engine in the lossy range.
    return degrees(edges).select(
        "node",
        F.expr("degree * (degree - 1) div 2").alias("n_candidate_pairs"),
    )


# --- §2 rows 6-9: triangle enumeration --------------------------------------
def closure_partitions(spark: SparkSession) -> int:
    """Partition count of the closure's explicit exchange on the
    oriented low endpoint: 2x the cluster's cores, so every core stays
    busy through stragglers and the count scales with the cluster."""
    return 2 * spark.sparkContext.defaultParallelism


def _edge_common_closers(ce: DataFrame) -> DataFrame:
    """Each oriented edge with the ARRAY of out-neighbors common to its
    two endpoints: (w, x, common) where w→x is a degree-oriented edge
    and ``common`` = N+(w) ∩ N+(x). In the orientation DAG every
    triangle has a unique source corner w (out-degree 2 within the
    triangle: w→x, w→y, plus the closing x→y), so each triangle
    appears exactly once — as y ∈ common on its (w, x) edge. Shared by
    the enumeration (explodes ``common``), the count (sums sizes — no
    explode), and faithful mode via the simple path. ``ce`` is the
    canonical ``(u, v)`` edge set, already materialized by the caller:
    it feeds both the degrees and the orientation, so the upstream
    scan and dedup run once.

    NOTE: oriented edges whose head ``x`` has no out-neighbors in the
    orientation are OMITTED (the inner join on x drops them) — their
    intersection is necessarily empty, so both current consumers are
    unaffected, but a consumer expecting one row per oriented edge
    must outer-join.

    The intersection does the element-level work of the classic
    2-path closure inside one edge-count-sized join: no triad rows
    exist, and the only payload crossing an exchange is the adjacency
    arrays (Σ|N+| = m elements). Orientation bounds every array by
    O(√m), so per-row memory is small and a hot ``x`` join key carries
    small arrays."""
    # The out-adjacency arrays are the closure's only other
    # materialized table: they feed both sides of the join below, and
    # e1 is derived from them by an in-row explode. The groupBy reuses
    # the repartition's hash(lo) layout (no extra exchange), and the
    # checkpoint keeps its physical partitions, so the compute-bound
    # intersection stage runs closure_partitions() tasks.
    adj = materialize(_out_adjacency(
        _oriented_repartitioned(ce, closure_partitions(ce.sparkSession))))
    e1 = adj.select(F.col("lo").alias("w"), F.explode("nbrs").alias("x"),
                    F.col("nbrs").alias("n_lo"))
    e2 = e1.join(adj.select(F.col("lo").alias("x"),
                            F.col("nbrs").alias("n_hi")), "x")
    return e2.select(
        "w", "x", F.array_intersect("n_lo", "n_hi").alias("common"))


def _oriented_repartitioned(ce: DataFrame, nparts: int) -> DataFrame:
    """The oriented edge set, explicitly REPARTITION_BY_NUM on its low
    endpoint. Without an explicit count AQE coalesces this exchange by
    shuffle bytes, but the stage it feeds does work proportional to
    Σ(|N+(w)|+|N+(x)|) per edge — far more compute per shuffled byte
    than byte-based coalescing assumes — and would run near-serial.
    Orientation bounds per-key fan-out by O(√m), so hashing on lo
    cannot itself create a hot partition. Factored so the plan pins in
    test_plans can inspect the subplan before the checkpoint truncates
    it."""
    return _oriented(ce).repartition(nparts, F.col("lo"))


def _out_adjacency(o: DataFrame) -> DataFrame:
    """Out-neighbor arrays per oriented low endpoint (bounded O(√m)
    by the degree orientation) — the closure's only join input,
    factored for the same plan-pin reason as
    :func:`_oriented_repartitioned`."""
    return o.groupBy("lo").agg(F.collect_list("hi").alias("nbrs"))


def _simple_triangle_corners(ce: DataFrame) -> DataFrame:
    """Each triangle of the materialized canonical edge set ``ce``
    exactly once, as canonical ``(a, b, c)``, ``a < b < c``: the
    (w, x, y) corners of :func:`_edge_common_closers` (w the source
    corner, x its out-neighbor on this edge, y the closing common
    out-neighbor; x < y is not guaranteed) sorted. Shared by the
    simple enumeration and faithful mode."""
    tri = _edge_common_closers(ce).select(
        "w", "x", F.explode("common").alias("y"))
    abc = F.array_sort(F.array("w", "x", "y"))
    return tri.select(
        abc.getItem(0).alias("a"),
        abc.getItem(1).alias("b"),
        abc.getItem(2).alias("c"),
    )


def _oriented(ce: DataFrame) -> DataFrame:
    """Orient each simple edge from its lower-(degree, id) endpoint.

    Degree-ordered orientation: out-degree in the oriented graph is
    O(sqrt(m)) even for hubs, so the per-edge adjacency intersection
    cannot explode on heavy-tailed inputs. The reference pairs
    neighbors of EVERY node including hubs (T100:76-83) — O(d_max²).
    """
    deg = degrees_from_canonical(ce)
    du = deg.select(F.col("node").alias("u"), F.col("degree").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("degree").alias("deg_v"))
    return (
        ce.join(du, "u").join(dv, "v")
        .select(
            F.when(
                (F.col("deg_u") < F.col("deg_v"))
                | ((F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("lo"), F.col("v").alias("hi")),
            ).otherwise(
                F.struct(F.col("v").alias("lo"), F.col("u").alias("hi"))
            ).alias("e")
        )
        .select("e.lo", "e.hi")
    )


def triangles(edges: DataFrame, mode: str = "simple",
              assume_canonical: bool = False) -> DataFrame:
    """Enumerate triangles as canonical ``(a, b, c)``, ``a <= b <= c``.

    ``simple``: per-edge adjacency intersection on the degree-oriented
    edge set (:func:`_edge_common_closers`) — the idiomatic
    replacement for the reference's candidate-generation +
    sentinel-marker + groupByKey closure (T100:52-153). Each triangle
    is produced exactly once, so the reference's final ``distinct()``
    over 4M raw emissions (T100:164) is unnecessary.

    ``faithful``: reproduces the reference's degenerate self-loop
    semantics (SURVEY finding 3) — sorted(x, y, w) is a triangle iff
    {x,y} is an input edge and w's multiset adjacency contains x and y
    at distinct positions — via the exact class decomposition below.
    On self-loop-free input the two modes agree (verified against the
    survey's golden counts).
    """
    if mode == "simple":
        return _simple_triangle_corners(
            materialize(canonical_edges(edges, assume_canonical)))
    if mode == "faithful":
        # The reference's condition factors EXACTLY into three
        # disjoint classes by the output triple's node-multiset
        # pattern (distinct triples; S = the simple support graph,
        # L = self-loop nodes), so faithful mode stays all joins over
        # the oriented simple path instead of replaying multiset
        # adjacency lists (O(Σ d(x)·mult) candidate rows):
        #
        # - 3 distinct nodes (x<y, w∉{x,y}): {x,y},{w,x},{w,y} ∈ S —
        #   precisely the simple-mode triangles of the support graph,
        #   so the degree-oriented plan applies.
        # - exactly two equal (sorted (ℓ,ℓ,z)): requires madj(ℓ,ℓ)≥1
        #   ⇒ ℓ ∈ L, plus the edge {ℓ,z} ∈ S. (The x==y branch with
        #   w≠x needs madj(w,x) ≥ 2 — a multi-edge — but a multi-edge
        #   is in S and that branch's x is in L, so it is a SUBSET of
        #   this class: multiplicities beyond existence never add
        #   triples.)
        # - all equal ((ℓ,ℓ,ℓ)): madj(ℓ,ℓ) = 2·mult ≥ 2 ⇔ ℓ ∈ L.
        #
        # The classes cannot overlap (different node-multiset
        # patterns) and each is produced exactly once below, so the
        # union IS the distinct set — no final distinct() needed.
        # Equivalence to the literal multiset-adjacency replay is
        # pinned by test_faithful_decomposition_matches_multadj_replay
        # and by the dirty-graph goldens in test_graph. On clean input
        # L = ∅ and this costs exactly the simple path.
        #
        # The input is scanned once: one materialized distinct of the
        # unordered pairs, self-loops kept, splits into S (u != v) and
        # L (u == v). Both are already distinct, and S goes to the
        # simple path as is, without a materialization of its own.
        # least/greatest skip nulls, so a row with one null endpoint
        # is dropped first rather than read as a self-loop.
        pairs = materialize(
            edges.where(F.col("src").isNotNull() & F.col("dst").isNotNull())
            .select(F.least("src", "dst").alias("u"),
                    F.greatest("src", "dst").alias("v"))
            .distinct()
        )
        ce = pairs.where(F.col("u") != F.col("v"))
        loops = pairs.where(F.col("u") == F.col("v")).select(
            F.col("u").alias("l"))
        simple_tris = _simple_triangle_corners(ce)
        # u < v in ce, so each class-B triple is emitted pre-sorted.
        bl = ce.join(loops, F.col("u") == F.col("l")).select(
            F.col("u").alias("a"), F.col("u").alias("b"),
            F.col("v").alias("c"))
        br = ce.join(loops, F.col("v") == F.col("l")).select(
            F.col("u").alias("a"), F.col("v").alias("b"),
            F.col("v").alias("c"))
        dd = loops.select(F.col("l").alias("a"), F.col("l").alias("b"),
                          F.col("l").alias("c"))
        return simple_tris.unionByName(bl).unionByName(br).unionByName(dd)
    raise ValueError(f"unknown mode: {mode!r} (use 'simple' or 'faithful')")


def triangle_count(edges: DataFrame, mode: str = "simple",
                   assume_canonical: bool = False) -> DataFrame:
    """Total triangle count (§2 derived operator; the published metric).

    The simple-mode count never materializes per-triangle rows at all:
    each oriented edge contributes |N+(w) ∩ N+(x)| — summing the
    intersection sizes counts every triangle exactly once without the
    explode or the canonical (a,b,c) sort projection. coalesce(0) makes
    an edgeless input count 0 (a sum over zero rows is NULL).
    """
    if mode == "simple":
        ce = materialize(canonical_edges(edges, assume_canonical))
        return _edge_common_closers(ce).agg(
            F.coalesce(F.sum(F.size("common")), F.lit(0))
            .cast("long").alias("n_triangles"))
    return triangles(edges, mode=mode).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


PAGERANK_SCALE = 1_000_000_000_000  # ranks as integer micro-units


def pagerank(edges: DataFrame, n_iter: int = 10,
             assume_canonical: bool = False) -> DataFrame:
    """PageRank over the undirected (symmetrized) graph, computed in
    EXACT integer fixed-point arithmetic.

    Ranks live in units of 1e-12 (int64); per-edge contributions are
    integer division by out-degree and damping is the rational 85/100
    — every operation is integer, so the iteration is bit-identical
    across engines (float PageRank cannot be value-compared: the
    neighbor sum's order drifts). Fixed ``n_iter`` rounds; each round
    is one shuffle (contrib aggregation), and materializing the ranks
    truncates the join lineage.

    Returns (node, rank_micro) with rank_micro/1e12 ≈ probability.
    """
    ce = materialize(canonical_edges(edges, assume_canonical))
    sym = symmetrize(ce.toDF("src", "dst")).toDF("a", "b")
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("outdeg"))
    edges_deg = materialize(sym.join(deg, "a"), eager=False)
    nodes = materialize(sym.select(F.col("a").alias("node")).distinct())
    n = nodes.count()
    if n == 0:
        # An edgeless graph has no rank mass to distribute: return the
        # empty result every other operator gives on empty input, not
        # a ZeroDivisionError from PAGERANK_SCALE // n.
        return nodes.sparkSession.createDataFrame(
            [], "node long, rank_micro long")
    r0 = PAGERANK_SCALE // n
    base = (15 * r0) // 100

    ranks = nodes.select("node", F.lit(r0).alias("rank_micro"))
    for _ in range(n_iter):
        sums = (
            edges_deg.join(ranks, edges_deg.a == ranks.node)
            .select(F.col("b"),
                    F.expr("rank_micro div outdeg").alias("contrib"))
            .groupBy(F.col("b").alias("node"))
            .agg(F.sum("contrib").alias("sm"))
        )
        ranks = materialize(
            nodes.join(sums, "node", "left")
            .select(
                "node",
                (F.lit(base)
                 + F.expr("85 * coalesce(sm, 0L) div 100")).alias("rank_micro"),
            )
        )
    return ranks


def _fits_on_driver(df: DataFrame) -> bool:
    """Whether a persisted, materialized table is no larger than the
    session's broadcast-join threshold: the size Spark already ships
    to the driver whenever it plans a broadcast join. The size is the
    cached table's measured bytes; a negative threshold means never."""
    threshold = df.sparkSession._jsparkSession.sessionState().conf() \
        .autoBroadcastJoinThreshold()
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return 0 <= threshold and size <= threshold


def _min_labels(u, v):
    """Exact connected components of the edge arrays ``u``, ``v`` in
    vectorized numpy: ``(nodes, component)`` with component = the
    minimum node id of each node's component.

    Nodes are replaced by their index into the sorted unique ids, so
    the minimum index of a component is its minimum id. ``parent``
    only ever points at a smaller index of the same component. Each
    round hooks the larger root of every edge whose endpoints have
    different roots onto the smaller one, then pointer-jumps until
    every node points at its root; it stops when no edge spans two
    roots, which leaves one root per component, its minimum."""
    nodes, idx = np.unique(np.concatenate([u, v]), return_inverse=True)
    a, b = idx[:len(u)], idx[len(u):]
    parent = np.arange(len(nodes))
    while True:
        ra, rb = parent[a], parent[b]
        spans = ra != rb
        if not spans.any():
            return nodes, nodes[parent]
        lo = np.minimum(ra[spans], rb[spans])
        np.minimum.at(parent, ra[spans], lo)
        np.minimum.at(parent, rb[spans], lo)
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped


# Round budget of connected_components' distributed loop.
CC_MAX_ITER = 50


def connected_components(edges: DataFrame,
                         assume_canonical: bool = False) -> DataFrame:
    """Connected components: (node, component) with component = min
    node id in the component.

    The canonical edge set is persisted and counted first, and its
    measured size picks one of two exact paths (a checkpoint would
    carry only the optimizer's size estimate, so this is the one
    intermediate that is persisted rather than materialized):

    - At most ``spark.sql.autoBroadcastJoinThreshold`` bytes (and the
      threshold not negative): the edges are collected to the driver
      and labeled by :func:`_min_labels` in numpy. This skips every
      fixpoint round and its jobs, which dominate on the small
      near-duplicate graphs the dedup queries build.
    - Larger: min-label propagation to fixpoint in Spark. Each round
      every node adopts the minimum label in its closed neighborhood;
      stop when no label changes. Materializing the labels truncates
      the lineage each round so plans don't grow unboundedly — the
      standard Spark idiom for iterative graph algorithms (GraphX
      does the same internally). Rounds needed = graph diameter ≤
      ``CC_MAX_ITER``; past that it warns and returns the labels so far.
    """
    ce = canonical_edges(edges, assume_canonical).persist()
    ce.count()
    if _fits_on_driver(ce):
        pdf = ce.toPandas()
        ce.unpersist()
        nodes, comp = _min_labels(pdf["u"].to_numpy(), pdf["v"].to_numpy())
        t = ce.schema["u"].dataType
        return ce.sparkSession.createDataFrame(
            pd.DataFrame({"node": nodes, "component": comp}),
            StructType([StructField("node", t), StructField("component", t)]))
    # Directed both ways once; reused every iteration. Both tables are
    # lazy: round 1 materializes them along with its own labels.
    sym = materialize(symmetrize(ce.toDF("src", "dst")).toDF("a", "b"),
                      eager=False)
    labels = materialize(
        ce.select(F.explode(F.array(F.col("u"), F.col("v"))).alias("node"))
        .distinct()
        .select("node", F.col("node").alias("component")),
        eager=False,
    )
    converged = False
    for _ in range(CC_MAX_ITER):
        nbr_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("component").alias("nbr_component"))
        )
        # The convergence flag rides INSIDE the propagation result, so
        # detecting a fixpoint costs one scan of the just-materialized
        # blocks — not a second join-shuffle per round (the old labels
        # never need re-reading). The lazy materialize runs the round's
        # shuffle-map stages; the count runs its final stage, which
        # writes the blocks as a side effect, plus a one-row aggregate.
        new_labels = materialize(
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_component"), F.col("component")),
                ).alias("component"),
                (F.col("nbr_component") < F.col("component"))
                .alias("changed"),
            ),
            eager=False,
        )
        changed = new_labels.where(F.col("changed")).count()
        labels = new_labels.select("node", "component")
        if changed == 0:
            converged = True
            break
    ce.unpersist()
    if not converged:
        import warnings
        warnings.warn(
            f"connected_components: {CC_MAX_ITER} rounds reached before "
            "fixpoint — labels may be unconverged (graph diameter "
            "exceeds the iteration budget)", RuntimeWarning)
    return labels
