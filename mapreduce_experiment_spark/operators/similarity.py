"""Embedding similarity search.

Two paths, same output contract (query_id, neighbor_id, rank, cos):

- **Brute force**: queries × corpus with a per-query top-k window.
  Exact; the right plan when the query set is small (broadcast) even
  at a 100 TB corpus — the corpus is scanned once, map-side, and only
  k rows per query survive per partition before the final merge.
- **IVF** (inverted file): corpus vectors are pre-assigned to their
  nearest centroid (one narrow pass + a broadcast of centroids);
  queries probe the ``N_PROBE`` nearest centroids and search only
  those buckets. Sub-linear scan at scale; deterministic here
  (centroids are fixed seed vectors) so it is value-testable against
  a mirrored SQL oracle.

Everything is built from joins + higher-order functions; ranking uses
quantized cosine (6dp) with id tie-breaks for cross-engine stability.
"""

from __future__ import annotations

import functools as _functools

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import as_double, dot, q6
from ..session import materialize

N_CENTROIDS = 16
N_PROBE = 4

# SRP-LSH parameters: SRP_BANDS bands of SRP_ROWS sign bits each.
# Collision prob per bit for angle θ is 1-θ/π, so a TRUE duplicate
# pair (cos≥0.9, θ≤26°) collides in ≥1 band with p ≈ 1-(1-0.855^6)^12
# ≈ 0.999; borderline pairs (cos≈0.5) are caught with p ≈ 0.67 —
# the standard LSH recall/candidate-volume trade.
SRP_BANDS = 12
SRP_ROWS = 6
EMBED_DIM = 64  # testdata embeddings.parquet vector width


@_functools.cache
def _srp_planes_cached() -> tuple[tuple[float, ...], ...]:
    import hashlib

    return tuple(
        tuple(1.0 if hashlib.md5(
            f"srp-{p}-{i}".encode()).digest()[0] % 2 == 0
            else -1.0 for i in range(EMBED_DIM))
        for p in range(SRP_BANDS * SRP_ROWS)
    )


def srp_planes() -> list[list[float]]:
    """Deterministic Rademacher (±1) hyperplanes for sign-random-
    projection hashing, ``SRP_BANDS * SRP_ROWS`` of them. Components
    come from md5 of the (plane, index) pair — no RNG state, so the
    SAME planes are embeddable as literals in both the Spark plan and
    the DuckDB oracle SQL.

    The md5 work (thousands of digests) is memoized once per process —
    this is called on every index write, probe-time config
    validation, and oracle build. The cache holds immutable tuples;
    the fresh outer lists returned here keep callers free to mutate."""
    return [list(p) for p in _srp_planes_cached()]


def srp_signatures(embeddings: DataFrame) -> DataFrame:
    """(vec_id, band_id, band_val) sign-projection signatures.

    Each of ``SRP_BANDS`` band values packs ``SRP_ROWS`` sign bits of
    q6-quantized plane dot products (quantized so a last-ulp summation
    difference between engines cannot flip a sign at the boundary).
    Executed as ONE numpy matmul per Arrow batch (`mapInPandas`) — 72
    dot products × 64 dims per row as JVM fold expressions bloats the
    Catalyst tree and runs interpreted; the BLAS path is both the fast
    and the scale shape (narrow input, map-side only, no shuffle).
    """
    import numpy as np
    import pandas as pd

    bands, rows = SRP_BANDS, SRP_ROWS
    p_mat = np.array(srp_planes(), dtype=np.float64)             # (P, dim)
    weights = (1 << np.arange(rows, dtype=np.int64))

    def sig(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            ids = pdf["vec_id"].to_numpy()
            mat = np.array(list(pdf["vec"]), dtype=np.float64)  # (n, dim)
            d = mat @ p_mat.T                                    # (n, P)
            bits = (np.floor(d * 1_000_000 + 0.5) >= 0).astype(np.int64)
            bv = bits.reshape(n, bands, rows) @ weights          # (n, bands)
            yield pd.DataFrame({
                "vec_id": np.repeat(ids, bands),
                "band_id": np.tile(np.arange(bands, dtype=np.int64), n),
                "band_val": bv.ravel(),
            })

    v = _prep(embeddings).select("vec_id", "vec")
    return v.mapInPandas(sig, schema="vec_id long, band_id long, band_val long")


def _self_join_cands(sigs: DataFrame) -> DataFrame:
    """Distinct canonical candidate pairs from a signature self-join
    on (band_id, band_val) — shared by the recompute path and the
    persisted-index path, so a candidate-generation change can never
    apply to one and not the other."""
    a = sigs.select(F.col("vec_id").alias("id_a"), "band_id", "band_val")
    b = sigs.select(F.col("vec_id").alias("id_b"), "band_id", "band_val")
    return (
        a.join(b, ["band_id", "band_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def _verify_pairs(cands: DataFrame, embeddings: DataFrame,
                  threshold: float) -> DataFrame:
    """Exact-cosine verify of canonical (id_a, id_b) candidates against
    ``embeddings`` — the threshold join shared by every LSH near-dup
    path, so the zero-norm guard in _cos lands everywhere by
    construction."""
    v = _prep(embeddings)
    va = v.select(F.col("vec_id").alias("id_a"), F.col("vec").alias("va"),
                  F.col("norm").alias("na"))
    vb = v.select(F.col("vec_id").alias("id_b"), F.col("vec").alias("vb"),
                  F.col("norm").alias("nb"))
    return (
        cands.join(va, "id_a").join(vb, "id_b")
        .select("id_a", "id_b",
                _cos(F.col("va"), F.col("vb"), F.col("na"), F.col("nb"))
                .alias("cos"))
        .where(F.col("cos") >= threshold)
    )


def embedding_near_dup_pairs_lsh(embeddings: DataFrame,
                                 threshold: float = 0.45) -> DataFrame:
    """Bucketed embedding near-duplicates: SRP-LSH candidates + exact
    cosine verify. Replaces the all-pairs crossJoin (quadratic) with
    the 100 TB-shaped plan: signatures are one narrow map-side pass,
    candidates come from an equi-join on (band_id, band_val) —
    same-bucket vectors only — then the exact cosine runs on the
    (distinct) candidate set, never on the full N².
    """
    return _verify_pairs(_self_join_cands(srp_signatures(embeddings)),
                         embeddings, threshold)


def _prep(embeddings: DataFrame) -> DataFrame:
    """Vectors as doubles with the norm precomputed ONCE per vector —
    the per-pair cosine is then a single dot product, not three
    (norms recomputed per pair would triple the dominant cost)."""
    vec = as_double(F.col("embedding"))
    return embeddings.select(
        "vec_id", vec.alias("vec"), F.sqrt(dot(vec, vec)).alias("norm")
    )


def _cos(va: F.Column, vb: F.Column, na: F.Column, nb: F.Column) -> F.Column:
    """q6-quantized cosine, with cos := -1.0 when either norm is zero.

    A zero-norm embedding has no direction: unguarded, Spark 4's
    ANSI-on default hard-fails the whole query with DIVIDE_BY_ZERO on
    a single degenerate row. -1.0 is
    the cosine floor, so degenerate vectors rank last in every kNN
    path and can never clear a near-dup threshold; a genuine
    antiparallel pair also scores -1, which is indistinguishable here
    and equally never a neighbor of interest. Value-neutral on all
    shipped testdata (zero zero-norm vectors at every SF, checked)."""
    den = na * nb
    return q6(F.when(den == F.lit(0.0), F.lit(-1.0))
              .otherwise(dot(va, vb) / den))


def embedding_near_dup_pairs(embeddings: DataFrame,
                             threshold: float = 0.45) -> DataFrame:
    """All-pairs cosine near-duplicates — EXACT but quadratic; kept as
    the recall reference for tests. The registered query uses
    :func:`embedding_near_dup_pairs_lsh` (bucketed, scale path)."""
    v = _prep(embeddings)
    a = v.select(F.col("vec_id").alias("id_a"), F.col("vec").alias("va"),
                 F.col("norm").alias("na"))
    b = v.select(F.col("vec_id").alias("id_b"), F.col("vec").alias("vb"),
                 F.col("norm").alias("nb"))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                _cos(F.col("va"), F.col("vb"), F.col("na"), F.col("nb"))
                .alias("cos"))
        .where(F.col("cos") >= threshold)
    )


def knn_bruteforce(embeddings: DataFrame, n_queries: int = 10,
                   k: int = 5) -> DataFrame:
    """Exact top-k cosine neighbors for the query set ``vec_id <
    n_queries`` over the corpus ``vec_id >= n_queries``.

    The query side is tiny → Catalyst broadcasts it; the corpus scan
    is map-side and the only shuffle is the per-query top-k window on
    ``query_id``.
    """
    v = _prep(embeddings)
    queries = v.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qv"),
        F.col("norm").alias("qn"))
    corpus = v.where(F.col("vec_id") >= n_queries).select(
        F.col("vec_id").alias("neighbor_id"), F.col("vec").alias("nv"),
        F.col("norm").alias("nn"))
    scored = (
        F.broadcast(queries).crossJoin(corpus)
        .select("query_id", "neighbor_id",
                _cos(F.col("qv"), F.col("nv"), F.col("qn"), F.col("nn"))
                .alias("cos"))
    )
    return _topk(scored, k)


# --- trained IVF: deterministic Lloyd k-means ------------------------------
#
# The seed-centroid IVF above trades training for determinism; this is
# the shape a real 100 TB embedding pipeline runs: k-means-trained
# centroids, then the same bucket/probe machinery. Determinism is kept
# by doing ALL distance/update arithmetic in int64 micro-units
# (components quantized once via floor(x*1e6 + 0.5)): integer sums are
# summation-order-independent, integer argmin has no float ties, and
# the centroid mean is an exact floor division — so a DuckDB oracle
# can replay training bit-for-bit as unrolled SQL.
#
# Driver/cluster split mirrors Spark MLlib's KMeans: centroids are
# driver state (k×d ints, broadcast into each pass's Arrow closure);
# the data never leaves the executors. Each Lloyd round is one
# map-side assignment pass + per-batch partial sums (k×d rows per
# batch — map-side combine in pandas) + one tiny shuffle/collect.
# Empty clusters drop (both engines' group-bys skip them identically).

KMEANS_K = N_CENTROIDS
KMEANS_ITER = 3
QUANT_SCALE = 1_000_000
# Saturation bound for quantized components (micro-units; |x| <= 16).
# Without it a huge-magnitude vector (legal float32 — think corrupt
# or unnormalized embeddings in a 100 TB corpus) made
# `astype(np.int64)` overflow UNDEFINED numpy garbage on the engine
# side while the oracle's strict BIGINT cast crashed (a 1e18-component
# vector reproduces it). Clamping is the deterministic defined
# behavior (same family as the zero-norm cos := -1 floor):
# out-of-range components saturate identically in
# both engines, and the integer squared-L2 stays exact —
# d * (2*QUANT_MAX)^2 <= int64max for any d <= 8,984. Shipped data
# (|x| <= 0.58) never clamps. Pinned by
# test_kmeans_survives_extreme_magnitudes.
QUANT_MAX = 16_000_000


def _quantize_mat(mat):
    """float64 (n, d) -> saturating int64 micro-units, mirroring the
    SQL CAST(least(greatest(floor(CAST(x AS DOUBLE) * 1e6 + 0.5),
    -QUANT_MAX), QUANT_MAX) AS BIGINT)."""
    import numpy as np

    return np.clip(np.floor(mat * QUANT_SCALE + 0.5),
                   -QUANT_MAX, QUANT_MAX).astype(np.int64)


def _sqdist_int(mat, cents):
    """Exact integer squared-L2 distance matrix (n, k): numpy int64
    matmul (no BLAS float path), magnitudes bounded by the QUANT_MAX
    clamp — d * (2*QUANT_MAX)^2 << 2^63."""
    return ((mat * mat).sum(axis=1)[:, None]
            - 2 * (mat @ cents.T)
            + (cents * cents).sum(axis=1)[None, :])


def _vec_batches(embeddings: DataFrame):
    return _prep(embeddings).select("vec_id", "vec")


def kmeans_train(embeddings: DataFrame):
    """``KMEANS_ITER`` Lloyd rounds from the ``vec_id < KMEANS_K`` seed
    vectors.

    Returns ``(cent_ids, cents)``: surviving centroid ids (ascending)
    and their int64 micro-unit vectors, one row each. Update rule per
    dimension is ``sum // count`` — EXACT integer floor division over
    Python ints, valid at every magnitude. The SQL mirror
    (plans/queries_similarity._kmeans_cte) replays it in exact HUGEINT
    arithmetic with a floor-mod adjustment; no double rounding on
    either side (a DOUBLE-cast oracle form would diverge once
    per-(centroid,pos) |sum| >= 2^53).
    """
    import numpy as np

    v = materialize(_vec_batches(embeddings), eager=False)
    seeds = sorted(v.where(F.col("vec_id") < KMEANS_K).collect(),
                   key=lambda r: r.vec_id)
    cent_ids = [r.vec_id for r in seeds]
    cents = _quantize_mat(np.array([r.vec for r in seeds], dtype=np.float64))
    for _ in range(KMEANS_ITER):
        agg = (
            _kmeans_partial_sums(v, cent_ids, cents)
            .groupBy("centroid_id", "pos")
            .agg(F.sum("psum").alias("s"), F.sum("pcnt").alias("cnt"))
            .collect()
        )
        by_cid: dict[int, dict[int, tuple[int, int]]] = {}
        for r in agg:
            by_cid.setdefault(r.centroid_id, {})[r.pos] = (r.s, r.cnt)
        cent_ids = sorted(by_cid)
        d = cents.shape[1]
        cents = np.array(
            [[by_cid[cid][p][0] // by_cid[cid][p][1]
              for p in range(1, d + 1)]
             for cid in cent_ids],
            dtype=np.int64,
        )
    return cent_ids, cents


def _kmeans_partial_sums(v: DataFrame, cent_ids, cents) -> DataFrame:
    """One Lloyd half-step: assign each vector to its nearest centroid
    (int argmin; ties -> lowest centroid id, numpy argmin's first-hit
    on the id-sorted centroid array) and emit per-batch partial sums —
    (centroid_id, pos, psum, pcnt) with pos 1-based to match the SQL
    mirror."""
    import numpy as np
    import pandas as pd

    ids_arr = list(cent_ids)
    c = cents

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = _quantize_mat(np.array(list(pdf["vec"]), dtype=np.float64))
            nearest = _sqdist_int(mat, c).argmin(axis=1)
            d = mat.shape[1]
            for j, cid in enumerate(ids_arr):
                sel = mat[nearest == j]
                if not len(sel):
                    continue
                yield pd.DataFrame({
                    "centroid_id": np.int64(cid),
                    "pos": np.arange(1, d + 1, dtype=np.int64),
                    "psum": sel.sum(axis=0),
                    "pcnt": np.int64(len(sel)),
                })

    return v.mapInPandas(
        gen, schema="centroid_id long, pos long, psum long, pcnt long")


def kmeans_assignments_df(embeddings: DataFrame, cent_ids, cents) -> DataFrame:
    """Map-side nearest-centroid assignment of EVERY vector under the
    given (trained) centroids — (vec_id, centroid_id), no shuffle."""
    import numpy as np
    import pandas as pd

    ids_arr = np.array(list(cent_ids), dtype=np.int64)
    c = cents

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = _quantize_mat(np.array(list(pdf["vec"]), dtype=np.float64))
            nearest = _sqdist_int(mat, c).argmin(axis=1)
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy(),
                "centroid_id": ids_arr[nearest],
            })

    return _vec_batches(embeddings).mapInPandas(
        gen, schema="vec_id long, centroid_id long")


def kmeans_centroid_dists(embeddings: DataFrame, cent_ids, cents,
                          n_queries: int) -> DataFrame:
    """All (query, centroid) integer squared distances for the probe
    ranking — k rows per query, ranked by (dist, centroid_id) in the
    caller's window."""
    import numpy as np
    import pandas as pd

    ids_arr = np.array(list(cent_ids), dtype=np.int64)
    c = cents
    k = len(ids_arr)

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = _quantize_mat(np.array(list(pdf["vec"]), dtype=np.float64))
            dists = _sqdist_int(mat, c)
            n = len(pdf)
            yield pd.DataFrame({
                "query_id": np.repeat(pdf["vec_id"].to_numpy(), k),
                "centroid_id": np.tile(ids_arr, n),
                "dist": dists.ravel(),
            })

    q = _vec_batches(embeddings).where(F.col("vec_id") < n_queries)
    return q.mapInPandas(gen, schema="query_id long, centroid_id long, dist long")


def knn_ivf_trained(embeddings: DataFrame, n_queries: int = 10,
                    k: int = 5) -> DataFrame:
    """IVF kNN over TRAINED centroids: Lloyd training, nearest-trained-
    centroid buckets, integer-L2 probe ranking, exact-cosine scoring
    of the N_PROBE probed buckets (same output contract as
    :func:`knn_ivf`).

    Assignment/probe use exact integer L2 (k-means' native metric);
    final scoring stays q6-quantized cosine so the contract matches
    the untrained path. At 100 TB the bucketed corpus is written
    partitioned by centroid_id, making each probe a partition-pruned
    scan; here the pruning is the equi-join on centroid_id.

    Recall honesty: the registered oracle mirrors the bucketing, so it
    proves cross-engine agreement, not neighbor quality — recall@5 vs
    :func:`knn_bruteforce` is gated at ≥0.8 (observed 0.90) by
    ``tests/test_pipeline_ops.py::test_ivf_recall_vs_bruteforce``.
    """
    cent_ids, cents = kmeans_train(embeddings)

    wp = Window.partitionBy("query_id").orderBy("dist", "centroid_id")
    probes = (
        kmeans_centroid_dists(embeddings, cent_ids, cents, n_queries)
        .withColumn("prn", F.row_number().over(wp))
        .where(F.col("prn") <= N_PROBE)
        .select("query_id", "centroid_id")
    )
    buckets = kmeans_assignments_df(embeddings, cent_ids, cents).where(
        F.col("vec_id") >= n_queries)

    v = _prep(embeddings)
    cands = _score_bucket_cands(probes, buckets, v,
                                _ivf_queries(v, n_queries))
    return _topk(cands, k)


def _assign_to_centroids(corpus: DataFrame,
                         centroids: DataFrame) -> DataFrame:
    """(vec_id, centroid_id) nearest-centroid assignment of prepped
    ``corpus`` vectors against prepped ``centroids`` (centroid_id,
    cv, cn) — the scoring + argmax core shared by
    :func:`ivf_assignments` (seed-centroid bucketing) and
    :func:`_write_ivf_index` (index write and append), so the two
    paths can never diverge on tie-breaking.

    The argmax is ``max_by`` over a UNIQUE ordering struct
    ``(cos, -centroid_id)`` — identical selection to the previous
    row_number window (max cos, ties to the LOWEST centroid id;
    uniqueness of the struct per vector makes the aggregate
    order-insensitive, hence deterministic across partial merges).
    Aggregate, not window, deliberately: each vector's k scored
    rows are born in ONE input partition (map-side crossJoin
    fan-out), so the partial aggregate collapses them before the
    exchange — the shuffle carries ONE row per vector, where the
    window form shuffled AND sorted all k×N scored rows (k=16 → a
    16×-inflated corpus-cardinality exchange at 100 TB). The struct
    ordering buffer makes this a SortAggregate (its sorts are LOCAL,
    map-side, k·N·log(k·N) CPU — not a shuffle); packing the ordering
    into one long would buy HashAggregate but impose a hidden
    centroid_id < 2^32 contract on a shared helper — rejected."""
    scored = (
        corpus.crossJoin(F.broadcast(centroids))
        .select("vec_id", "centroid_id",
                _cos(F.col("vec"), F.col("cv"), F.col("norm"), F.col("cn"))
                .alias("cos"))
    )
    return scored.groupBy("vec_id").agg(
        F.max_by(
            "centroid_id",
            F.struct(F.col("cos"), (-F.col("centroid_id")).alias("nid")),
        ).alias("centroid_id")
    )


def _seed_centroids(v: DataFrame) -> DataFrame:
    """(centroid_id, cv, cn): the seed vectors ``vec_id < N_CENTROIDS``
    of prepped ``v``, the one centroid definition of every IVF path."""
    return v.where(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("vec").alias("cv"),
        F.col("norm").alias("cn"))


def ivf_assignments(embeddings: DataFrame) -> DataFrame:
    """Assign every corpus vector to its nearest centroid.

    Centroids are the seed vectors ``vec_id < N_CENTROIDS`` — a
    deterministic stand-in for k-means (which would converge to
    data-dependent floats and break value-level oracle checks).
    One broadcast join + one argmax aggregate (``max_by`` with
    map-side partial combine); no iteration.
    """
    v = _prep(embeddings)
    return _assign_to_centroids(v.where(F.col("vec_id") >= N_CENTROIDS),
                                _seed_centroids(v))


def _ivf_queries(v: DataFrame, n_queries: int) -> DataFrame:
    """The (query_id, qv, qn) probe side — shared by the in-memory
    and persisted-index IVF paths so tie-breaking and the query-set
    definition can never diverge between them (their value-parity is
    a tested contract)."""
    return v.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qv"),
        F.col("norm").alias("qn"))


def _ivf_probes(v: DataFrame, n_queries: int) -> DataFrame:
    """Per-query ``N_PROBE`` nearest seed centroids by quantized cosine,
    (ccos desc, centroid_id) tie-break — the single source of truth
    for probe selection."""
    queries = _ivf_queries(v, n_queries)
    centroids = _seed_centroids(v)
    probe_scored = (
        F.broadcast(queries).crossJoin(F.broadcast(centroids))
        .select("query_id", "centroid_id",
                _cos(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn"))
                .alias("ccos"))
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.col("ccos").desc(), F.col("centroid_id"))
    return (
        probe_scored.withColumn("rn", F.row_number().over(wp))
        .where(F.col("rn") <= N_PROBE)
        .select("query_id", "centroid_id")
    )


def _topk(cands: DataFrame, k: int) -> DataFrame:
    """Per-query top-k by (cos desc, neighbor_id) — the shared final
    ranking of every kNN path (brute-force, trained and both IVF
    paths), so a tie-break change reaches all of them."""
    wk = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id"))
    return (
        cands.withColumn("rank", F.row_number().over(wk).cast("long"))
        .where(F.col("rank") <= k)
    )


def _score_bucket_cands(probes: DataFrame, buckets: DataFrame,
                        v: DataFrame, queries: DataFrame) -> DataFrame:
    """probes(query_id, centroid_id) ⋈ buckets(vec_id, centroid_id) →
    exact-cosine-scored candidates — the candidate join shared by
    :func:`knn_ivf` and :func:`knn_ivf_trained`, so the two cannot
    drift apart."""
    corpus = v.select(F.col("vec_id").alias("neighbor_id"),
                      F.col("vec").alias("nv"), F.col("norm").alias("nn"))
    return (
        probes.join(buckets, "centroid_id")
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .join(corpus, "neighbor_id")
        .join(F.broadcast(queries), "query_id")
        .select("query_id", "neighbor_id",
                _cos(F.col("qv"), F.col("nv"), F.col("qn"), F.col("nn"))
                .alias("cos"))
    )


def _ivf_buckets(embeddings: DataFrame, n_queries: int) -> DataFrame:
    """Bucketed corpus of the in-memory probe join: excludes queries
    AND centroid seeds, the same membership as :func:`_write_ivf_index`
    (``vec_id >= max(n_queries, N_CENTROIDS)``)."""
    return ivf_assignments(embeddings).where(F.col("vec_id") >= n_queries)


def knn_ivf(embeddings: DataFrame, n_queries: int = 10,
            k: int = 5) -> DataFrame:
    """Approximate top-k: probe the ``N_PROBE`` nearest of the
    ``N_CENTROIDS`` centroids per query and search only their buckets.

    At 100 TB the bucketed corpus is written partitioned by
    ``centroid_id`` so a probe prunes partitions at the scan; here the
    pruning is the equi-join on centroid_id (the persisted, pruned
    variant is :func:`knn_ivf_pruned`, value-identical by test).

    Recall honesty: the oracle mirrors the approximation; true-neighbor
    recall@5 vs :func:`knn_bruteforce` is gated at ≥0.8 (observed
    0.92) by ``test_ivf_recall_vs_bruteforce``.
    """
    v = _prep(embeddings)
    probes = _ivf_probes(v, n_queries)
    buckets = _ivf_buckets(embeddings, n_queries)
    cands = _score_bucket_cands(probes, buckets, v,
                                _ivf_queries(v, n_queries))
    return _topk(cands, k)


def _write_ivf_index(batch: DataFrame, centroids_src: DataFrame, path: str,
                     mode: str, n_queries: int) -> None:
    """Assign ``batch``'s corpus rows to the seed centroids of
    ``centroids_src`` and write them, each with its precomputed norm,
    ``partitionBy(centroid_id)`` at ``path`` in ``mode``. Rows with ids
    below ``n_queries`` / ``N_CENTROIDS`` are query vectors / centroid
    seeds, never corpus, so they are filtered out: otherwise a probe
    would return a query as its own rank-1 neighbor. Scoring and
    tie-break are :func:`ivf_assignments`' own
    (:func:`_assign_to_centroids`)."""
    bv = _prep(batch).where(
        F.col("vec_id") >= max(n_queries, N_CENTROIDS))
    assign = _assign_to_centroids(bv, _seed_centroids(_prep(centroids_src)))
    (assign.join(bv, "vec_id")
     .select("vec_id", "vec", "norm", "centroid_id")
     .write.mode(mode).partitionBy("centroid_id").parquet(path))


def write_ivf_index(embeddings: DataFrame, path: str,
                    n_queries: int = 10) -> None:
    """Materialize the IVF index :func:`knn_ivf` describes: the
    bucketed corpus written ``partitionBy("centroid_id")``. This is the
    persistence step that turns the probe's equi-join into a
    partition-PRUNED scan — at 100 TB the index is written once and
    every query batch reads only ``N_PROBE`` of ``N_CENTROIDS``
    directories."""
    _write_ivf_index(embeddings, embeddings, path, "overwrite", n_queries)


def append_ivf_index(batch: DataFrame, centroids_src: DataFrame, path: str,
                     *, n_queries: int = 10) -> None:
    """Append a new vector batch into the persisted IVF index — the
    write half of the daily-ingest cycle (the SRP analogue is
    :func:`append_srp_index`). The batch is assigned against the SAME
    seed centroids the index was built with (``centroids_src`` is the
    original corpus table), and each append only adds files under the
    partitions it touches, so probes keep pruning by directory. Value
    parity of the appended index with a full rebuild over corpus+batch
    is pinned by ``test_ivf_index_append_cycle``."""
    _write_ivf_index(batch, centroids_src, path, "append", n_queries)


def compact_ivf_index(spark, path: str, new_path: str) -> None:
    """Compact an appended-to IVF index into ``new_path`` — the
    maintenance job that completes the centroid-partitioned index's
    ingest cycle, mirroring :func:`compact_srp_index` for the SRP
    family (each :func:`append_ivf_index` adds one file per touched
    ``centroid_id=`` directory).

    One hash repartition on ``centroid_id`` puts every centroid's
    rows in exactly one task, so each partition directory comes out
    holding exactly ONE data file (a task may own several centroids —
    still one file per directory; AQE coalescing only widens a task's
    centroid set, never splits one). That single shuffle IS the cost
    of compaction — an off-peak maintenance job, not a query-path
    cost, identical to the SRP analysis. A NEW directory plus a
    caller-side cutover is again the only safe shape: rewriting in
    place would yank files out from under a concurrent probe's
    already-planned partition-pruned scan. Unlike the SRP table there
    are no catalog properties to carry — the IVF contract (seed
    centroids = ids below ``N_CENTROIDS``) is positional in the data
    itself and survives the rewrite byte-for-byte (row multiset
    parity and probe value parity pinned by
    ``test_ivf_index_compaction``)."""
    idx = spark.read.parquet(path)
    (idx.repartition(F.col("centroid_id"))
     .write.mode("overwrite").partitionBy("centroid_id")
     .parquet(new_path))


SRP_INDEX_BUCKETS = 16


def srp_config_props() -> dict[str, str]:
    """The banding configuration an SRP index is bound to, as table
    properties: bands/rows/dim plus an md5 fingerprint of the actual
    plane matrix (the planes are md5-derived from indices, so the
    fingerprint also pins the generation scheme itself — a future
    change to :func:`srp_planes` invalidates old indexes loudly
    instead of silently probing with different geometry). The plane
    matrix, its repr, and the fingerprint are memoized — this runs on
    every index write AND every probe-time validation."""
    return {"srp.bands": str(SRP_BANDS), "srp.rows": str(SRP_ROWS),
            "srp.dim": str(EMBED_DIM),
            "srp.planes_md5": _srp_planes_md5()}


@_functools.cache
def _srp_planes_md5() -> str:
    import hashlib

    return hashlib.md5(repr(srp_planes()).encode()).hexdigest()


def _tblproperties(spark, table: str) -> dict[str, str]:
    """``SHOW TBLPROPERTIES table`` as a dict — a handful of catalog
    metadata rows, never data."""
    return {r["key"]: r["value"]
            for r in spark.sql(f"SHOW TBLPROPERTIES {table}").collect()}


def validate_srp_index_config(spark, table: str) -> None:
    """Raise ValueError unless ``table`` was written with exactly this
    module's banding configuration: a mismatched probe equi-join
    silently misses true pairs — band values pack ``SRP_ROWS`` sign
    bits, so there is no schema-level error to save you."""
    got = _tblproperties(spark, table)
    want = srp_config_props()
    bad = {k: (got.get(k), v) for k, v in want.items() if got.get(k) != v}
    if bad:
        raise ValueError(
            f"SRP index {table!r} banding config mismatch (probe would "
            f"silently miss true pairs): "
            + "; ".join(f"{k}: index={g!r} probe={w!r}"
                        for k, (g, w) in sorted(bad.items())))


def _write_srp_table(sigs: DataFrame, table: str, mode: str,
                     props: dict[str, str] | None = None,
                     **options) -> None:
    """Write (vec_id, band_id, band_val) signature rows into ``table``
    bucketed and sorted on (band_id, band_val). The pre-write
    ``repartition`` uses the same murmur3 pmod as the bucket spec, so
    every task holds exactly the rows of its own bucket: one file per
    bucket per write. ``props`` become table properties; ``options``
    go to ``saveAsTable`` (an external table's ``path``)."""
    (sigs.repartition(SRP_INDEX_BUCKETS, F.col("band_id"), F.col("band_val"))
     .write.mode(mode)
     .bucketBy(SRP_INDEX_BUCKETS, "band_id", "band_val")
     .sortBy("band_id", "band_val")
     .format("parquet")
     .saveAsTable(table, **options))
    if props:
        kv = ", ".join(f"'{k}'='{v}'" for k, v in props.items())
        sigs.sparkSession.sql(f"ALTER TABLE {table} SET TBLPROPERTIES ({kv})")


def write_srp_index(embeddings: DataFrame, table: str, path: str) -> None:
    """Materialize the SRP-LSH signature index as an external table at
    ``path``, BUCKETED on (band_id, band_val) — the embedding analogue
    of :func:`write_ivf_index`: a 100 TB pipeline computes signatures
    ONCE, persists them, and probes the persisted index incrementally
    instead of re-projecting the whole corpus per query batch.

    Why bucketBy, not partitionBy: the near-dup candidate generator is
    a SELF-equi-join on (band_id, band_val). ``bucketBy`` on exactly
    those keys makes both sides of that join arrive pre-shuffled —
    Spark plans the join with NO Exchange on either side (pinned by
    ``test_srp_index_self_join_is_shuffle_free``), which at corpus
    scale deletes the single biggest data movement near-dedup has.
    (partitionBy would give directory pruning instead, but 12x64
    directories of tiny files and a full shuffle per self-join is the
    wrong trade; bucket pruning on scan is a non-goal here since Spark
    prunes buckets only for single-column bucket specs.)

    The index stores only (vec_id, band_id, band_val) — 24 bytes/row,
    signatures-not-vectors: the wide embedding payload stays in the
    corpus table and is joined back onto the (tiny) verified-candidate
    set, mirroring the band-join discipline of minhash_dedup_pairs.

    The banding configuration travels WITH the index as table
    properties (:func:`srp_config_props`), so a mismatched probe
    raises instead of silently missing true pairs:
    :func:`embedding_near_dups_probe_index` validates them.
    """
    _write_srp_table(srp_signatures(embeddings), table,
                     "overwrite", srp_config_props(), path=path)


def append_srp_index(batch: DataFrame, table: str) -> None:
    """Append a new batch's signatures into an existing SRP index —
    the write half of the daily-ingest cycle (probe the batch with
    :func:`embedding_near_dups_probe_index`, THEN append it so
    tomorrow's batch sees it as corpus). The banding config is
    validated against the table properties first, exactly like the
    probe: appending signatures computed with different geometry would
    poison the index silently.

    The append keeps the bucket layout intact — same bucketBy spec,
    same pre-write repartition, so each bucket gains one sorted file
    per append and the candidate self-join STAYS Exchange-free
    (pinned by ``test_srp_index_append_cycle``). At 100 TB an ingest
    pipeline compacts buckets on a schedule; correctness never
    depends on file count."""
    validate_srp_index_config(batch.sparkSession, table)
    _write_srp_table(srp_signatures(batch), table, "append")


def compact_srp_index(spark, table: str, new_table: str, path: str) -> None:
    """Compact an appended-to SRP index (one file per bucket per
    append — :func:`append_srp_index`) back to one file per bucket,
    into ``new_table`` at ``path``. A NEW table plus a caller-side
    cutover is the only safe shape: rewriting in place would yank
    files out from under a concurrent reader's already-planned scan.
    The banding-config table properties are carried over, so probes
    against the compacted table pass the same machine validation.

    Bucketed READING is disabled for the maintenance scan: a bucketed
    read hands the writer one partition per (bucket, source file) and
    the matching repartition is elided as already-satisfied, so the
    "compaction" would pass every source file through 1:1 (observed:
    a 2-files-per-bucket source compacted to... 2 files per bucket).
    Reading plain forces one real murmur3 shuffle into exactly
    ``SRP_INDEX_BUCKETS`` tasks — one file per bucket out. That one
    shuffle IS the cost of compaction; at 100 TB it is an off-peak
    maintenance job, not a query-path cost."""
    props = {k: v for k, v in _tblproperties(spark, table).items()
             if k.startswith("srp.")}
    prev = spark.conf.get("spark.sql.sources.bucketing.enabled")
    spark.conf.set("spark.sql.sources.bucketing.enabled", "false")
    try:
        _write_srp_table(spark.table(table), new_table, "overwrite", props,
                         path=path)
    finally:
        spark.conf.set("spark.sql.sources.bucketing.enabled", prev)


def embedding_near_dups_from_index(spark, embeddings: DataFrame, table: str,
                                   threshold: float = 0.45) -> DataFrame:
    """:func:`embedding_near_dup_pairs_lsh` served from the PERSISTED
    signature index written by :func:`write_srp_index` — value-
    identical output (same planes, same q6 sign quantization, same
    verify), but candidate generation reads the bucketed signature
    table twice and joins shuffle-free instead of recomputing 768
    plane projections per vector per call.

    Incremental probing falls out of the same shape: a NEW document
    batch computes only its own signatures and equi-joins them against
    this index on (band_id, band_val) — the corpus side is never
    re-projected (:func:`embedding_near_dups_probe_index`, whose
    equivalence to re-running the full pipeline is pinned by
    ``test_srp_index_incremental_probe``).
    """
    return _verify_pairs(_self_join_cands(spark.table(table)),
                         embeddings, threshold)


def embedding_near_dups_probe_index(spark, batch: DataFrame,
                                    verify_vectors: DataFrame, table: str,
                                    threshold: float = 0.45) -> DataFrame:
    """Incremental near-dup probe: signatures are computed for the NEW
    ``batch`` only (one narrow Arrow pass over the batch — the indexed
    corpus is never re-projected) and equi-joined against the persisted
    signature index on (band_id, band_val). The index MUST have been
    written with this module's ``SRP_BANDS``/``SRP_ROWS``; that contract
    is machine-checked here against the banding config
    :func:`write_srp_index` stores as table properties —
    :func:`validate_srp_index_config` raises on mismatch instead of
    letting the equi-join silently miss true pairs (pinned by
    ``test_srp_probe_rejects_mismatched_banding``). Returns (id_a, id_b,
    cos) with pairs CANONICALIZED as id_a < id_b (side attribution is
    numeric, not batch-vs-index — recover "which endpoint is new" from
    the caller's own id ranges), verified by exact cosine against
    ``verify_vectors``, which MUST cover corpus AND batch ids (a real
    deployment passes the corpus vector table). Passing only the new
    batch's vectors would drop every cross-split candidate pair, so
    coverage is machine-enforced: a candidate whose endpoint is
    missing from ``verify_vectors`` raises at execution time instead
    of vanishing.

    This is the daily-ingest shape of a 100 TB dedup pipeline: index
    once, then each arriving batch pays signatures-over-batch plus a
    bucket equi-join whose corpus side is a narrow 24-byte-row scan.
    Self-pairs within the batch are the caller's choice (a batch is
    normally probed against the index BEFORE being appended to it;
    pairs among batch rows come from the batch's own self-join, which
    is :func:`embedding_near_dup_pairs_lsh` on the batch alone).
    """
    validate_srp_index_config(spark, table)
    bsigs = srp_signatures(batch)
    isigs = spark.table(table)
    cands = (
        isigs.select(F.col("vec_id").alias("id_a"), "band_id", "band_val")
        .join(bsigs.select(F.col("vec_id").alias("id_b"),
                           "band_id", "band_val"),
              ["band_id", "band_val"])
        .where(F.col("id_a") != F.col("id_b"))
        .select(F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"))
        .distinct()
    )
    v = _prep(verify_vectors)
    va = v.select(F.col("vec_id").alias("id_a"), F.col("vec").alias("va"),
                  F.col("norm").alias("na"))
    vb = v.select(F.col("vec_id").alias("id_b"), F.col("vec").alias("vb"),
                  F.col("norm").alias("nb"))
    # LEFT joins + a throwing ELSE branch, NOT _verify_pairs' inner
    # joins: here the candidate ids come from the index + batch while
    # the vectors come from the caller, so inner joins would drop
    # pairs of an under-covering verify_vectors silently. The guard is
    # the else-branch VALUE of the cos expression itself — an
    # optimizer can only eliminate it by proving coverage, which it
    # can't (assert_true's null wrapped in when(...isNull...) could be
    # eliminated, silently disabling the guard across a Spark
    # upgrade). Still fully lazy: no extra driver job, the guard fires
    # with the query itself.
    missing = F.concat(
        F.lit("embedding_near_dups_probe_index: verify_vectors is "
              "missing the embedding for candidate pair ("),
        F.col("id_a"), F.lit(", "), F.col("id_b"),
        F.lit(") — pass the corpus AND batch vectors (corpus table "
              "in a real deployment)"))
    covered = F.col("va").isNotNull() & F.col("vb").isNotNull()
    return (
        cands.join(va, "id_a", "left").join(vb, "id_b", "left")
        .select("id_a", "id_b",
                F.when(covered,
                       _cos(F.col("va"), F.col("vb"),
                            F.col("na"), F.col("nb")))
                .otherwise(F.raise_error(missing).cast("double"))
                .alias("cos"))
        .where(F.col("cos") >= threshold)
    )


def knn_ivf_pruned(spark, embeddings: DataFrame, path: str,
                   n_queries: int = 10, k: int = 5) -> DataFrame:
    """:func:`knn_ivf` served from the persisted index at ``path``
    (written by :func:`write_ivf_index`): value-identical output, but
    the corpus scan is partition-pruned to the probed centroids —
    the plan the knn_ivf docstring promises at scale, demonstrated
    (``test_plans.py`` asserts the scan's PartitionFilters).

    The probed-centroid set is collected to the driver first (bounded
    by N_PROBE x n_queries — query-batch-sized, like the query vectors
    themselves) so the pruning is STATIC: visible in the plan before
    execution, no DPP runtime machinery needed.
    """
    v = _prep(embeddings)
    queries = _ivf_queries(v, n_queries)
    probes = _ivf_probes(v, n_queries)
    # Static pruning only makes sense for a bounded probe set: the
    # IN-list is driver state AND a per-task filter. A misconfigured
    # huge query batch must fail loudly here, not build a
    # million-element predicate — batch-split or fall back to the
    # equi-join path (knn_ivf) instead.
    n_probe_ids = N_PROBE * n_queries
    if n_probe_ids > 10_000:
        raise ValueError(
            f"knn_ivf_pruned: N_PROBE*n_queries = {n_probe_ids} probed "
            "centroids exceeds the static-pruning bound (10000); "
            "split the query batch or use knn_ivf's equi-join path")
    # Collect the probe PAIRS once (bounded by the guard above) and
    # rebuild the broadcast side as a local relation: joining the
    # original `probes` plan would recompute the whole query/centroid
    # scan + window a second time on the recurring hot path.
    probe_rows = [(r.query_id, r.centroid_id) for r in probes.collect()]
    probe_ids = sorted({cid for _, cid in probe_rows})
    probes_local = spark.createDataFrame(
        probe_rows, "query_id long, centroid_id long")

    idx = spark.read.parquet(path).where(F.col("centroid_id").isin(probe_ids))
    cands = (
        F.broadcast(probes_local).join(idx, "centroid_id")
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                F.col("vec").alias("nv"), F.col("norm").alias("nn"))
        .join(F.broadcast(queries), "query_id")
        .select("query_id", "neighbor_id",
                _cos(F.col("qv"), F.col("nv"), F.col("qn"), F.col("nn"))
                .alias("cos"))
    )
    return _topk(cands, k)
