"""Graph (reference-parity) queries over the driver's test tables.

The test dirs carry no ``edges`` parquet, so every query derives the
edge list from ``lineitem``: parts co-purchased within an order form
an undirected edge (FIXTURES.md §2). The derivation is part of both
the Spark plan and the oracle SQL, so the comparison covers it too.

Coverage of SURVEY §2: row 1-2 (scan+parse: parquet scan with pruned
columns + the text reader exercised in tests), row 3 (symmetrize),
rows 4-5 (adjacency), row 6 (candidate pairs), rows 6-9 (triangles,
via joins), row 9 (distinct), derived rows (degrees, triangle count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import graph as G
from ..sources.tables import derive_edges
from .registry import register

# Shared DuckDB CTE: the same edge derivation the Spark side performs.
_EDGES_CTE = """
WITH edges AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM lineitem a
  JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)
"""

_DEGREES_CTE = _EDGES_CTE + """
, nodes AS (
  SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges
), degrees AS (
  SELECT node, count(*) AS degree FROM nodes GROUP BY node
)
"""


@register("edges_derive", oracle=_EDGES_CTE + "SELECT src, dst FROM edges")
def q_edges_derive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan + parse + dedup: the engine's edge source (§2 rows 1-2, 9)."""
    return derive_edges(spark, sf_dir)


@register(
    "symmetrize",
    oracle=_EDGES_CTE
    + "SELECT src, dst FROM edges UNION ALL SELECT dst AS src, src AS dst FROM edges",
)
def q_symmetrize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge symmetrization (§2 row 3, T100:29-39)."""
    return G.symmetrize(derive_edges(spark, sf_dir))


@register(
    "adjacency",
    oracle=_EDGES_CTE + """
SELECT node, string_agg(nbr, ',' ORDER BY nbr) AS neighbors
FROM (
  SELECT src AS node, CAST(dst AS VARCHAR) AS nbr FROM edges
  UNION ALL
  SELECT dst AS node, CAST(src AS VARCHAR) AS nbr FROM edges
) GROUP BY node
""",
)
def q_adjacency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted adjacency lists (§2 rows 4-5, T100:42,68-74), rendered as
    strings for cross-engine value comparison.

    NOTE: the oracle sorts neighbors lexicographically to match —
    Spark sorts the long array numerically then casts, so the Spark
    side re-sorts the string forms. See q impl.
    """
    adj = G.adjacency(derive_edges(spark, sf_dir))
    # String-sort the rendered neighbors so both engines agree on order.
    return adj.select(
        "node",
        F.concat_ws(
            ",",
            F.array_sort(F.transform("neighbors", lambda x: x.cast("string"))),
        ).alias("neighbors"),
    )


@register(
    "degrees",
    oracle=_DEGREES_CTE + "SELECT node, degree FROM degrees",
)
def q_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    return G.degrees(derive_edges(spark, sf_dir))


@register(
    "candidate_pairs",
    oracle=_DEGREES_CTE + """
SELECT node, CAST(degree * (degree - 1) // 2 AS BIGINT) AS n_candidate_pairs
FROM degrees
""",
)
def q_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-triad (candidate pair) counts per center node (§2 row 6)."""
    return G.candidate_pair_counts(derive_edges(spark, sf_dir))


_TRIANGLES_SQL = _EDGES_CTE + """
SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
FROM edges e1
JOIN edges e2 ON e2.src = e1.dst
JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
"""


@register("triangles", oracle=_TRIANGLES_SQL)
def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full triangle enumeration (§2 rows 6-9) — the reference's
    *intended* end-to-end output (its own code never materializes it;
    SURVEY findings 1-2)."""
    return G.triangles(derive_edges(spark, sf_dir), mode="simple",
                       assume_canonical=True)


@register(
    "triangle_count",
    oracle="SELECT count(*) AS n_triangles FROM (" + _TRIANGLES_SQL + ")",
    headline=True,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count — the flagship metric (driver t1 smoke)."""
    return G.triangle_count(derive_edges(spark, sf_dir), mode="simple",
                            assume_canonical=True)


@register(
    "streaming_triangle_count",
    oracle="SELECT count(*) AS n_triangles FROM (" + _TRIANGLES_SQL + ")",
)
def q_streaming_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship workload as an INCREMENTAL streaming pipeline:
    edges replayed in micro-batches (3 files, one per trigger), each
    batch emitting only the triangles it completes against the
    accumulated edge state (streaming/triangles.py). The final set
    equals batch-mode enumeration, so the same oracle applies.

    The scalar count is materialized before returning so the temp
    work dirs (edge state, checkpoints, outputs) can be removed —
    they used to leak a full edge-set copy per invocation."""
    import shutil
    import tempfile

    from ..streaming.triangles import streaming_triangles
    work = tempfile.mkdtemp(prefix="stream_tri_")
    try:
        edges_dir = f"{work}/edges_in"
        derive_edges(spark, sf_dir).repartition(3).write.parquet(edges_dir)
        tris = streaming_triangles(spark, edges_dir, work)
        n = tris.count()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.range(1).select(F.lit(n).cast("long").alias("n_triangles"))


_CC_DEPTH = 8
_PAGERANK_ITER = 10


def _cc_oracle() -> str:
    """Min-label propagation unrolled to ``_CC_DEPTH`` (≥ the derived
    graph's diameter, verified ≤4 at sf0.001/sf0.01 — margin 2×).

    Every CTE is MATERIALIZED: each l{i} references l{i-1} twice, so
    an inlining planner would re-derive the whole chain (and the
    lineitem self-join under it) exponentially many times — measured
    30 s vs ~1 s at sf0.01."""
    ctes = [
        _EDGES_CTE.strip().removeprefix("WITH").replace(
            "edges AS (", "edges AS MATERIALIZED (", 1),
        """sym AS MATERIALIZED (
  SELECT src AS a, dst AS b FROM edges
  UNION ALL SELECT dst AS a, src AS b FROM edges
)""",
        """l0 AS MATERIALIZED (
  SELECT node, node AS component FROM (
    SELECT src AS node FROM edges UNION SELECT dst FROM edges)
)""",
    ]
    for i in range(1, _CC_DEPTH + 1):
        ctes.append(f"""l{i} AS MATERIALIZED (
  SELECT n.node,
         least(n.component, coalesce(m.mn, n.component)) AS component
  FROM l{i - 1} n LEFT JOIN (
    SELECT s.a AS node, min(l.component) AS mn
    FROM sym s JOIN l{i - 1} l ON s.b = l.node GROUP BY s.a
  ) m ON n.node = m.node
)""")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT component, count(*) AS n_nodes FROM l{_CC_DEPTH}"
              " GROUP BY component")


@register("connected_components", oracle=_cc_oracle())
def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component sizes via iterative min-label propagation run to
    FIXPOINT (operators/graph.py::connected_components) — the
    iterative-join capability class; the oracle unrolls the same
    propagation to a fixed depth with 2x diameter margin."""
    cc = G.connected_components(derive_edges(spark, sf_dir),
                                assume_canonical=True)
    return cc.groupBy("component").agg(F.count(F.lit(1)).alias("n_nodes"))


def _pagerank_oracle() -> str:
    """Integer fixed-point PageRank unrolled to _PAGERANK_ITER CTE rounds —
    the identical arithmetic as operators/graph.py::pagerank, so
    rank_micro matches exactly (int64 compare, no float tolerance)."""
    scale = G.PAGERANK_SCALE
    ctes = [
        _EDGES_CTE.strip().removeprefix("WITH"),
        """sym AS (
  SELECT src AS a, dst AS b FROM edges
  UNION ALL SELECT dst AS a, src AS b FROM edges
)""",
        "deg AS (SELECT a, count(*) AS outdeg FROM sym GROUP BY a)",
        "nodes AS (SELECT DISTINCT a AS node FROM sym)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        f"""r0 AS (
  SELECT node, (SELECT {scale} // n FROM nn) AS rank_micro FROM nodes
)""",
    ]
    for i in range(1, _PAGERANK_ITER + 1):
        ctes.append(f"""r{i} AS (
  SELECT nd.node,
         (SELECT (15 * ({scale} // n)) // 100 FROM nn)
         + (85 * coalesce(s.sm, 0)) // 100 AS rank_micro
  FROM nodes nd LEFT JOIN (
    SELECT s.b AS node, CAST(sum(r.rank_micro // d.outdeg) AS BIGINT) AS sm
    FROM sym s
    JOIN r{i - 1} r ON s.a = r.node
    JOIN deg d ON d.a = s.a
    GROUP BY s.b
  ) s ON nd.node = s.node
)""")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT node, rank_micro FROM r{_PAGERANK_ITER}")


@register("pagerank", oracle=_pagerank_oracle())
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-iteration integer fixed-point PageRank (see operator
    docstring) — iterative-join capability with an EXACT int64
    value oracle, no float tolerance anywhere."""
    return G.pagerank(derive_edges(spark, sf_dir), n_iter=_PAGERANK_ITER,
                      assume_canonical=True)


@register("triangles_faithful", oracle=_TRIANGLES_SQL)
def q_triangles_faithful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Faithful-mode triangles (SURVEY finding 3). The derived edge
    list is already simple (no self-loops, no duplicates), so faithful
    ≡ simple here and the same oracle applies; the degenerate-input
    behavior is covered by unit tests on dirty micro-fixtures."""
    return G.triangles(derive_edges(spark, sf_dir), mode="faithful")
