"""r18: attribute triangle_count's cost and prototype an
adjacency-intersection closure against the shipped 2-path + semi-join.

Hypothesis (guide §1.2 "the distributed algorithm" / §2.3 "shuffle
fewer bytes"): the 2-path self-join materializes every open triad as a
JOIN ROW (P rows ~ sum_w C(d+(w), 2)) and probes each against the
closing-edge hash table. An adjacency-array formulation attaches each
oriented edge's out-neighbor arrays and counts
size(array_intersect(nbrs_lo, nbrs_hi)) — the same element-level work
WITHOUT materializing triad rows through the join machinery, and each
triangle is still seen exactly once (in the degree-orientation DAG a
triangle has a unique source w with w->x, w->y and x->y, so it is
counted only at edge (w, x): y in N+(w) cap N+(x)).

Measures, at sf0.1 (noop sink, min of N runs, stage-metric deltas):
  - shipped triangle_count
  - intersect-variant count (+ equality check)
  - intersect-variant full enumeration (explode) vs shipped triangles
  - graph stats: m, P (triad count), max out-degree

Usage: python scripts/attr_triangle.py [--sf-dir /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from bench import _stage_delta, _stage_snapshot  # noqa: E402
from mapreduce_experiment_spark.operators import graph as G  # noqa: E402
from mapreduce_experiment_spark.session import get_session  # noqa: E402
from mapreduce_experiment_spark.sources.tables import derive_edges  # noqa: E402


def oriented_with_parts(edges, assume_canonical=True):
    ce = G.canonical_edges(edges, assume_canonical).persist()
    ce.count()
    nparts = G.closure_partitions(ce.sparkSession)
    o = G._oriented(ce).repartition(nparts, F.col("lo"))
    return ce, o, nparts


def intersect_count(edges, assume_canonical=True):
    """Triangle count via adjacency-array intersection."""
    ce, o, nparts = oriented_with_parts(edges, assume_canonical)
    adj = o.groupBy("lo").agg(F.collect_list("hi").alias("nbrs"))
    e1 = o.join(adj, "lo").select(
        F.col("hi").alias("join_hi"), F.col("nbrs").alias("n_lo"))
    e2 = e1.join(adj.select(F.col("lo").alias("join_hi"),
                            F.col("nbrs").alias("n_hi")), "join_hi")
    per_edge = e2.select(
        F.size(F.array_intersect("n_lo", "n_hi")).alias("t"))
    return per_edge.agg(F.sum("t").cast("long").alias("n_triangles"))


def run(spark, label, mk, runs=3):
    best, best_cpu, rows = None, None, None
    for _ in range(runs):
        spark.catalog.clearCache()
        before = _stage_snapshot(spark)
        t0 = time.perf_counter()
        df = mk()
        df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        after = _stage_snapshot(spark)
        d = _stage_delta(before, after) if before and after else {}
        cpu = d.get("executor_cpu_time_ms", -1)
        if best is None or dt < best:
            best, best_cpu = dt, cpu
    print(f"{label:38s} wall={best:7.3f}s cpu={best_cpu:>8}ms")
    return best


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()
    spark = get_session(app_name="attr-triangle")
    sf = args.sf_dir

    edges = derive_edges(spark, sf).localCheckpoint()

    # --- graph stats ---
    ce = G.canonical_edges(edges, True)
    m = ce.count()
    o = G._oriented(ce)
    outdeg = o.groupBy("lo").agg(F.count(F.lit(1)).alias("d"))
    stats = outdeg.agg(
        F.sum(F.expr("d * (d - 1) div 2")).alias("P"),
        F.max("d").alias("max_outdeg")).collect()[0]
    print(f"m={m} 2-paths P={stats['P']} max_outdeg={stats['max_outdeg']}")

    # --- correctness first ---
    a = G.triangle_count(edges, assume_canonical=True).collect()[0][0]
    b = intersect_count(edges).collect()[0][0]
    print(f"shipped count={a} intersect count={b} equal={a == b}")
    if a != b:
        raise SystemExit("MISMATCH — do not ship")

    # --- timing, from raw derive (full query path) ---
    run(spark, "shipped triangle_count (full path)",
        lambda: G.triangle_count(derive_edges(spark, sf),
                                 assume_canonical=True), args.runs)
    run(spark, "intersect count (full path)",
        lambda: intersect_count(derive_edges(spark, sf)), args.runs)


if __name__ == "__main__":
    main()


def intersect_enum(edges, assume_canonical=True):
    """Full enumeration via intersect + explode — candidate replacement
    for the shipped triangles() corners."""
    ce, o, nparts = oriented_with_parts(edges, assume_canonical)
    adj = o.groupBy("lo").agg(F.collect_list("hi").alias("nbrs"))
    e1 = o.join(adj, "lo").select(
        "lo", F.col("hi").alias("join_hi"), F.col("nbrs").alias("n_lo"))
    e2 = e1.join(adj.select(F.col("lo").alias("join_hi"),
                            F.col("nbrs").alias("n_hi")), "join_hi")
    tri = e2.select(
        F.col("lo").alias("w"), F.col("join_hi").alias("x"),
        F.explode(F.array_intersect("n_lo", "n_hi")).alias("y"))
    abc = F.array_sort(F.array("w", "x", "y"))
    return tri.select(abc.getItem(0).alias("a"), abc.getItem(1).alias("b"),
                      abc.getItem(2).alias("c"))
