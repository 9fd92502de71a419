"""r19 pagerank loop-state experiment (VERDICT item 4): can the
per-round contrib join run exchange-free when the loop state is
explicitly co-partitioned and localCheckpoint'd (LogicalRDD preserves
outputPartitioning, unlike the cached-plan route r18 measured)?

Variants over derive_edges(sf0.1), n_iter=10, identical arithmetic:
  A  current operator (persist edges_deg/nodes, checkpoint ranks)
  B  repartition(N, key) + localCheckpoint loop state, SHUFFLE_HASH
     hints (no per-round sort), ranks checkpoint keeps partitioning

Prints wall / executor CPU / shuffle bytes per variant plus the
executed-plan Exchange count of one mid-loop round.
"""

from __future__ import annotations

import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from bench import _stage_delta, _stage_snapshot  # noqa: E402
from mapreduce_experiment_spark.session import get_session  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_session(app_name="attr-pagerank")
    from pyspark.sql import functions as F

    from mapreduce_experiment_spark.operators.graph import (
        PAGERANK_SCALE, canonical_edges, pagerank,
    )
    from mapreduce_experiment_spark.plans.queries_graph import derive_edges

    edges = derive_edges(spark, sf_dir)

    def timed(label, fn):
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(label)
        b = _stage_snapshot(spark)
        t0 = time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t0
        d = _stage_delta(b, _stage_snapshot(spark))
        print(f"{label:34s} wall={dt:7.2f}s cpu={d['executor_cpu_time_ms']/1e3:7.2f}s "
              f"shW={d['shuffle_write_bytes']/1e6:8.2f}MB", flush=True)
        spark.sparkContext.setJobDescription(None)
        return out

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def variant_b(edges, n_iter=10, assume_canonical=True):
        ce = canonical_edges(edges, assume_canonical)
        nparts = max(64, 2 * spark.sparkContext.defaultParallelism)
        sym = ce.select(F.col("u").alias("a"), F.col("v").alias("b")) \
            .unionByName(ce.select(F.col("v").alias("a"),
                                   F.col("u").alias("b")))
        deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("outdeg"))
        edges_deg = (sym.join(deg, "a")
                     .repartition(nparts, F.col("a"))
                     .localCheckpoint())
        nodes = (sym.select(F.col("a").alias("node")).distinct()
                 .repartition(nparts, F.col("node"))
                 .localCheckpoint())
        n = nodes.count()
        r0 = PAGERANK_SCALE // n
        base = (15 * r0) // 100
        ranks = (nodes.select("node", F.lit(r0).alias("rank_micro"))
                 .localCheckpoint())
        plans = []
        for i in range(n_iter):
            sums = (
                edges_deg.hint("shuffle_hash")
                .join(ranks, edges_deg.a == ranks.node)
                .select(F.col("b"),
                        F.expr("rank_micro div outdeg").alias("contrib"))
                .groupBy(F.col("b").alias("node"))
                .agg(F.sum("contrib").alias("sm"))
            )
            new_ranks = (
                nodes.join(sums.hint("shuffle_hash"), "node", "left")
                .select(
                    "node",
                    (F.lit(base)
                     + F.expr("85 * coalesce(sm, 0L) div 100"))
                    .alias("rank_micro"),
                )
            )
            if i == 5:
                plans.append(new_ranks)
            ranks = new_ranks.localCheckpoint()
        return ranks, plans

    # Warm-up then two alternating measurements each.
    noop(pagerank(edges, assume_canonical=True))
    for _ in range(2):
        timed("A current", lambda: noop(
            pagerank(edges, assume_canonical=True)))
        timed("B copart ckpt + SHJ", lambda: noop(
            variant_b(edges)[0]))
    r, plans = variant_b(edges)
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    p = plans[0]._jdf.queryExecution().explainString(mode)
    print("round-6 subplan Exchange:", p.count("Exchange ("),
          "SMJ:", p.count("SortMergeJoin"),
          "SHJ:", p.count("ShuffledHashJoin"))
    # parity check
    a = pagerank(edges, assume_canonical=True)
    import pandas as pd  # noqa: F401
    pa = a.orderBy("node").toPandas()
    pb = r.orderBy("node").toPandas()
    print("bit-identical:", pa.equals(pb), len(pa))


if __name__ == "__main__":
    main()
