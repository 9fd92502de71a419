"""Registry profiler: wall, build/execute split, stage metrics and
formatted plan for EVERY registered query at one sf (default sf0.1).

Unlike bench.py (the headline queries), this measures the full
registry to rank optimization targets, through bench.py's measure
loop, and snapshots each query's .explain("formatted") to
<out>/plans/<name>_<tag>.txt so plan claims are checkable offline.

Usage: python scripts/profile_registry.py [--tag before] [--sf-dir DIR]
       [--only name1,name2] [--runs 2] [--no-plans]
Writes JSON to <out>/<tag>.json, where <out> is /tmp/spark-graft-profile
(outside the checkout, so profiling leaves the tree clean).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = "/tmp/spark-graft-profile"
sys.path.insert(0, ROOT)

from bench import StatusReader, measure  # noqa: E402
from mapreduce_experiment_spark.plans.registry import SPECS  # noqa: E402
from mapreduce_experiment_spark.session import get_session  # noqa: E402


def explain_formatted(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    return df._jdf.queryExecution().explainString(mode)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default="before")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--only", default="")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--no-plans", action="store_true")
    args = ap.parse_args()

    plans_dir = os.path.join(OUT, "plans")
    os.makedirs(plans_dir, exist_ok=True)

    spark = get_session(app_name=f"spark-graft-profile-{args.tag}")
    specs = SPECS()
    names = [n for n in specs if not args.only or n in args.only.split(",")]
    # Warm-up: JIT + fs metadata off the first timed query.
    spark.read.parquet(os.path.join(args.sf_dir, "lineitem.parquet")) \
        .limit(1000).write.format("noop").mode("overwrite").save()

    out: dict[str, dict] = {}
    reader = StatusReader(spark)
    for i, name in enumerate(names):
        spec = specs[name]
        sys.stderr.write(f"[{i + 1}/{len(names)}] {name}\n")
        sys.stderr.flush()
        rec: dict = {}
        try:
            spark.sparkContext.setJobDescription(name)
            rec = measure(spark, lambda: spec.fn(spark, args.sf_dir),
                          lambda walls: len(walls) < args.runs, reader)
            spark.sparkContext.setJobDescription(None)
            if not args.no_plans:
                df = spec.fn(spark, args.sf_dir)
                plan = explain_formatted(df)
                with open(os.path.join(plans_dir,
                                       f"{name}_{args.tag}.txt"), "w") as f:
                    f.write(plan)
                rec["n_exchange"] = plan.count("Exchange")
                rec["n_python"] = (plan.count("BatchEvalPython")
                                   + plan.count("ArrowEvalPython")
                                   + plan.count("MapInPandas")
                                   + plan.count("MapInArrow"))
                for j in ("SortMergeJoin", "BroadcastHashJoin",
                          "ShuffledHashJoin", "CartesianProduct",
                          "BroadcastNestedLoopJoin"):
                    c = plan.count(j)
                    if c:
                        rec[f"n_{j}"] = c
        except Exception as e:  # noqa: BLE001 — record, keep profiling
            rec["error"] = f"{type(e).__name__}: {e}"[:500]
        out[name] = rec

    path = os.path.join(OUT, f"{args.tag}.json")
    with open(path, "w") as f:
        json.dump({"sf_dir": args.sf_dir, "runs": args.runs,
                   "loadavg_1m": round(os.getloadavg()[0], 2),
                   "queries": out}, f, indent=1, sort_keys=True)
    ranked = sorted(out.items(), key=lambda kv: -kv[1].get("wall_s", 0.0))
    print("  wall_s  build_s  exec_s  build_jobs   cpu_s  exch  query")
    for n, r in ranked[:25]:
        print(f"{r.get('wall_s', -1):8.3f} {r.get('build_s', -1):8.3f} "
              f"{r.get('exec_s', -1):7.3f} {r.get('build_jobs', -1):11d} "
              f"{r.get('cpu_ns', -1e9) / 1e9:7.2f} "
              f"{r.get('n_exchange', -1):5d}  {n}"
              + (f"  ERROR {r['error']}" if "error" in r else ""))
    print(f"total wall: {sum(r.get('wall_s', 0.0) for r in out.values()):.1f}s -> {path}")


if __name__ == "__main__":
    main()
