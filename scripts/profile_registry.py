"""Registry profiler: wall + stage metrics + formatted plan for EVERY
registered query at one sf (default sf0.1).

Unlike bench.py (the headline queries), this measures the full
registry to rank optimization targets and snapshots each query's
.explain("formatted") to <out>/plans/<name>_<tag>.txt so plan claims
are checkable offline.

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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = "/tmp/spark-graft-profile"
sys.path.insert(0, ROOT)

from bench import _merge_deltas, _stage_delta, _stage_snapshot  # noqa: E402
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
    for i, name in enumerate(names):
        spec = specs[name]
        sys.stderr.write(f"[{i + 1}/{len(names)}] {name}\n")
        sys.stderr.flush()
        rec: dict = {}
        try:
            best = None
            best_delta = None
            rows = None
            for r in range(args.runs):
                spark.catalog.clearCache()
                spark.sparkContext.setJobDescription(f"{name} run{r}")
                before = _stage_snapshot(spark)
                t0 = time.perf_counter()
                df = spec.fn(spark, args.sf_dir)
                df.write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
                after = _stage_snapshot(spark)
                best = dt if best is None else min(best, dt)
                if before is not None and after is not None:
                    delta = _stage_delta(before, after)
                    best_delta = (delta if best_delta is None
                                  else _merge_deltas(best_delta, delta))
                spark.sparkContext.setJobDescription(None)
            rec["wall_sec"] = round(best, 3)
            if best_delta:
                rec.update({k: int(v) for k, v in best_delta.items()})
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
    ranked = sorted(out.items(),
                    key=lambda kv: -kv[1].get("wall_sec", 0.0))
    for n, r in ranked[:25]:
        print(f"{r.get('wall_sec', -1):8.3f}s  cpu={r.get('executor_cpu_time_ms', -1):>7}ms  "
              f"exch={r.get('n_exchange', -1):>2}  {n}"
              + (f"  ERROR {r['error']}" if "error" in r else ""))
    print(f"total wall: {sum(r.get('wall_sec', 0.0) for r in out.values()):.1f}s -> {path}")


if __name__ == "__main__":
    main()
