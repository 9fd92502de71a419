"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <scale factor>}

Each query is materialized with the noop sink (full execution, no
driver collect — the reference's collect()-based "benchmark"
measured driver serialization as much as compute; SURVEY §3.1).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.join(HERE, "perfbench")]

from mapreduce_experiment_spark.plans.registry import SPECS  # noqa: E402
from mapreduce_experiment_spark.session import get_session  # noqa: E402
from status import StatusReader, sum_stages  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _sf_from_dir(path: str) -> float:
    m = re.search(r"sf([0-9.]+)", path)
    return float(m.group(1)) if m else -1.0


def _more_runs(runs: list[float]) -> bool:
    """Per-query run policy: 2 runs for trivial queries (min =
    reproducible capability); any query whose best run still exceeds
    1 s gets a mandatory 3rd run, and a 4th when the runs DISAGREE
    (spread >1.4x). On a shared box the same plan has burned 54-157
    executor-CPU-sec depending on ambient load, and a single burst has
    inflated three sub-second queries 6-10x TOGETHER — two
    back-to-back runs can agree on an inflated number, so non-trivial
    queries always get a third sample rather than only retrying on
    disagreement. (A burst spanning all 3-4 samples still wins; the
    recorded loadavg keys and the load-independent query_metrics are
    the tiebreaker for that case.)"""
    if len(runs) < 2:
        return True
    if min(runs) <= 1.0 or len(runs) >= 4:
        return False
    return len(runs) < 3 or max(runs) / min(runs) > 1.4


def measure(spark, build, more, reader: StatusReader | None = None) -> dict:
    """Time ``build()`` and its noop-sink execution while ``more(walls)``
    asks for another run; the one measurement loop of bench.py and the
    profiling scripts.

    Each run clears the cache (``connected_components`` persists its
    edge table for the length of the call, so a failed run could leave
    it behind and the next would measure a warm cache) and drains the
    status reader. The build phase is ``build()`` itself, eager
    checkpoints included; the execute phase is the observed noop write.
    Jobs are counted per phase. Returns the best run's ``wall_s``,
    ``build_s``, ``exec_s``, ``build_jobs``, ``exec_jobs`` and ``rows``,
    plus the per-field minimum over runs of :func:`sum_stages`: the
    same plan moves the same bytes, and GC, spill and peak memory are
    only ever inflated by transient pressure.

    A caller that measures many queries passes one ``reader``: a fresh
    one walks the whole retained status store on its first drain,
    about 1.2 s at the default 1,000-stage retention."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    reader = reader or StatusReader(spark)
    walls: list[float] = []
    best: dict = {}
    stages: dict = {}
    while more(walls):
        spark.catalog.clearCache()
        reader.settle()
        reader.new_stages()
        reader.new_jobs()
        obs = Observation()
        t0 = time.perf_counter()
        df = build()
        build_s = time.perf_counter() - t0
        reader.settle()
        build_jobs = len(reader.new_jobs())
        t0 = time.perf_counter()
        df.observe(obs, F.count(F.lit(1)).alias("rows")) \
            .write.format("noop").mode("overwrite").save()
        exec_s = time.perf_counter() - t0
        reader.settle()
        exec_jobs = len(reader.new_jobs())
        run = sum_stages(reader.new_stages())
        stages = {k: min(stages.get(k, v), v) for k, v in run.items()}
        walls.append(build_s + exec_s)
        if walls[-1] == min(walls):
            best = {"wall_s": round(walls[-1], 3),
                    "build_s": round(build_s, 3),
                    "exec_s": round(exec_s, 3),
                    "build_jobs": build_jobs, "exec_jobs": exec_jobs,
                    "rows": int(obs.get["rows"])}
    return {**best, **stages}


def _run_suite(spark, sf_dir: str, order_seed: int | None = None):
    import random

    specs = {n: s for n, s in SPECS().items() if s.headline}
    # Untimed warm-up: JIT/codegen compilation and filesystem metadata
    # otherwise land entirely on the first timed query.
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")) \
        .limit(1000).write.format("noop").mode("overwrite").save()
    # Per-invocation RANDOMIZED query order (seeded + recorded in the
    # output): in a fixed order a recurring late-run load burst lands
    # on the same final query every invocation, poisoning exactly one
    # query's comparison. Randomizing decorrelates the burst from any
    # particular query so best-of floors converge without hand-triage.
    if order_seed is None:
        order_seed = int.from_bytes(os.urandom(4), "little")
    names = sorted(specs)
    random.Random(order_seed).shuffle(names)
    timings: dict[str, float] = {}
    metrics: dict[str, dict] = {}
    reader = StatusReader(spark)
    # The persisted-INDEX queries' app-memoized index survives the
    # per-run cache clear by design, so their wall measures the probe,
    # the recurring cost.
    for name in names:
        rec = measure(spark, lambda n=name: specs[n].fn(spark, sf_dir),
                      _more_runs, reader)
        timings[name] = rec.pop("wall_s")
        metrics[name] = rec
    return timings, metrics, {"order_seed": order_seed, "order": names}


def main() -> None:
    load_before = os.getloadavg()
    spark = get_session(app_name="spark-graft-bench")
    timings, metrics, order = _run_suite(spark, SF_DIR)
    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        # Per query: the build/execute split, jobs per phase, output
        # rows and the stage counters (see measure). Bytes moved and
        # CPU separate plan regressions from box noise in the walls.
        "query_metrics": metrics,
        # Randomized execution order, recorded so a burst-affected run
        # is attributable to its position in the suite.
        "order_seed": order["order_seed"],
        "query_order": order["order"],
        "sf": _sf_from_dir(SF_DIR),
    }
    # Second scale point: round-over-round regressions at the primary
    # sf are only attributable if a 10x-smaller run moves in the same
    # direction (separates plan regressions from JVM/box noise).
    second = os.environ.get("SPARK_GRAFT_SF_DIR_2", "/root/testdata/sf0.01")
    if second and os.path.isdir(second) and second != SF_DIR:
        t2, m2, order2 = _run_suite(spark, second)
        out["queries_sf2"] = t2
        out["query_metrics_sf2"] = m2
        out["order_seed_sf2"] = order2["order_seed"]
        out["query_order_sf2"] = order2["order"]
        out["value_sf2"] = round(sum(t2.values()), 3)
        out["sf2"] = _sf_from_dir(second)
    # Contention context: this box carries bursty EXTERNAL load
    # (observed 1-min loadavg 0.4 → 9.9 across a single run), which
    # dominates run-over-run wall-clock deltas. Recording it makes
    # each bench record self-describing.
    out["loadavg_1m_before"] = round(load_before[0], 2)
    out["loadavg_1m_after"] = round(os.getloadavg()[0], 2)
    print(json.dumps(out))
    # The consumer records only the TAIL of stdout (observed: last
    # 2000 bytes), and the full line above outgrew that in round 5 —
    # the sf0.1 headline was lost to truncation. Emit a compact
    # summary LAST (<500 bytes: headline + per-query walls only) so
    # the tail always ends with one complete, parseable JSON line,
    # and persist the full payload to a local file for the record.
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": "sec",
        "queries": timings,
        "sf": out["sf"],
    }
    for k in ("value_sf2", "sf2", "loadavg_1m_before", "loadavg_1m_after"):
        if k in out:
            compact[k] = out[k]
    # Best-effort only: a read-only checkout or full disk must never
    # suppress the compact line below (losing it would re-create the
    # truncation failure this exists to fix). BENCHFULL.json is the
    # LATEST run, clobbered each invocation and gitignored.
    try:
        with open(os.path.join(HERE, "BENCHFULL.json"), "w") as f:
            json.dump(out, f)
    except OSError:
        pass
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
