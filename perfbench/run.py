"""Benchmark of the spark-graft engine, end to end and per layer.

Run from the repository root:

    python3 perfbench/run.py --workload graph_rgd --seed 1 --seconds 12 --trace 0

One client runs the workload's queries in a closed loop, in this process,
against a ``local[nproc]`` session from ``session.get_session``. It calls
only the package's public functions. A pass runs every query once, one
at a time, in an order drawn from the seed. The first pass after
start-up is an untimed warm-up (JIT and codegen make it two to three
times as slow); it runs the queries in the workload's own order. Then
at least two timed passes run, and more while ``--seconds`` allow;
past them, more run while the fastest pass so far lost CPU to steal,
up to a process-age deadline. Every result is checked.

Wall and CPU times are taken from the fastest timed pass. The JIT is
still compiling during the first of them, and on a shared host other
tenants take CPU away (``steal`` in /proc/stat) for tens of seconds at
a time, which only ever adds time: a pass that lost 12 CPU-seconds to
steal took twice as long as one that lost none. The fastest pass is
the one least disturbed by either. Each pass's wall, CPU and steal
seconds are on the description line.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The line before
it describes the run: host, versions, heap, load, inputs and the error
rate. The full record, with the spans of a traced run, is written under
``perfbench/results/``.

End-to-end metrics (``--trace 0``):

- ``setup_s``: process start through ``get_session`` and a first
  trivial job.
- ``pass_s``: wall time of the fastest timed pass.
- ``input_rows_per_s``: the workload's input rows divided by ``pass_s``.
- ``cpu_s``: executor CPU seconds of the pass with the least, from the
  status store.

The error rate (failed over attempted query executions, a wrong result
or a raised error counting as failed) is the ``failed``/``attempted``
pair of the result line. It is 0 on a correct engine, so it is printed
on the description line rather than as a metric.

``--trace 1`` alternates traced and untraced timed passes, the seed's
parity choosing which comes first, and reports the per-layer metrics of
the traced ones (see ``PER_LAYER``), plus ``trace.overhead_s``: the
traced minus the untraced fastest pass time. It then runs the workload's
extra queries (graph_rgd's streaming count, corpus_curation's MinHash
pairs) once untraced, to warm them, and once traced; the layers only
they touch take their numbers from that run.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback


def process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from status import StatusReader, covered_seconds, sum_stages  # noqa: E402
from spans import Tracer, descendants, layer_self_times  # noqa: E402

END_TO_END = {"setup_s": "s", "pass_s": "s", "input_rows_per_s": "1/s",
              "cpu_s": "s"}

QUERY_NAMES = ("read_edge_list", "triangle_count_simple",
               "triangle_count_faithful", "streaming_triangle_count",
               "clean_corpus", "minhash_dedup_pairs",
               "embedding_near_dups_indexed")

# Per-layer metric -> the span whose duration it is (summed per pass).
LAYER_SPANS = {
    "sources.read_s": "sources.read_edge_list",
    "graph.canonical_s": "graph.canonical_edges",
    "graph.simple_count_s": "graph.triangle_count_simple",
    "graph.faithful_count_s": "graph.triangle_count_faithful",
    "dedup.survivors_s": "dedup.dedup_survivors",
    "dedup.span_dedup_s": "dedup.span_deduped_corpus",
    "dedup.minhash_pairs_s": "dedup.minhash_dedup_pairs",
    "similarity.probe_s": "similarity.embedding_near_dups_from_index",
}
LAYERS = ("bench", "plans", "exec", "sources", "graph", "streaming", "dedup",
          "similarity")

PER_LAYER = {
    "session.get_session_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    **{f"plans.query_s.{q}": "s" for q in QUERY_NAMES},
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.peak_mem_mb": "MB",
    "exec.core_utilization": "ratio",
    "driver.idle_gap_s": "s",
    "sources.rows": "count",
    **{m: "s" for m in LAYER_SPANS},
    "similarity.index_build_s": "s",
    "streaming.batches": "count",
    "streaming.batch_p50_s": "s",
    "streaming.batch_max_s": "s",
    "streaming.state_write_mb": "MB",
    "streaming.write_amp": "ratio",
    **{f"self_s.{layer}": "s" for layer in LAYERS},
    "trace.overhead_s": "s",
    "warehouse.index_dirs": "count",
    "warehouse.index_mb": "MB",
}

MB = 1 << 20
MIN_TIMED_PASSES = 2
# No timed pass starts that would end past this process age, so a run,
# a traced run's extras (up to a minute) and teardown included, stays
# under three minutes.
PASS_DEADLINE_AGE_S = 100.0
# Nor does one past the minimum that would end past this age: set-up and
# warm-up take 35 s on a quiet host and up to 55 s on a busy one.
EXTRA_PASS_DEADLINE_AGE_S = 68.0
# A pass that lost at most this many CPU-seconds to steal ran on a quiet
# host (quiet passes lose 0-0.4 s; passes that lose 1 s or more run
# 20-50% slower). Once --seconds are used, passes go on, up to the age
# deadline, only until the fastest pass is such a clean one.
CLEAN_STEAL_S = 0.5


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def another_pass(passes: list[dict], measured_s: float, seconds: float,
                 age_s: float) -> bool:
    """Whether to run one more timed pass after ``passes`` (each with
    ``wall_s`` and ``steal_s``), ``measured_s`` into the measurement, at
    process age ``age_s``."""
    next_s = median([p["wall_s"] for p in passes])
    end_age = age_s + next_s
    if end_age > PASS_DEADLINE_AGE_S:
        return False
    if len(passes) < MIN_TIMED_PASSES:
        return True
    if end_age > EXTRA_PASS_DEADLINE_AGE_S:
        return False
    fastest = min(passes, key=lambda p: p["wall_s"])
    return (measured_s + next_s <= seconds
            or fastest["steal_s"] > CLEAN_STEAL_S)


# --- host description -----------------------------------------------------

def mem_total_kib() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap(mem_kib: int) -> str:
    """A quarter of the box's RAM, in whole GiB, between 1g and 8g: the
    engine's 16g default exceeds a 16 GiB box, and the driver JVM here is
    shared with the Python client and DuckDB."""
    return f"{max(1, min(8, mem_kib // (4 << 20)))}g"


def steal_ticks() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def git_head() -> str | None:
    """The commit of the checkout, read from .git without running git
    (a checkout without .git has none)."""
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        path = os.path.join(ROOT, ".git", ref)
        if os.path.isfile(path):
            with open(path) as f:
                return f.read().strip()
        with open(os.path.join(ROOT, ".git", "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return None


def index_leftovers(app_id: str) -> tuple[list[str], int]:
    """The ``*_index_local_*`` dirs this application left in the
    repository's ``spark-warehouse/``, and their total bytes."""
    from workloads import dir_bytes

    base = os.path.join(ROOT, "spark-warehouse")
    tag = app_id.replace("-", "_")
    try:
        dirs = [os.path.join(base, d) for d in os.listdir(base)
                if "_index_local_" in d and tag in d]
    except OSError:
        return [], 0
    return dirs, sum(dir_bytes(d) for d in dirs)


# --- one pass ---------------------------------------------------------------

class Runner:
    """Runs passes of one workload and keeps their measurements."""

    def __init__(self, spark, wl, tracer):
        self.wl, self.tr = wl, tracer
        self.reader = StatusReader(spark)
        self.attempted = 0
        self.failed = 0
        self.passes: list[dict] = []

    def run_pass(self, queries, traced: bool, kind: str | None) -> None:
        """Run ``queries`` once each, in order. A pass with a ``kind``
        ("timed" or "extra") is kept for the metrics."""
        self.reader.settle()
        self.reader.new_stages()
        self.reader.new_jobs()
        self.tr.enabled = traced
        steal0 = steal_ticks()
        w0 = time.time()
        t0 = time.perf_counter()
        with self.tr.span("bench.pass", index=len(self.passes)) as sp:
            outcomes = [self._run_query(q) for q in queries]
        wall = time.perf_counter() - t0
        w1 = time.time()
        steal = (steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK")
        self.tr.enabled = False
        self.reader.settle()
        stages = sum_stages(self.reader.new_stages())
        jobs = self.reader.new_jobs()
        extra = self.wl.after_pass()
        n_ok = 0
        for q, (res, err) in zip(queries, outcomes):
            ok = err is None and self._check(q, res)
            n_ok += ok
            if not ok:
                print(f"perfbench: {q.name} failed: {err or 'wrong result'}",
                      file=sys.stderr)
        self.attempted += len(outcomes)
        self.failed += len(outcomes) - n_ok
        if kind:
            rows = {q.name: res for q, (res, _) in zip(queries, outcomes)}
            self.passes.append({
                "kind": kind, "traced": traced, "wall_s": wall,
                "steal_s": steal, "window": (w0, w1),
                "stages": stages, "jobs": jobs, "extra": extra,
                "span": sp.id if sp else None, "n_ok": n_ok,
                "rows": rows.get("read_edge_list")})

    def _run_query(self, q):
        try:
            with self.tr.span(f"plans.query.{q.name}"):
                return q.run(self.tr), None
        except Exception as e:  # noqa: BLE001 - counted as a failed execution
            traceback.print_exc(file=sys.stderr)
            return None, repr(e)

    @staticmethod
    def _check(q, res) -> bool:
        try:
            return bool(q.check(res))
        except Exception:  # noqa: BLE001 - a malformed result is wrong
            traceback.print_exc(file=sys.stderr)
            return False


def exec_metrics(p: dict, cpus: int) -> dict:
    s, (w0, w1) = p["stages"], p["window"]
    busy = covered_seconds(p["jobs"], w0, w1)
    return {
        "exec.s": busy,
        "exec.jobs": len(p["jobs"]),
        "exec.stages": s["stages"],
        "exec.tasks": s["tasks"],
        "exec.cpu_s": s["cpu_ns"] / 1e9,
        "exec.gc_s": s["gc_ms"] / 1e3,
        "exec.shuffle_write_mb": s["shuffle_write_bytes"] / MB,
        "exec.shuffle_read_mb": s["shuffle_read_bytes"] / MB,
        "exec.spill_mb": s["spill_bytes"] / MB,
        "exec.peak_mem_mb": s["peak_mem_bytes"] / MB,
        "exec.core_utilization": s["run_ms"] / 1e3 / (p["wall_s"] * cpus),
        "driver.idle_gap_s": p["wall_s"] - busy,
    }


def span_metrics(p: dict, tracer: Tracer) -> dict:
    """Per-layer numbers of one traced pass, from its spans."""
    spans = descendants(tracer.spans, p["span"])
    dur: dict[str, float] = {}
    for s in spans:
        dur[s.name] = dur.get(s.name, 0.0) + (s.end - s.start)
    out = {m: dur.get(name, 0.0) for m, name in LAYER_SPANS.items()}
    for q in QUERY_NAMES:
        out[f"plans.query_s.{q}"] = dur.get(f"plans.query.{q}", 0.0)
    # Build = query time outside its final action; build jobs are the
    # jobs submitted there (eager checkpoints, stream input, micro-batches).
    queries = [s for s in spans if s.name.startswith("plans.query.")]
    actions = [(s.start, s.end) for s in spans if s.name == "exec.action"]
    out["plans.build_s"] = (sum(s.end - s.start for s in queries)
                            - dur.get("exec.action", 0.0))

    def in_build(t: float) -> bool:
        return (any(q.start <= t <= q.end for q in queries)
                and not any(a <= t <= b for a, b in actions))

    out["plans.build_jobs"] = sum(in_build(a) for a, _ in p["jobs"])
    selfs = layer_self_times(spans)
    for layer in LAYERS:
        out[f"self_s.{layer}"] = selfs.get(layer, 0.0)
    ex = p["extra"]
    batches = ex.get("batch_s", [])
    out["streaming.batches"] = len(batches)
    out["streaming.batch_p50_s"] = median(batches)
    out["streaming.batch_max_s"] = max(batches, default=0.0)
    out["streaming.state_write_mb"] = ex.get("state_bytes", 0) / MB
    out["streaming.write_amp"] = (ex["state_bytes"] / ex["input_bytes"]
                                  if ex.get("input_bytes") else 0.0)
    out["sources.rows"] = p["rows"] if isinstance(p["rows"], int) else 0
    return out


# --- the run ----------------------------------------------------------------

def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "mapreduce_experiment_spark",
                                       "session.py")):
        print(f"perfbench: the engine package is missing under {ROOT}",
              file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(HERE, ".work", run_id)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cpus = len(os.sched_getaffinity(0))
    mem_kib = mem_total_kib()
    heap = driver_heap(mem_kib)
    os.environ.update(SPARK_GRAFT_CPUS=str(cpus), SPARK_GRAFT_DRIVER_MEM=heap,
                      TMPDIR=tmp, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    host = {"cpus": cpus, "mem_kib": mem_kib, "heap": heap,
            "loadavg": os.getloadavg(), "steal": steal_ticks()}
    os.chdir(work)  # derby.log, metastore and relative warehouse stay here
    try:
        return _run(args, run_id, work, tmp, host)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


def _run(args, run_id: str, work: str, tmp: str, host: dict) -> int:
    import workloads

    cpus = host["cpus"]

    tracer = Tracer(run_id)
    tracer.enabled = bool(args.trace)
    with tracer.span("session.get_session"):
        t0 = time.perf_counter()
        from mapreduce_experiment_spark.session import get_session

        spark = get_session(
            app_name="perfbench", cpus=cpus,
            extra_conf={"spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"})
        get_session_s = time.perf_counter() - t0
    with tracer.span("session.first_job"):
        spark.range(1).count()
    setup_s = process_age()

    sc = spark.sparkContext
    jvm = sc._gateway.proc
    app_id = sc.applicationId
    info = {"workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "nproc": cpus,
            "mem_total_gib": round(host["mem_kib"] / (1 << 20), 2),
            "driver_heap": host["heap"], "spark": spark.version,
            "java": sc._jvm.System.getProperty("java.version"),
            "python": platform.python_version(), "git_head": git_head(),
            "loadavg_before": host["loadavg"]}
    try:
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed)
        info["inputs"] = wl.props
        queries = workloads.seeded_order(wl.queries(), args.seed)
        info["query_order"] = [q.name for q in queries]
        ages = {"setup": setup_s, "inputs": process_age()}
        runner = Runner(spark, wl, tracer)
        runner.run_pass(wl.queries(), traced=False, kind=None)
        ages["warmup"] = process_age()
        t_meas = time.perf_counter()
        # At least MIN_TIMED_PASSES, then more while --seconds allow or
        # the fastest pass was not clean, up to EXTRA_PASS_DEADLINE_AGE_S.
        # A traced run alternates traced and untraced passes; the seed's
        # parity picks which comes first, so pass order does not bias
        # trace.overhead_s one way.
        while True:
            n = len(runner.passes)
            runner.run_pass(queries, kind="timed",
                            traced=bool(args.trace) and (n + args.seed) % 2 == 0)
            if n >= 1 and not any(p["n_ok"] for p in runner.passes[-2:]):
                break  # two passes without one good query: engine is down
            if not another_pass(runner.passes, time.perf_counter() - t_meas,
                                args.seconds, process_age()):
                break
        ages["measure"] = process_age()
        if args.trace and wl.extras():
            runner.run_pass(wl.extras(), traced=False, kind=None)
            runner.run_pass(wl.extras(), traced=True, kind="extra")
            ages["extras"] = process_age()
        hwm = jvm_peak_rss_mb(jvm.pid)
    finally:
        stop_engine(spark, jvm)
    ages["stopped"] = process_age()
    leftovers, leftover_bytes = index_leftovers(app_id)
    for d in leftovers:
        shutil.rmtree(d, ignore_errors=True)

    timed = [p for p in runner.passes if p["kind"] == "timed"]
    untraced = [p for p in timed if not p["traced"]]
    traced = [p for p in timed if p["traced"]]
    pass_s = min([p["wall_s"] for p in untraced], default=0.0)
    info.update({
        "loadavg_after": os.getloadavg(),
        "cpu_steal_s": (steal_ticks() - host["steal"])
        / os.sysconf("SC_CLK_TCK"),
        "passes": len(untraced), "traced_passes": len(traced),
        "pass_walls_s": [round(p["wall_s"], 4) for p in timed],
        "pass_cpu_s": [round(p["stages"]["cpu_ns"] / 1e9, 3) for p in timed],
        "pass_steal_s": [round(p["steal_s"], 2) for p in timed],
        "phase_end_age_s": {k: round(v, 2) for k, v in ages.items()},
        "error_rate": runner.failed / max(1, runner.attempted),
        "index_local_dirs": len(leftovers),
        "index_local_mb": leftover_bytes / MB,
    })
    if args.trace:
        per = [dict(exec_metrics(p, cpus), **span_metrics(p, tracer))
               for p in traced]
        values = {m: median([x[m] for x in per]) for m in per[0]} if per else {}
        # Layers the timed passes do not touch (streaming) take their
        # numbers from the traced extra run.
        for p in runner.passes:
            if p["kind"] == "extra":
                for m, v in span_metrics(p, tracer).items():
                    values[m] = values.get(m) or v
        values.update({
            "session.get_session_s": get_session_s,
            "session.jvm_peak_rss_mb": hwm,
            "similarity.index_build_s": getattr(wl, "index_build_s", 0.0),
            "trace.overhead_s": min(p["wall_s"] for p in traced)
            - pass_s if traced and untraced else 0.0,
            "warehouse.index_dirs": len(leftovers),
            "warehouse.index_mb": leftover_bytes / MB,
        })
        units = PER_LAYER
    else:
        values = {
            "setup_s": setup_s,
            "pass_s": pass_s,
            "input_rows_per_s": wl.input_rows / pass_s if pass_s else 0.0,
            "cpu_s": min([p["stages"]["cpu_ns"] / 1e9 for p in untraced],
                         default=0.0),
        }
        units = END_TO_END
    metrics = {m: {"value": values.get(m, 0.0), "unit": u}
               for m, u in units.items()}
    result = {"correct": runner.failed == 0, "attempted": runner.attempted,
              "failed": runner.failed, "metrics": metrics}
    write_record(run_id, info, result, tracer if args.trace else None)
    print(json.dumps({"info": info}))
    print(json.dumps(result))
    return 0


def jvm_peak_rss_mb(pid: int) -> float:
    """The JVM's peak resident set (VmHWM); 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def stop_engine(spark, jvm) -> None:
    """Stop the session and wait for the JVM to exit; the gateway JVM
    exits when its stdin closes."""
    try:
        spark.stop()
        spark.sparkContext._gateway.shutdown()
    except Exception:  # noqa: BLE001 - a dead JVM cannot be stopped
        traceback.print_exc(file=sys.stderr)
    finally:
        if jvm.stdin:
            jvm.stdin.close()
        try:
            jvm.wait(timeout=30)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()


def write_record(run_id: str, info: dict, result: dict, tracer) -> None:
    out = os.path.join(HERE, "results")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{run_id}.json"), "w") as f:
        json.dump({"info": info, "result": result}, f, indent=1)
    if tracer is not None:
        tracer.write(os.path.join(out, f"{run_id}-spans.json"))


if __name__ == "__main__":
    sys.exit(main())
