"""Read Spark's AppStatusStore from outside the engine package.

The store works with the UI disabled. It is filled from the listener
bus, so a reader waits for the bus to drain before it reads. Its stage
and job lists come back newest first, so each read walks only the
entries it has not seen.
The pure helpers below (:func:`sum_stages`, :func:`covered_seconds`)
hold the arithmetic and are unit-tested without Spark.
"""

from __future__ import annotations

# Per-stage counters summed over a pass; ``peak_mem_bytes`` is a
# per-stage high-water mark, so it is maxed instead.
STAGE_FIELDS = (
    "tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "peak_mem_bytes",
)
_MAXED = {"peak_mem_bytes"}


def sum_stages(stages: list[dict]) -> dict:
    """Aggregate stage records: counters sum, peak memory is a max, and
    ``stages`` counts the stages that ran at least one task (a skipped
    stage re-used an earlier shuffle and did no work)."""
    out = {k: 0 for k in STAGE_FIELDS}
    out["stages"] = 0
    for s in stages:
        for k in STAGE_FIELDS:
            out[k] = max(out[k], s[k]) if k in _MAXED else out[k] + s[k]
        out["stages"] += s["tasks"] > 0
    return out


def covered_seconds(intervals: list[tuple[float, float]], lo: float,
                    hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class StatusReader:
    """Incremental reader of finished stages and jobs of one SparkContext."""

    def __init__(self, spark):
        sc = spark.sparkContext
        gw = sc._gateway
        self._bus = sc._jsc.sc().listenerBus()
        self._store = sc._jsc.sc().statusStore()
        self._empty = gw.jvm.java.util.ArrayList()
        self._quantiles = gw.new_array(gw.jvm.double, 0)
        self._seen_stages: set[tuple[int, int]] = set()
        self._seen_jobs: set[int] = set()

    def settle(self, timeout_ms: int = 10_000) -> None:
        """Wait until the listener bus has delivered every posted event:
        the store is filled asynchronously, so a job that has just
        returned may not be in it yet."""
        self._bus.waitUntilEmpty(timeout_ms)

    def new_stages(self) -> list[dict]:
        """Records of the finished stages not returned before."""
        lst = self._store.stageList(self._empty, False, False,
                                    self._quantiles, self._empty)
        out = []
        for i in range(lst.size()):
            s = lst.apply(i)
            key = (s.stageId(), s.attemptId())
            if key in self._seen_stages:
                break
            if str(s.status()) in ("ACTIVE", "PENDING"):
                continue
            self._seen_stages.add(key)
            out.append({
                "tasks": s.numCompleteTasks() + s.numFailedTasks(),
                "run_ms": s.executorRunTime(),
                "cpu_ns": s.executorCpuTime(),
                "gc_ms": s.jvmGcTime(),
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "shuffle_read_bytes": s.shuffleReadBytes(),
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                "peak_mem_bytes": s.peakExecutionMemory(),
            })
        return out

    def new_jobs(self) -> list[tuple[float, float]]:
        """``(submitted, completed)`` epoch seconds of the finished jobs
        not returned before."""
        lst = self._store.jobsList(self._empty)
        out = []
        for i in range(lst.size()):
            j = lst.apply(i)
            jid = j.jobId()
            if jid in self._seen_jobs:
                break
            sub, done = j.submissionTime(), j.completionTime()
            if not (sub.isDefined() and done.isDefined()):
                continue
            self._seen_jobs.add(jid)
            out.append((sub.get().getTime() / 1000.0,
                        done.get().getTime() / 1000.0))
        return out
