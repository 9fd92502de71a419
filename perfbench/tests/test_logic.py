"""Unit tests of the benchmark's own arithmetic and input generation.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
None of them starts Spark.
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import gen  # noqa: E402
import workloads  # noqa: E402
from run import another_pass, driver_heap, exec_metrics, median  # noqa: E402
from spans import Span, Tracer, layer_self_times, self_times  # noqa: E402
from status import covered_seconds, sum_stages  # noqa: E402


def _stage(tasks=1, **kw):
    s = {"tasks": tasks, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
         "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
         "spill_bytes": 0, "peak_mem_bytes": 0}
    s.update(kw)
    return s


def test_median_of_passes():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    assert median([]) == 0.0


def test_another_pass_until_seconds_then_until_a_clean_fastest_pass():
    def passes(*ws):
        return [{"wall_s": w, "steal_s": st} for w, st in ws]

    one = passes((8.0, 0.0))
    two_clean = passes((8.0, 2.0), (7.0, 0.1))
    two_stolen = passes((8.0, 0.1), (7.5, 2.0))
    # The minimum number of passes runs whatever --seconds say...
    assert another_pass(one, 8.0, 1.0, 40.0)
    # ...but never past the hard deadline.
    assert not another_pass(one, 8.0, 1.0, 95.0)
    # Past the minimum, more run while --seconds allow.
    assert another_pass(two_clean, 15.0, 30.0, 50.0)
    # Once they are used, only while the fastest pass lost CPU to steal,
    assert not another_pass(two_clean, 15.0, 16.0, 50.0)
    assert another_pass(two_stolen, 15.5, 16.0, 50.0)
    # and not past the deadline for extra passes.
    assert not another_pass(two_stolen, 15.5, 16.0, 68.0)


def test_sum_stages_adds_counters_and_maxes_peak_memory():
    got = sum_stages([
        _stage(tasks=4, cpu_ns=10, shuffle_write_bytes=100, peak_mem_bytes=7),
        _stage(tasks=2, cpu_ns=5, shuffle_write_bytes=50, peak_mem_bytes=9),
        _stage(tasks=0, peak_mem_bytes=1),  # skipped stage
    ])
    assert got["tasks"] == 6
    assert got["cpu_ns"] == 15
    assert got["shuffle_write_bytes"] == 150
    assert got["peak_mem_bytes"] == 9
    assert got["stages"] == 2


def test_sum_stages_of_nothing_is_zero():
    got = sum_stages([])
    assert got["stages"] == 0 and got["peak_mem_bytes"] == 0


def test_covered_seconds_merges_overlaps_and_clips():
    jobs = [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0), (-5.0, 0.5), (9.0, 12.0)]
    # [1,4] + [6,7] + [9,10] inside the window [0, 10]; the job before
    # the window is clipped away except its last 0.5 s.
    assert covered_seconds(jobs, 0.0, 10.0) == pytest.approx(3 + 1 + 1 + 0.5)
    assert covered_seconds([], 0.0, 10.0) == 0.0
    assert covered_seconds([(2.0, 5.0), (3.0, 4.0)], 0.0, 10.0) == 3.0


def test_idle_gap_is_wall_minus_job_union():
    p = {"stages": sum_stages([_stage(run_ms=8000)]), "wall_s": 10.0,
         "window": (100.0, 110.0),
         "jobs": [(101.0, 104.0), (103.0, 105.0), (108.0, 109.0)]}
    m = exec_metrics(p, cpus=4)
    assert m["exec.s"] == pytest.approx(5.0)
    assert m["driver.idle_gap_s"] == pytest.approx(5.0)
    assert m["exec.jobs"] == 3
    assert m["exec.core_utilization"] == pytest.approx(8.0 / (10.0 * 4))


def test_self_time_subtracts_children_once():
    spans = [
        Span(0, "plans.query.q", 0.0, 10.0, None, "r", {}),
        Span(1, "graph.count", 1.0, 9.0, 0, "r", {}),
        Span(2, "exec.action", 5.0, 8.0, 1, "r", {}),
        Span(3, "exec.action", 6.0, 8.5, 1, "r", {}),  # overlaps span 2
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(2.0)
    assert own[1] == pytest.approx(8.0 - 3.5)
    assert own[2] == pytest.approx(3.0)
    layers = layer_self_times(spans)
    assert layers == pytest.approx({"plans": 2.0, "graph": 4.5, "exec": 5.5})


def test_tracer_records_parents_only_when_enabled():
    tr = Tracer("run")
    with tr.span("a"):
        pass
    assert tr.spans == []
    tr.enabled = True
    with tr.span("a"):
        with tr.span("b"):
            pass
    assert [(s.name, s.parent) for s in tr.spans] == [("a", None), ("b", 0)]
    assert all(s.end >= s.start for s in tr.spans)


def test_driver_heap_is_a_quarter_of_ram_within_bounds():
    gib = 1 << 20  # KiB per GiB
    assert driver_heap(16 * gib) == "4g"
    assert driver_heap(15 * gib + 700_000) == "3g"
    assert driver_heap(2 * gib) == "1g"
    assert driver_heap(256 * gib) == "8g"


def _file_md5(path):
    with open(path, "rb") as f:
        return hashlib.md5(f.read()).hexdigest()


def test_rgd_generator_is_deterministic(tmp_path):
    a, b, c = (tmp_path / n for n in ("a.tsv", "b.tsv", "c.tsv"))
    pa = gen.write_rgd_edges(str(a), 7, 5000)
    pb = gen.write_rgd_edges(str(b), 7, 5000)
    gen.write_rgd_edges(str(c), 8, 5000)
    assert pa == pb
    assert _file_md5(a) == _file_md5(b)
    assert _file_md5(a) != _file_md5(c)


def test_rgd_generator_properties():
    edges, props = gen.rgd_edges(3, 20_000)
    assert len(edges) == props["lines"] == 20_000
    assert (edges > 0).all()
    loops = edges[:, 0] == edges[:, 1]
    assert loops.sum() == props["self_loops"] == 20
    lo, hi = edges.min(axis=1), edges.max(axis=1)
    pairs = set(zip(lo[~loops].tolist(), hi[~loops].tolist()))
    assert len(pairs) == props["simple_edges"]
    assert props["duplicate_lines"] == 20_000 - 20 - len(pairs)
    # Heavy tail: the top node's degree is far above the mean.
    assert props["max_degree"] > 20 * (2 * len(pairs) / props["nodes"])


def test_digest_ignores_row_and_column_order():
    a = checks.digest(["x", "y"], [(1, 0.5), (2, None)])
    b = checks.digest(["y", "x"], [(None, 2), (0.5000001, 1)])
    assert a == b and a["rows"] == 2
    assert checks.digest(["x", "y"], [(1, 0.5)]) != a


def test_expected_corpus_was_recorded_for_the_shipped_tables():
    exp = workloads.load_expected()
    assert {t: exp["inputs"][t]["rows"] for t in workloads.CORPUS_TABLES} == {
        "documents": 500, "embeddings": 500}
