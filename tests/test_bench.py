"""Pins for bench.py: the adaptive run policy, the seeded query order
and the one measurement loop (``measure``) that bench.py and the
profiling scripts share."""

from __future__ import annotations

import importlib.util
import os
import sys


def _bench():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(repo, "bench.py"))
    mod = importlib.util.module_from_spec(spec)
    # bench imports the package at module top; make sure repo is on path
    sys.path.insert(0, repo)
    spec.loader.exec_module(mod)
    return mod


def test_more_runs_policy():
    b = _bench()
    # always take a second sample
    assert b._more_runs([])
    assert b._more_runs([5.0])
    # trivial queries (best <= 1 s) stop at 2
    assert not b._more_runs([0.4, 0.5])
    # non-trivial queries always get a third sample, even when the
    # first two agree (a load burst can cover two back-to-back runs)
    assert b._more_runs([2.0, 2.05])
    # fourth sample only when the runs disagree (spread > 1.4x)
    assert not b._more_runs([2.0, 2.05, 2.1])
    assert b._more_runs([2.0, 3.5, 2.9])
    # hard stop at 4 regardless of spread
    assert not b._more_runs([2.0, 6.0, 5.0, 4.0])


def _once(walls):
    return not walls


def test_measure_splits_build_and_execute_jobs(spark):
    """A lazy plan runs no job until the noop write; an eager
    checkpoint inside ``build()`` is counted as a build job."""
    b = _bench()
    lazy = b.measure(spark, lambda: spark.range(10), _once)
    assert lazy["build_jobs"] == 0 and lazy["exec_jobs"] >= 1
    assert lazy["rows"] == 10
    assert abs(lazy["wall_s"] - lazy["build_s"] - lazy["exec_s"]) <= 0.002
    eager = b.measure(
        spark, lambda: spark.range(10).localCheckpoint(eager=True), _once)
    assert eager["build_jobs"] >= 1 and eager["rows"] == 10


def test_measure_sums_the_stages_of_a_shuffle(spark):
    """The stage counters cover every stage the run executed: a grouped
    aggregate runs a map stage that writes shuffle bytes and a stage
    that reads them; fields take the minimum over runs."""
    from pyspark.sql import functions as F

    b = _bench()
    rec = b.measure(
        spark,
        lambda: spark.range(1000).groupBy((F.col("id") % 7).alias("k"))
        .count(),
        lambda walls: len(walls) < 2)
    assert rec["rows"] == 7
    assert rec["stages"] >= 2 and rec["tasks"] >= 2
    assert rec["shuffle_write_bytes"] > 0 and rec["shuffle_read_bytes"] > 0


def test_suite_order_is_seeded_and_recorded():
    """The r8 burst-decorrelation contract: the same seed must yield
    the same order (resumable comparisons), different seeds must be
    able to differ, and the shuffle is a permutation of the headline
    set — pinned against the same RNG construction bench uses."""
    import random

    names = sorted(f"q{i}" for i in range(10))
    a, b2 = list(names), list(names)
    random.Random(1234).shuffle(a)
    random.Random(1234).shuffle(b2)
    assert a == b2 and sorted(a) == names
    c = list(names)
    random.Random(4321).shuffle(c)
    assert sorted(c) == names
