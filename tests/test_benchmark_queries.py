"""The benchmark's calls into the engine, run once each in the suite.

``perfbench/workloads.py`` calls the package's public functions with
the arguments the benchmark depends on, and ``perfbench/tests`` never
start Spark. Running every workload's queries and extras here once, on
the suite's session, makes a changed signature or result fail in the
suite instead of only in the benchmark.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench"))

import spans  # noqa: E402
import workloads  # noqa: E402


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_workload_queries_pass_their_checks(spark, tmp_path, name):
    w = workloads.WORKLOADS[name](spark, str(tmp_path), 1)
    tracer = spans.Tracer("suite")  # disabled: records nothing
    try:
        for q in w.queries() + w.extras():
            assert q.check(q.run(tracer)), q.name
    finally:
        if hasattr(w, "listener"):
            spark.streams.removeListener(w.listener)
