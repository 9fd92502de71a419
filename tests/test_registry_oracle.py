"""The local correctness gate: every registered query must match its
DuckDB oracle at sf0.001 (fast) and at sf0.01 (slow)."""

from __future__ import annotations

import pytest

from mapreduce_experiment_spark.plans.registry import SPECS
from tests.oracle_util import assert_matches, run_oracle

_specs = SPECS()


def test_registry_has_expected_size():
    """An ImportError inside a plans module raises, but a module
    dropped from ``registry._load_all``'s imports would silently shrink
    the registry — pin the exact count."""
    assert len(_specs) == 100


def test_accessors_list_registration_order():
    from mapreduce_experiment_spark.plans.registry import (
        _REGISTRY, ORACLE_SQL, QUERIES)

    assert list(_specs) == list(QUERIES()) == list(ORACLE_SQL()) \
        == list(_REGISTRY)
    assert all(isinstance(s.oracle, str) and s.oracle.strip()
               for s in _specs.values())


@pytest.mark.parametrize("name", sorted(_specs))
def test_query_vs_oracle_smoke_sf(spark, sf_smoke, name):
    spec = _specs[name]
    df = spec.fn(spark, sf_smoke)
    assert_matches(df, run_oracle(spec.oracle, sf_smoke), name)


@pytest.mark.slow
@pytest.mark.parametrize("name", sorted(_specs))
def test_query_vs_oracle_correctness_sf(spark, sf_correctness, name):
    """Full-fidelity oracle check at sf0.01."""
    spec = _specs[name]
    df = spec.fn(spark, sf_correctness)
    assert_matches(df, run_oracle(spec.oracle, sf_correctness), name)


@pytest.mark.parametrize("name", ["connected_components",
                                  "dedup_survivors"])
def test_distributed_connected_components_vs_oracle(
        spark, sf_smoke, broadcast_off, name):
    """The registry oracles above see connected_components' driver
    path (every test graph is broadcast-sized); a threshold of -1
    keeps its distributed fixpoint loop under the same oracles."""
    spec = _specs[name]
    with broadcast_off():
        df = spec.fn(spark, sf_smoke)
        assert_matches(df, run_oracle(spec.oracle, sf_smoke), name)


@pytest.mark.slow
def test_queries_run_under_bare_driver_session():
    """Driver parity: the round driver calls queries() with ITS OWN
    SparkSession — a bare getOrCreate() with none of get_session's
    confs. registry.ensure_session_confs must make every query
    self-sufficient (the r2 incident: events reads threw
    PARQUET_TYPE_ILLEGAL without nanosAsLong; UTC matters for
    timestamp value-hashes). Run a timestamp-sensitive query, an
    events query, and — since r8 — one checkpointed-parquet-sink
    streaming query and one persisted-index query (saveAsTable +
    table properties + memo under a foreign warehouse config) in a
    FRESH bare-session subprocess — plus, since r9, the two new
    registrations (the evicting-sessionizer drain and the
    write→append→compact index-maintenance cycle, which exercises
    ALTER TBLPROPERTIES and the bucketing-disabled compaction scan
    under the foreign session too), and since r10 the IVF
    maintenance cycle (pure-path partitioned parquet, statically
    pruned probe over the compacted directory)."""
    import subprocess
    import sys

    from tests.conftest import SF_SMOKE

    script = f"""
import sys
sys.path.insert(0, ".")
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false").getOrCreate())
import __spark_entry__ as e
q = e.queries()
for name in ("sessionize_events", "pricing_summary",
             "streaming_minhash_dedup", "embedding_near_dups_probe",
             "stateful_streaming_sessions_evicting",
             "embedding_near_dups_maintained", "knn_ivf_maintained"):
    n = q[name](spark, {SF_SMOKE!r}).count()
    assert n > 0, name
    print(name, n)
# The wrapper must have applied the driver-compat confs to THIS bare
# session — the point of the test: count()>0 alone would stay green
# even if ensure_session_confs were deleted (current testdata is
# micros-typed, so nanosAsLong is a no-op on it).
assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
# r11: the wrapper also pins shuffle.partitions to the session's core
# count (2 here) — the fix for 200 state-store tasks per micro-batch
# under bare driver sessions (a bare session starts at Spark's
# shipped default of 200).
assert (spark.conf.get("spark.sql.shuffle.partitions")
        == str(spark.sparkContext.defaultParallelism))
# ... but a DELIBERATE operator setting must be respected: at 100 TB
# cluster scale shuffle.partitions is sized to data volume (the
# AQE-coalesce ceiling, SCALING.md), and the wrapper clobbering it to
# cores-many would mean multi-GB shuffle blocks. Only the untouched
# default ("200") is replaced.
spark.conf.set("spark.sql.shuffle.partitions", "96")
assert q["pricing_summary"](spark, {SF_SMOKE!r}).count() > 0
assert spark.conf.get("spark.sql.shuffle.partitions") == "96"
# r12 (ADVICE r11): the decision runs ONCE per session (the decided-
# marker conf), so even a deliberate mid-session setting of exactly
# 200 — previously indistinguishable from the untouched default and
# re-clobbered on the next query call — now sticks.
spark.conf.set("spark.sql.shuffle.partitions", "200")
assert q["pricing_summary"](spark, {SF_SMOKE!r}).count() > 0
assert spark.conf.get("spark.sql.shuffle.partitions") == "200"
print("confs-applied")
"""
    # Timeout sizing: under r9/r10's wrapper the two streaming drains
    # dominated at ~112 s + ~116 s each — a bare session kept Spark's
    # shuffle.partitions=200 and stateful streaming disables AQE, so
    # every micro-batch scheduled 200 state-store tasks over 2 cores,
    # for an idle-machine cost of ~300-330 s. r11's
    # ensure_session_confs pins shuffle.partitions to the core count
    # (the conf parked since r9, landed with the r11 rotation), which
    # collapses that to 2 state tasks per micro-batch; the asserts
    # above pin the conf so a regression back to 200 fails loudly
    # here rather than resurfacing as driver wall time. The 900 s
    # budget is kept unchanged — it now carries >5x headroom.
    r = subprocess.run([sys.executable, "-c", script],
                       capture_output=True, text=True, timeout=900,
                       cwd=__file__.rsplit("/tests/", 1)[0])
    assert r.returncode == 0, f"stdout:\n{r.stdout}\nstderr:\n{r.stderr[-2000:]}"
    assert "sessionize_events" in r.stdout and "pricing_summary" in r.stdout
    assert "streaming_minhash_dedup" in r.stdout
    assert "embedding_near_dups_probe" in r.stdout
    assert "stateful_streaming_sessions_evicting" in r.stdout
    assert "embedding_near_dups_maintained" in r.stdout
    assert "knn_ivf_maintained" in r.stdout
    assert "confs-applied" in r.stdout


@pytest.mark.slow
def test_build_time_shuffle_setting_of_200_is_respected():
    """r12 (ADVICE r11): the untouched-default detection previously
    compared only the runtime value against the literal "200", so an
    operator who EXPLICITLY built the session with 200 shuffle
    partitions was indistinguishable from the default and clobbered.
    Build-time settings are visible in the SparkContext conf (runtime
    ``spark.conf.set`` is not), and ensure_session_confs now checks
    it: an explicit builder-config 200 must survive. Needs a fresh
    process — a same-process getOrCreate would reuse the suite's
    session and its builder conf."""
    import subprocess
    import sys

    script = """
import sys
sys.path.insert(0, ".")
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "200").getOrCreate())
from mapreduce_experiment_spark.plans.registry import ensure_session_confs
ensure_session_confs(spark)
assert spark.conf.get("spark.sql.shuffle.partitions") == "200", \\
    spark.conf.get("spark.sql.shuffle.partitions")
print("build-time-200-respected")
"""
    r = subprocess.run([sys.executable, "-c", script],
                       capture_output=True, text=True, timeout=300,
                       cwd=__file__.rsplit("/tests/", 1)[0])
    assert r.returncode == 0, f"stdout:\n{r.stdout}\nstderr:\n{r.stderr[-2000:]}"
    assert "build-time-200-respected" in r.stdout


def test_context_less_session_skips_shuffle_pin():
    """r13 (ADVICE r12): Spark Connect sessions raise on sparkContext
    access, and ensure_session_confs reached it unconditionally on
    the first query call per session — previously only sessions whose
    shuffle.partitions read exactly "200" got that far. The guard now
    tolerates a context-less session: required confs and the decided
    marker are still set, shuffle.partitions is left untouched (the
    pin needs defaultParallelism, which is equally unreadable there).
    Pinned with a duck-typed stub — this environment has no Connect
    server, but the contract is purely "sparkContext access raises"."""
    from mapreduce_experiment_spark.plans.registry import (
        _REQUIRED_CONFS, _SHUFFLE_DECIDED_CONF, ensure_session_confs)

    class _Conf:
        def __init__(self):
            self.store = {"spark.sql.shuffle.partitions": "200"}

        def get(self, key, default=None):
            return self.store.get(key, default)

        def set(self, key, value):
            self.store[key] = value

    class _ConnectLikeSession:
        conf = _Conf()

        @property
        def sparkContext(self):
            raise RuntimeError(
                "sparkContext is not supported in Spark Connect")

    stub = _ConnectLikeSession()
    ensure_session_confs(stub)
    assert stub.conf.get("spark.sql.shuffle.partitions") == "200"
    assert stub.conf.get(_SHUFFLE_DECIDED_CONF) == "true"
    for k, v in _REQUIRED_CONFS.items():
        assert stub.conf.get(k) == v
    # and the decision is once-per-session even on the skip path
    stub.conf.set("spark.sql.shuffle.partitions", "17")
    ensure_session_confs(stub)
    assert stub.conf.get("spark.sql.shuffle.partitions") == "17"
