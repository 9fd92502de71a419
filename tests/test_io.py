"""Source-side contracts: the events.ts normalization across parquet
generations, and where persisted artifacts live."""

from __future__ import annotations

from mapreduce_experiment_spark.sources import io as EIO


def test_events_ts_normalized_across_parquet_generations(spark, tmp_path):
    """The driver's testdata has shipped events.ts as TIMESTAMP(NANOS)
    (surfaced as int64 under nanosAsLong) and as TIMESTAMP(MICROS)
    (surfaced as timestamp_ntz). load_table must yield the identical
    session-local timestamp for the same instant from either file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreduce_experiment_spark.sources.tables import load_table

    instants = [1_700_000_000_000_000, 1_700_000_123_456_789]
    base = {"event_id": [1, 2], "user_id": [10, 20],
            "event_type": ["a", "b"], "value": [1.0, 2.0],
            "props": ["{}", "{}"]}

    nanos_dir = tmp_path / "nanos"
    nanos_dir.mkdir()
    pq.write_table(
        pa.table({**base, "ts": pa.array([i * 1000 for i in instants],
                                         pa.timestamp("ns"))}),
        nanos_dir / "events.parquet", use_deprecated_int96_timestamps=False,
        coerce_timestamps=None)

    micros_dir = tmp_path / "micros"
    micros_dir.mkdir()
    pq.write_table(
        pa.table({**base, "ts": pa.array(instants, pa.timestamp("us"))}),
        micros_dir / "events.parquet")

    got_n = load_table(spark, str(nanos_dir), "events")
    got_u = load_table(spark, str(micros_dir), "events")
    assert dict(got_n.dtypes)["ts"] == "timestamp"
    assert dict(got_u.dtypes)["ts"] == "timestamp"
    rows_n = {r.event_id: r.ts for r in got_n.collect()}
    rows_u = {r.event_id: r.ts for r in got_u.collect()}
    assert rows_n == rows_u


def test_app_artifact_dir_contract(spark):
    """A per-application artifact dir is ``<SparkFiles root>/<prefix>
    <tag>`` and is not created: the writer creates its own target."""
    import os

    from pyspark import SparkFiles

    path = EIO.app_artifact_dir(spark, "testart_", "t1")
    assert path == os.path.join(SparkFiles.getRootDirectory(), "testart_t1")
    assert not os.path.exists(path)


def test_app_artifact_dir_removed_on_stop():
    """Spark deletes the application's artifact root on ``stop()``: the
    lifetime of every persisted index and stream sink rests on this.
    A fresh process, because the suite's session must stay up."""
    import os
    import subprocess
    import sys

    script = """
import os, sys
sys.path.insert(0, ".")
from pyspark.sql import SparkSession
from mapreduce_experiment_spark.sources.io import app_artifact_dir
spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false").getOrCreate())
path = app_artifact_dir(spark, "stoptest_", "t")
spark.range(10).write.parquet(path)
if not os.path.isdir(path):
    raise SystemExit("artifact not written")
spark.stop()
print("GONE" if not os.path.exists(path) else "LEFT " + path)
"""
    r = subprocess.run([sys.executable, "-c", script], capture_output=True,
                       text=True, timeout=300,
                       cwd=os.path.dirname(os.path.dirname(
                           os.path.abspath(__file__))))
    assert r.returncode == 0, f"stdout:\n{r.stdout}\nstderr:\n{r.stderr[-2000:]}"
    assert "GONE" in r.stdout, r.stdout
