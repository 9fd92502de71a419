"""Format round-trip tests: every supported sink/reader pair preserves
values; readers without schemas are rejected for text formats."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce_experiment_spark.sources import io as EIO


@pytest.fixture(scope="module")
def sample(spark):
    return spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", -2.25), (3, None, 0.0)],
        "id long, name string, score double",
    )


SCHEMA = "id long, name string, score double"


@pytest.mark.parametrize("fmt", EIO.FORMATS)
def test_roundtrip(spark, sample, tmp_path, fmt):
    path = str(tmp_path / fmt)
    EIO.write(sample, path, fmt=fmt)
    back = EIO.read(spark, path, fmt=fmt, schema=SCHEMA)
    want = {(r.id, r.name, r.score) for r in sample.collect()}
    got = {(r.id, r.name, r.score) for r in back.collect()}
    assert got == want


def test_partitioned_write_prunes(spark, sample, tmp_path):
    path = str(tmp_path / "part")
    EIO.write(sample, path, fmt="parquet", partition_by=["name"])
    back = EIO.read(spark, path, fmt="parquet").where(F.col("name") == "a")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert back.count() == 1
    assert "PartitionFilters" in plan  # partition pruning reached the scan


def test_schemaless_csv_read_rejected(spark, tmp_path):
    with pytest.raises(ValueError, match="explicit schema"):
        EIO.read(spark, str(tmp_path), fmt="csv")


def test_unknown_format_rejected(spark, sample, tmp_path):
    with pytest.raises(ValueError, match="unsupported format"):
        EIO.write(sample, str(tmp_path / "x"), fmt="avro")


def test_bucketed_join_has_no_exchange(spark):
    """Two tables bucketed on the join key SMJ with zero shuffles —
    the pay-once join strategy for repeatedly-joined fact tables."""
    left = spark.range(0, 1000).withColumn("v", F.col("id") * 2)
    right = spark.range(0, 1000).withColumn("w", F.col("id") + 1)
    EIO.write_bucketed(left, "bkt_left", ["id"], n_buckets=8)
    EIO.write_bucketed(right, "bkt_right", ["id"], n_buckets=8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bkt_left").join(spark.table("bkt_right"), "id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")


def test_delta_is_stubbed(sample, tmp_path):
    with pytest.raises(NotImplementedError, match="[Dd]elta"):
        EIO.write_delta(sample, str(tmp_path / "d"))


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
