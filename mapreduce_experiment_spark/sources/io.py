"""Format round-trip helpers: parquet / ORC / CSV / JSON sinks and
schema-checked readers.

The reference has no writers at all and only a text-line reader
(SURVEY §2: "File formats other than text; no writers of any kind").
Here every sink defaults to snappy-compressed columnar output, and
every reader takes an explicit schema — schema inference is banned at
100 TB (it is an extra full scan for CSV/JSON).

Delta/Iceberg/Hudi connectors need their jars on the classpath, which
this environment does not ship — gated behind an import-try stub.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

FORMATS = ("parquet", "orc", "csv", "json")


def write(df: DataFrame, path: str, fmt: str = "parquet",
          mode: str = "overwrite", partition_by: list[str] | None = None,
          **options) -> None:
    if fmt not in FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; use one of {FORMATS}")
    w = df.write.mode(mode).format(fmt)
    if fmt == "csv":
        w = w.option("header", "true")
    if partition_by:
        w = w.partitionBy(*partition_by)
    for k, v in options.items():
        w = w.option(k, v)
    w.save(path)


def read(spark: SparkSession, path: str, fmt: str = "parquet",
         schema: T.StructType | str | None = None, **options) -> DataFrame:
    if fmt not in FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; use one of {FORMATS}")
    r = spark.read.format(fmt)
    if schema is not None:
        r = r.schema(schema)
    elif fmt in ("csv", "json"):
        raise ValueError(
            f"{fmt} reads require an explicit schema (inference is an "
            "extra full scan — banned at scale)")
    if fmt == "csv":
        r = r.option("header", "true")
    for k, v in options.items():
        r = r.option(k, v)
    return r.load(path)


def write_bucketed(df: DataFrame, table: str, bucket_cols: list[str],
                   n_buckets: int = 32, mode: str = "overwrite") -> None:
    """Save as a bucketed managed table.

    Bucketing pre-shuffles data at WRITE time: two tables bucketed the
    same way on the join key sort-merge-join with NO exchange — the
    strategy for repeatedly-joined 100 TB fact tables (pay the shuffle
    once, reuse it every query). See tests/test_io.py for the
    plan-level proof.
    """
    (df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
       .sortBy(*bucket_cols).saveAsTable(table))


def app_artifact_dir(spark: SparkSession, prefix: str, tag: str) -> str:
    """``<SparkFiles root>/<prefix><tag>``: the home of a persisted
    artifact (index table, streaming sink run) that lives as long as
    ``spark``'s application. Spark creates that root per application
    and deletes it on ``spark.stop()`` and in its JVM shutdown hook,
    so concurrent sessions never share it and nothing outlives the
    application. The dir itself is not created — table and stream
    writers create their own target."""
    import os

    from pyspark import SparkFiles

    return os.path.join(SparkFiles.getRootDirectory(), prefix + tag)


def write_delta(df: DataFrame, path: str, **options) -> None:
    """Delta Lake sink — STUB: requires delta-spark jars, not present
    in this environment."""
    try:
        import delta  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "Delta Lake requires the delta-spark package and jars, "
            "which are not available in this environment") from e
    df.write.format("delta").options(**options).save(path)
