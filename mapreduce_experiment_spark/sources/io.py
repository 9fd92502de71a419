"""Where persisted artifacts live.

The reference has no writers at all (SURVEY §2: "no writers of any
kind"). The engine's own persisted artifacts are the IVF/SRP indexes
and the checkpointed stream-sink runs; :func:`app_artifact_dir` gives
each one a home that lives exactly as long as its Spark application.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


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
