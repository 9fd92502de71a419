"""Reference-style edge-list text reader (SURVEY §2 rows 1-2).

The reference reads whitespace- or tab-separated ``src dst`` lines
(space in the bundled resources, mapreducePredictionTwitter.java:33
splits on ``\\s``; tab in the cluster copies,
mapreducePredictionTwitter100.java:32 splits on ``\\t``), so the
reader takes a ``sep`` regex defaulting to ``\\s+``.

Unlike the reference — which throws NumberFormatException on any
malformed line (SURVEY §1.1) — malformed lines are dropped (cast
returns null → filtered).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_edge_list(spark: SparkSession, path: str,
                   sep: str = r"\s+") -> DataFrame:
    """Read a text edge list into ``edges(src BIGINT, dst BIGINT)``.

    Parallelism comes from ``spark.sql.files.maxPartitionBytes`` (the
    session default) instead of the reference's per-scale
    ``mapred.max.split.size`` constants (T100:20 … T1000:20).
    """
    lines = spark.read.text(path)
    parts = F.split(F.trim(F.col("value")), sep)
    # try_cast, not cast: Spark 4 runs ANSI mode by default, where a
    # plain cast of a malformed token throws (the reference's behavior,
    # SURVEY §1.1) instead of yielding null.
    return lines.select(
        parts.getItem(0).try_cast("long").alias("src"),
        F.when(F.size(parts) >= 2, parts.getItem(1))
         .otherwise(F.lit(None)).try_cast("long").alias("dst"),
    ).where(F.col("src").isNotNull() & F.col("dst").isNotNull())
