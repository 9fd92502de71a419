"""Entry contract for the spark-graft engine (PySpark target).

``entry(spark)`` is a smoke check; each ``queries()[name]`` is
compared against the matching ``oracle_sql()[name]`` via DuckDB
(row-count + schema + order-insensitive values), as
``tests/test_registry_oracle.py`` does at sf0.001 and sf0.01.

All real logic lives in the ``mapreduce_experiment_spark`` package;
this module only adapts it to the driver's interface.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from mapreduce_experiment_spark.plans import registry as _registry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the triangle count of
    the lineitem-derived co-purchase graph — the metric the
    reference's pipeline was built to produce but never successfully
    materializes (SURVEY findings 1-2)."""
    return _registry.QUERIES()["triangle_count"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ north-star)."""
    return _registry.QUERIES()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query.

    Every registered query has one (``register`` requires it; there is
    no rows-only check), so even the approximate sketches carry
    oracles — exact values plus in-bounds booleans the oracle pins to
    TRUE."""
    return _registry.ORACLE_SQL()
