"""Local mirror of the driver's DuckDB-oracle comparison.

Runs a registry query on Spark and its oracle SQL on DuckDB over the
same parquet tables, then compares row count, schema (column names),
and values order-insensitively — the same gate the driver applies at
sf=0.01, so mismatches surface locally first.

Every check raises explicitly instead of using a bare ``assert``:
although this module lives in tests/, it is ALSO the gate behind
scripts/rehearse.py, which is documented to run under ``python -O``
(the r13 -O rehearsal) — a stripped assert there would silently
weaken the gate to values-only (r13 review finding)."""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd

from mapreduce_experiment_spark.sources.tables import TABLE_NAMES


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
    return con.sql(sql).df()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    # Row-order-insensitive: canonical multi-column sort.
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort",
                            na_position="last")
    return df.reset_index(drop=True)


def _assert_no_decimals(spark_df, name: str) -> None:
    """Driver-hash fidelity: the driver renders values before hashing,
    so a Spark DECIMAL column ('506627.000000') hash-mismatches the
    oracle's DOUBLE ('506627.0') even when numerically equal (the
    round-2 grouping_sets_sql FAIL). astype(float) below would hide
    that — reject decimals up front. SQL-text queries are the risk:
    Spark parses literals like 100.0 as DECIMAL; CAST(... AS DOUBLE)."""
    from pyspark.sql.types import DecimalType

    bad = [f.name for f in spark_df.schema.fields
           if isinstance(f.dataType, DecimalType)]
    if bad:
        raise AssertionError(
            f"{name}: DECIMAL result columns {bad} — driver hash would "
            "mismatch the oracle's DOUBLE rendering; CAST(... AS DOUBLE) "
            "in the Spark plan"
        )


def _numeric_class(dtype) -> str | None:
    if np.issubdtype(dtype, np.bool_):
        return "bool"
    if np.issubdtype(dtype, np.integer):
        return "int"
    if np.issubdtype(dtype, np.floating):
        return "float"
    return None


def assert_matches(spark_df, oracle_pdf: pd.DataFrame, name: str = "?") -> None:
    _assert_no_decimals(spark_df, name)
    got = _normalize(spark_df.toPandas())
    want = _normalize(oracle_pdf)
    if list(got.columns) != list(want.columns):
        raise AssertionError(
            f"{name}: column mismatch {list(got.columns)} vs "
            f"{list(want.columns)}"
        )
    if len(got) != len(want):
        raise AssertionError(
            f"{name}: row count {len(got)} vs {len(want)}")
    for c in got.columns:
        # Driver-hash fidelity, beyond decimals: an int column on one
        # side and a float on the other render differently ('5' vs
        # '5.0') even when numerically equal. The float-vs-float value
        # compare below would coerce and hide it — reject up front.
        g_cls, w_cls = _numeric_class(got[c].dtype), _numeric_class(want[c].dtype)
        if g_cls and w_cls and g_cls != w_cls:
            raise AssertionError(
                f"{name}.{c}: numeric class mismatch spark={got[c].dtype} "
                f"oracle={want[c].dtype} — driver hash renders these "
                "differently; align the types in plan and oracle"
            )
    for c in got.columns:
        g, w = got[c].to_numpy(), want[c].to_numpy()
        if np.issubdtype(g.dtype, np.floating) or np.issubdtype(w.dtype, np.floating):
            g = g.astype(float)
            w = w.astype(float)
            both_nan = np.isnan(g) & np.isnan(w)
            exact = (g == w) | both_nan
            if not exact.all():
                close = np.isclose(g, w, rtol=0, atol=1e-9) | both_nan
                bad = np.flatnonzero(~exact)[:5]
                detail = [(got[c].iloc[i], want[c].iloc[i]) for i in bad]
                if not close.all():
                    raise AssertionError(
                        f"{name}.{c}: float mismatch {detail}")
                raise AssertionError(
                    f"{name}.{c}: floats close but not exact (driver hash "
                    f"would fail): {detail} — round harder in both engines"
                )
        else:
            eq = pd.Series(g).astype(str).eq(pd.Series(w).astype(str))
            if not eq.all():
                i = int(np.flatnonzero(~eq.to_numpy())[0])
                raise AssertionError(
                    f"{name}.{c}: value mismatch at sorted row {i}: "
                    f"{got[c].iloc[i]!r} vs {want[c].iloc[i]!r}"
                )
