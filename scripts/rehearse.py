"""Bare-session rehearsal: run registry queries under a BARE
SparkSession against their DuckDB oracles with the oracle gate (rows +
schema + order-insensitive values, tests/oracle_util).

    python scripts/rehearse.py                      # every query, sf0.01
    python scripts/rehearse.py approx_distinct_counts triangles \
        --sf-dir /root/testdata/sf0.001,/root/testdata/sf0.01
    python scripts/rehearse.py --sf-dir DIR/sf0.1 --driver-mem 16g

Defaults: bare getOrCreate (ensure_session_confs must make every
query self-sufficient), one local core per CPU, sf0.01. Name queries
to check only those, so a plan change can be oracle-proved in seconds.
At sf0.1 pass --driver-mem 16g: the streaming drains exhaust Spark's
1g local default. Exit 1 on any mismatch.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("names", nargs="*",
                    help="queries to check (default: the whole registry)")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01",
                    help="comma-separated data dirs, checked in order")
    ap.add_argument("--cpus", type=int, default=os.cpu_count())
    ap.add_argument("--driver-mem", default=None,
                    help="e.g. 16g; default keeps Spark's bare default "
                         "(driver parity)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    builder = (SparkSession.builder.master(f"local[{args.cpus}]")
               .config("spark.ui.enabled", "false"))
    if args.driver_mem:
        builder = builder.config("spark.driver.memory", args.driver_mem)
    spark = builder.getOrCreate()

    import __spark_entry__ as entry
    from tests.oracle_util import assert_matches, run_oracle

    q, o = entry.queries(), entry.oracle_sql()
    names = args.names or list(q)
    failures: list[tuple[str, str]] = []
    for sf_dir in args.sf_dir.split(","):
        t00 = time.time()
        n_failed = len(failures)
        for i, name in enumerate(names):
            t0 = time.time()
            try:
                if name not in q:
                    raise KeyError("unknown query")
                df = q[name](spark, sf_dir)
                assert_matches(df, run_oracle(o[name], sf_dir), name)
                verdict = "OK"
            except Exception as ex:  # noqa: BLE001 — report and continue
                verdict = f"FAIL {str(ex)[:200]}"
                failures.append((sf_dir, name))
            print(f"[{i + 1}/{len(names)}] {name}: {verdict} "
                  f"({time.time() - t0:.1f}s)", flush=True)
        print(f"RESULT {sf_dir}: "
              f"{len(names) - (len(failures) - n_failed)}/{len(names)} OK, "
              f"wall {time.time() - t00:.0f}s")
    for sf_dir, name in failures:
        print("FAIL", sf_dir, name)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
