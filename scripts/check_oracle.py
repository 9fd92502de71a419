"""Targeted oracle check: run NAMED registry queries against their
DuckDB oracles (the oracle gate — rows + schema + order-insensitive
values, tests/oracle_util) at one or more SFs.

    python scripts/check_oracle.py approx_distinct_counts \
        --sf-dirs /root/testdata/sf0.001,/root/testdata/sf0.01

Exit 1 on any mismatch. Unlike rehearse.py (the whole registry), this takes
an explicit query list so a plan change can be oracle-proved in
seconds before it ships.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf-dirs",
                    default="/root/testdata/sf0.001,/root/testdata/sf0.01")
    ap.add_argument("--cpus", type=int, default=16)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master(f"local[{args.cpus}]")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory", "8g")
             .getOrCreate())

    import __spark_entry__ as entry
    from tests.oracle_util import assert_matches, run_oracle

    q, o = entry.queries(), entry.oracle_sql()
    failures = []
    for sf_dir in args.sf_dirs.split(","):
        for name in args.names:
            t0 = time.time()
            try:
                if name not in q:
                    raise AssertionError("unknown query")
                assert_matches(q[name](spark, sf_dir),
                               run_oracle(o[name], sf_dir), name)
                verdict = "OK"
            except Exception as ex:  # noqa: BLE001
                verdict = f"FAIL {str(ex)[:300]}"
                failures.append((sf_dir, name))
            print(f"{name} @ {sf_dir}: {verdict} "
                  f"({time.time() - t0:.1f}s)", flush=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
