"""Bare-session rehearsal: run every registry query under a BARE
SparkSession against its DuckDB oracle with the oracle gate (rows +
schema + order-insensitive values, tests/oracle_util).

    python scripts/rehearse.py                      # default sf0.01
    python scripts/rehearse.py --sf-dir DIR/sf0.1 --driver-mem 16g

Defaults: bare getOrCreate (ensure_session_confs must make every
query self-sufficient), local[16], sf0.01. At sf0.1 pass
--driver-mem 16g: the streaming drains exhaust Spark's 1g local
default.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--cpus", type=int, default=16)
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
    names = list(q)
    t00 = time.time()
    failures: list[tuple[str, str]] = []
    for i, name in enumerate(names):
        t0 = time.time()
        try:
            df = q[name](spark, args.sf_dir)
            assert_matches(df, run_oracle(o[name], args.sf_dir), name)
            verdict = "OK"
        except Exception as ex:  # noqa: BLE001 — report and continue
            verdict = f"FAIL {str(ex)[:200]}"
            failures.append((name, verdict))
        print(f"[{i + 1}/{len(names)}] {name}: {verdict} "
              f"({time.time() - t0:.1f}s)", flush=True)
    print(f"RESULT {args.sf_dir}: "
          f"{len(names) - len(failures)}/{len(names)} OK, "
          f"wall {time.time() - t00:.0f}s")
    for name, msg in failures:
        print("FAIL", name, msg)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
