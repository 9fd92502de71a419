"""Record the curation workload's expected results from the registry's
DuckDB oracles.

The oracles are exhaustive (all-pairs Jaccard, unrolled connected
components, token-level span algebra), far too slow to run on every
benchmark run, so their row counts and digests are recorded once in
``expected_corpus.json`` with the row count and SHA-256 of the tables
they were computed from. Rerun this after replacing the tables under
``perfbench/data/``, from the repository root:

    python3 perfbench/oracles.py
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import workloads  # noqa: E402

QUERIES = ("clean_corpus", "minhash_dedup_pairs", "embedding_near_dups_indexed")


def main() -> None:
    import duckdb

    from mapreduce_experiment_spark.plans.registry import ORACLE_SQL

    data = workloads.CORPUS_DIR
    oracles = ORACLE_SQL()
    con = duckdb.connect(config={"threads": 4, "memory_limit": "4GB"})
    for t in workloads.CORPUS_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data, t + '.parquet')}')")
    out = {
        "command": "python3 perfbench/oracles.py",
        "inputs": workloads.corpus_inputs(),
    }
    for name in QUERIES:
        t0 = time.time()
        rel = con.sql(oracles[name])
        out[name] = checks.digest(rel.columns, rel.fetchall())
        print(f"{name}: {out[name]} in {time.time() - t0:.1f}s", flush=True)
    with open(os.path.join(HERE, "expected_corpus.json"), "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
