"""10x scale-up probe.

The engine's 100x-scale claims are plan-shape arguments (degree-
oriented joins, banded LSH equi-joins, two-level money sums). This
script converts the argument to one measured point: build a ~sf1
input (10x the sf0.1 rows) for the top-3 headliners and record wall +
executor CPU + shuffle volume + spill + peak execution memory against
the same run at sf0.1.

Scaling construction (DuckDB, written to --out):

- ``lineitem``: 10 replicas with per-replica ORDER-key and PART-key
  strides. Disjoint order keys keep pricing_summary's rows honest
  (10x rows, same 6 groups — sums and counts must be exactly 10x);
  disjoint part keys make the co-purchase graph 10 DISJOINT copies of
  the sf0.1 graph, so triangle_count must be exactly 10x its sf0.1
  value. Both invariants are asserted, so the probe self-checks that
  the scaled input means what it claims.
- ``documents``: 10 replicas with a doc_id stride and UNCHANGED text —
  every doc gains 10 exact copies, i.e. a duplication-factor-10 corpus
  (the CommonCrawl-ish regime near-dedup exists for). clean_corpus's
  clusters merge across replicas, so its output is NOT 10x (survivors
  stay ~1x); the probe records the workload metrics, not an output
  invariant, and prints the survivor count for the record.

Each query is timed by bench.py's measure loop: noop sink, cache
cleared between runs, best-of-N wall with its build/execute split and
the per-field stage minimum.

Usage: python scripts/scale_probe.py [--runs 2] [--out /tmp/...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(_HERE))

from bench import StatusReader, measure  # noqa: E402

SF01 = "/root/testdata/sf0.1"
REPLICAS = 10


def build_scaled(out_dir: str) -> None:
    import duckdb

    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    ok_stride, pk_stride = [
        con.execute(
            f"SELECT max({c}) + 1 FROM "
            f"read_parquet('{SF01}/lineitem.parquet')").fetchone()[0]
        for c in ("l_orderkey", "l_partkey")]
    con.execute(f"""
        COPY (
          SELECT l_orderkey + r * {ok_stride} AS l_orderkey,
                 l_partkey + r * {pk_stride} AS l_partkey,
                 l_suppkey, l_linenumber, l_quantity, l_extendedprice,
                 l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate
          FROM read_parquet('{SF01}/lineitem.parquet')
          CROSS JOIN range({REPLICAS}) t(r))
        TO '{out_dir}/lineitem.parquet' (FORMAT parquet)""")
    doc_stride = con.execute(
        f"SELECT max(doc_id) + 1 FROM "
        f"read_parquet('{SF01}/documents.parquet')").fetchone()[0]
    con.execute(f"""
        COPY (
          SELECT doc_id + r * {doc_stride} AS doc_id,
                 text, source, lang
          FROM read_parquet('{SF01}/documents.parquet')
          CROSS JOIN range({REPLICAS}) t(r))
        TO '{out_dir}/documents.parquet' (FORMAT parquet)""")
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "events", "embeddings"):
        con.execute(f"""
            COPY (SELECT * FROM read_parquet('{SF01}/{t}.parquet'))
            TO '{out_dir}/{t}.parquet' (FORMAT parquet)""")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--out", default="/tmp/spark_graft_sf1")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--skip-build", action="store_true")
    args = ap.parse_args()

    if not args.skip_build:
        t0 = time.time()
        build_scaled(args.out)
        print(f"scaled tables built in {time.time() - t0:.0f}s "
              f"-> {args.out}", flush=True)

    from mapreduce_experiment_spark.plans.registry import SPECS
    from mapreduce_experiment_spark.session import get_session

    spark = get_session(app_name="scale-probe")
    specs = SPECS()
    out: dict = {"replicas": REPLICAS, "runs_per_point": args.runs,
                 "loadavg_1m_before": round(os.getloadavg()[0], 2)}

    # self-check invariants: the scaled input means what it claims
    tc01 = specs["triangle_count"].fn(spark, SF01).collect()[0].n_triangles
    tc1 = specs["triangle_count"].fn(spark, args.out).collect()[0].n_triangles
    if tc1 != REPLICAS * tc01:
        raise AssertionError(f"triangle invariant broken: {tc01} -> {tc1}")
    print(f"invariant ok: triangles {tc01} -> {tc1} (= {REPLICAS}x)",
          flush=True)
    p01 = {(r.l_returnflag, r.l_linestatus): (r.count_order, r.sum_qty)
           for r in specs["pricing_summary"].fn(spark, SF01).collect()}
    p1 = {(r.l_returnflag, r.l_linestatus): (r.count_order, r.sum_qty)
          for r in specs["pricing_summary"].fn(spark, args.out).collect()}
    if set(p01) != set(p1):
        raise AssertionError("pricing group-key sets differ across scales")
    for k, (n, s) in p01.items():
        if p1[k][0] != REPLICAS * n or abs(p1[k][1] - REPLICAS * s) >= 1e-6:
            raise AssertionError(
                f"pricing invariant broken for {k}: {(n, s)} -> {p1[k]}")
    print(f"invariant ok: pricing groups x{REPLICAS} "
          f"({len(p01)} groups)", flush=True)
    surv = specs["clean_corpus"].fn(spark, args.out).count()
    out["clean_corpus_survivors_sf1"] = surv
    print(f"clean_corpus survivors at 10x duplication: {surv}", flush=True)

    reader = StatusReader(spark)
    for name in ("pricing_summary", "triangle_count", "clean_corpus"):
        for label, sf in (("sf0.1", SF01), (f"x{REPLICAS}", args.out)):
            m = measure(spark, lambda n=name, s=sf: specs[n].fn(spark, s),
                        lambda walls: len(walls) < args.runs, reader)
            out.setdefault(name, {})[label] = m
            print(f"{name} @ {label}: {json.dumps(m)}", flush=True)

    out["loadavg_1m_after"] = round(os.getloadavg()[0], 2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
