"""Command-line entry point.

Replaces the reference's ``main(String[])`` arg handling
(mapreducePredictionTwitter.java:15-18 — which complains about a
missing path but proceeds to crash anyway; SURVEY §2 row 13) with
real validation, and its collect-and-println sink (T:136-140) with a
parquet writer (row 11).

Usage:
  python -m mapreduce_experiment_spark.cli triangles EDGE_FILE \
      [--sep REGEX] [--mode simple|faithful] [--output DIR] [--count-only]
  python -m mapreduce_experiment_spark.cli query NAME [--sf-dir DIR] \
      [--output DIR] [--show N]
  python -m mapreduce_experiment_spark.cli list
"""

from __future__ import annotations

import argparse
import sys

from .operators.graph import triangle_count, triangles
from .plans.registry import SPECS
from .session import get_session
from .sources.edges import read_edge_list


def _write_or_show(df, output: str | None, show: int) -> None:
    if output:
        # Scalable sink: parquet, not collect-to-driver (the
        # reference collects entire datasets to the driver, its
        # biggest scalability defect — SURVEY §2 row 11).
        df.write.mode("overwrite").parquet(output)
        print(f"wrote {output}")
    else:
        df.show(show, truncate=False)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="mapreduce_experiment_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    tri = sub.add_parser("triangles", help="triangle enumeration over an edge-list file")
    tri.add_argument("edge_file")
    tri.add_argument("--sep", default=r"\s+", help="field separator regex")
    tri.add_argument("--mode", choices=["simple", "faithful"], default="simple")
    tri.add_argument("--output", help="parquet output dir (default: show)")
    tri.add_argument("--count-only", action="store_true")
    tri.add_argument("--show", type=int, default=20)

    qry = sub.add_parser("query", help="run a registered query")
    qry.add_argument("name")
    qry.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    qry.add_argument("--output", help="parquet output dir (default: show)")
    qry.add_argument("--show", type=int, default=20)

    sub.add_parser("list", help="list registered queries")

    args = ap.parse_args(argv)

    if args.cmd == "list":
        for name, spec in sorted(SPECS().items()):
            print(name + (" [headline]" if spec.headline else ""))
        return 0

    spark = get_session(app_name=f"cli-{args.cmd}")
    if args.cmd == "triangles":
        edges = read_edge_list(spark, args.edge_file, sep=args.sep)
        df = (triangle_count(edges, mode=args.mode) if args.count_only
              else triangles(edges, mode=args.mode))
        _write_or_show(df, args.output, args.show)
        return 0

    specs = SPECS()
    if args.name not in specs:
        print(f"unknown query {args.name!r}; try: "
              + ", ".join(sorted(specs)), file=sys.stderr)
        return 2
    _write_or_show(specs[args.name].fn(spark, args.sf_dir),
                   args.output, args.show)
    return 0


if __name__ == "__main__":
    sys.exit(main())
