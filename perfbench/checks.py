"""Reference results the benchmark checks the engine's outputs against.

- :func:`rgd_reference_counts` — DuckDB counts for the generated edge
  list: the simple-graph triangle count, and an independent query of the
  reference job's multiset-adjacency condition for faithful mode.
- :func:`digest` — an order-insensitive row digest, so a result set can
  be compared with values recorded once from the registry's DuckDB
  oracles (``expected_corpus.json``; regenerate with ``oracles.py``).
"""

from __future__ import annotations

import hashlib

_SIMPLE_SQL = """
WITH e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           FROM edges WHERE src <> dst)
SELECT count(*) FROM e e1 JOIN e e2 ON e2.a = e1.b
                         JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
"""

# The reference closes a triangle sorted(x, y, w) when {x, y} is an
# input line and w's adjacency MULTISET (every line adds each endpoint to
# the other's list; a self-loop adds its node twice) holds x and y at
# two distinct positions: one occurrence each when x <> y, two when
# x = y.
_FAITHFUL_SQL = """
WITH sym AS (SELECT src AS w, dst AS n FROM edges
             UNION ALL SELECT dst, src FROM edges),
madj AS (SELECT w, n, count(*) AS c FROM sym GROUP BY w, n),
ed AS (SELECT DISTINCT least(src, dst) AS x, greatest(src, dst) AS y
       FROM edges),
hits AS (
  SELECT e.x, e.y, a.w FROM ed e
  JOIN madj a ON a.n = e.x JOIN madj b ON b.w = a.w AND b.n = e.y
  WHERE e.x < e.y
  UNION ALL
  SELECT e.x, e.y, a.w FROM ed e JOIN madj a ON a.n = e.x AND a.c >= 2
  WHERE e.x = e.y)
SELECT count(*) FROM (SELECT DISTINCT list_sort([x, y, w]) FROM hits)
"""


def rgd_reference_counts(path: str, tmp_dir: str) -> dict:
    """``{"simple": n, "faithful": n}`` for a tab-separated edge list."""
    import duckdb

    con = duckdb.connect(config={"threads": 4, "memory_limit": "2GB",
                                 "temp_directory": tmp_dir})
    try:
        quoted = path.replace("'", "''")
        con.execute(
            f"CREATE VIEW edges AS SELECT * FROM read_csv('{quoted}', "
            "delim='\t', header=false, "
            "columns={'src': 'BIGINT', 'dst': 'BIGINT'})")
        return {"simple": con.sql(_SIMPLE_SQL).fetchone()[0],
                "faithful": con.sql(_FAITHFUL_SQL).fetchone()[0]}
    finally:
        con.close()


def _fmt(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, float):
        return f"{v:.6f}"
    return str(v)


def digest(columns: list[str], rows) -> dict:
    """Row count and SHA-256 of the rows, independent of row and column
    order. Floats are compared at 6 decimals, the precision the
    registry's queries and oracles round to."""
    order = sorted(range(len(columns)), key=columns.__getitem__)
    lines = sorted("\x1f".join(_fmt(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return {"rows": len(lines), "sha256": h}
