"""Repo-wide source hygiene pins.

Load-bearing checks in package code are explicit raises, not bare
``assert``s, because ``python -O`` strips asserts: the simhash
pigeonhole guard would silently MISS near-dup pairs, and the k=5→k=7
oracle-rewrite guard would silently no-op. The pin below scans the
package mechanically, so a new bare assert fails here instead of
resurfacing as a silent semantic hole.

Tests themselves are exempt: pytest rewrites their asserts and they
never run under -O — EXCEPT tests/oracle_util.py, the oracle gate the
scripts/ rehearsals import (and which may run under -O), so it (plus
scripts/, bench.py, __spark_entry__.py) is included in the scan.

The repo root also stays free of round-stamped artifacts
(``*_rN.json``, ``*_rN.md``, ``plans/rN/``): measurements go to
CHANGES.md, and profiler output goes outside the checkout.
"""

from __future__ import annotations

import ast
import fnmatch
import os
import sys

import mapreduce_experiment_spark as pkg

_PKG_DIR = os.path.dirname(os.path.abspath(pkg.__file__))


_REPO_DIR = os.path.dirname(_PKG_DIR)

# Non-test files that ALSO run in the -O execution path: the rehearsal
# scripts gate through tests/oracle_util.assert_matches, so a bare
# assert in either silently weakens the oracle gate to values-only.
_EXTRA_O_PATH_SOURCES = (
    os.path.join(_REPO_DIR, "tests", "oracle_util.py"),
    os.path.join(_REPO_DIR, "scripts"),
    os.path.join(_REPO_DIR, "bench.py"),
    os.path.join(_REPO_DIR, "__spark_entry__.py"),
)


def _package_sources() -> list[str]:
    out = []
    for top in (_PKG_DIR,) + _EXTRA_O_PATH_SOURCES:
        if os.path.isfile(top):
            out.append(top)
            continue
        for root, _dirs, files in os.walk(top):
            out.extend(os.path.join(root, f)
                       for f in files if f.endswith(".py"))
    return sorted(out)


def test_package_sources_walk_finds_the_package():
    """If the walk ever comes back empty (moved package, packaging
    change), the pin below would pass vacuously — fail loudly."""
    srcs = _package_sources()
    assert len(srcs) >= 20, srcs


def test_no_bare_asserts_in_package_code():
    offenders = []
    for path in _package_sources():
        with open(path) as f:
            tree = ast.parse(f.read(), filename=path)
        for node in ast.walk(tree):
            if isinstance(node, ast.Assert):
                offenders.append(
                    f"{os.path.relpath(path, _REPO_DIR)}:{node.lineno}")
    assert not offenders, (
        "bare assert in package code (stripped under python -O — "
        f"raise an explicit exception instead): {offenders}"
    )


def test_explicit_guards_survive_python_O():
    """The sweep's point, proven end-to-end: under ``python -O`` the
    converted guards must still FIRE. Exercises the flagship one (the
    simhash pigeonhole bound, whose violation silently misses pairs
    rather than erroring) and the maintained-IVF module-level rewrite
    guard's import path. The guard validates its argument before
    touching the DataFrame, so no Spark session is needed. The
    checking script itself avoids assert — it runs under -O too."""
    import subprocess

    script = """
import sys
sys.path.insert(0, ".")
if sys.flags.optimize != 1:
    raise SystemExit("not running under -O")
from mapreduce_experiment_spark.operators.dedup import (
    SIMHASH_CHUNKS, simhash_near_dup_pairs)
try:
    simhash_near_dup_pairs(None, max_hamming=SIMHASH_CHUNKS)
    raise SystemExit("pigeonhole guard did not fire under -O")
except ValueError:
    print("pigeonhole-guard-fired")
from mapreduce_experiment_spark.plans import queries_similarity as QS
if QS._KNN_IVF_SQL_K7.count("WHERE rank <= 7") != 1:
    raise SystemExit("k7 oracle rewrite broken under -O")
print("k7-rewrite-ok")
"""
    r = subprocess.run([sys.executable, "-O", "-c", script],
                       capture_output=True, text=True, timeout=120,
                       cwd=os.path.dirname(_PKG_DIR))
    assert r.returncode == 0, f"stdout:\n{r.stdout}\nstderr:\n{r.stderr[-2000:]}"
    assert "pigeonhole-guard-fired" in r.stdout
    assert "k7-rewrite-ok" in r.stdout


def test_oracle_gate_fires_under_python_O():
    """r13 review finding, proven closed end-to-end: assert_matches'
    schema/row-count/type checks were bare asserts, so a ``python -O``
    rehearsal (scripts/rehearse.py's documented mode) silently passed
    a result missing an entire oracle column — the gate degraded to
    values-only. Now converted to explicit raises; this subprocess
    pins that the cheapest structural check (column mismatch) FIRES
    with asserts stripped. Duck-typed stand-in for the Spark side —
    assert_matches only touches .schema.fields and .toPandas()."""
    import subprocess

    script = """
import sys
sys.path.insert(0, ".")
if sys.flags.optimize != 1:
    raise SystemExit("not running under -O")
import pandas as pd
from tests.oracle_util import assert_matches

class FakeField:
    def __init__(self, name):
        self.name = name
        self.dataType = None

class FakeSchema:
    fields = [FakeField("a")]

class FakeDF:
    schema = FakeSchema()
    def toPandas(self):
        return pd.DataFrame({"a": [1, 2]})

try:
    assert_matches(FakeDF(), pd.DataFrame({"a": [1, 2], "b": [3, 4]}), "p")
    raise SystemExit("oracle gate did not fire under -O")
except AssertionError:
    print("oracle-gate-fired")
"""
    r = subprocess.run([sys.executable, "-O", "-c", script],
                       capture_output=True, text=True, timeout=120,
                       cwd=_REPO_DIR)
    assert r.returncode == 0, f"stdout:\n{r.stdout}\nstderr:\n{r.stderr[-2000:]}"
    assert "oracle-gate-fired" in r.stdout


def test_no_round_stamped_artifacts_at_repo_root():
    """Per-round BENCH/CORRECTNESS/PROFILE/WINDOW files and plan dumps
    belong in git history, not in the tree: a profiler or bench that
    writes them into the checkout fails here."""
    root = os.listdir(_REPO_DIR)
    stamped = [f for f in root
               if fnmatch.fnmatch(f, "*_r[0-9]*.json")
               or fnmatch.fnmatch(f, "*_r[0-9]*.md")]
    plans = os.path.join(_REPO_DIR, "plans")
    if os.path.isdir(plans):
        stamped += [f"plans/{d}" for d in os.listdir(plans)
                    if fnmatch.fnmatch(d, "r[0-9]*")
                    and os.path.isdir(os.path.join(plans, d))]
    assert not stamped, f"round-stamped artifacts in the repo root: {stamped}"


def test_no_script_shadows_a_stdlib_module():
    """Running ``python scripts/X.py`` puts scripts/ ahead of the stdlib
    on sys.path, so a script named like a stdlib module (``profile``,
    which cProfile imports via pyspark) breaks every sibling script."""
    scripts = os.path.join(_REPO_DIR, "scripts")
    shadows = [f for f in os.listdir(scripts)
               if f.endswith(".py") and f[:-3] in sys.stdlib_module_names]
    assert not shadows, f"scripts shadowing stdlib modules: {shadows}"


def test_scripts_and_bench_import():
    """Every script and bench.py imports cleanly without running its
    ``main()``: a script that still imports a deleted helper fails
    here rather than at its next manual run."""
    import importlib.util

    scripts = os.path.join(_REPO_DIR, "scripts")
    paths = [os.path.join(_REPO_DIR, "bench.py")] + sorted(
        os.path.join(scripts, f) for f in os.listdir(scripts)
        if f.endswith(".py"))
    for path in paths:
        name = "_import_check_" + os.path.basename(path)[:-3]
        spec = importlib.util.spec_from_file_location(name, path)
        spec.loader.exec_module(importlib.util.module_from_spec(spec))


def test_package_names_no_checkout_warehouse():
    """Per-application artifacts (persisted indexes, stream sink runs)
    live in the application's own temp dir, which Spark deletes when
    the application ends; a module naming ``spark-warehouse`` would
    put them back in the checkout, where nothing removes them."""
    offenders = []
    for root, _dirs, files in os.walk(_PKG_DIR):
        for fn in files:
            if fn.endswith(".py"):
                path = os.path.join(root, fn)
                with open(path) as f:
                    if "spark-warehouse" in f.read():
                        offenders.append(os.path.relpath(path, _REPO_DIR))
    assert not offenders, offenders


def test_one_materialization_idiom():
    """Every reused intermediate in the package is materialized through
    ``session.materialize``, the one place that picks a reliable or a
    local checkpoint. A ``persist``/``cache``/``localCheckpoint``/
    ``checkpoint`` call anywhere else fails until it goes through the
    helper or is added here with its reason."""
    allowed = {
        ("session.py", "materialize"),
        # The canonical edge table: the driver-path decision reads the
        # cached relation's MEASURED bytes, and a checkpoint carries
        # only the optimizer's size estimate.
        ("operators/graph.py", "connected_components"),
    }
    calls = set()
    offenders = []
    for root, _dirs, files in os.walk(_PKG_DIR):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, _PKG_DIR)
            with open(path) as f:
                tree = ast.parse(f.read(), filename=path)

            def walk(node, func):
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    func = node.name
                if (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr in ("persist", "cache",
                                               "localCheckpoint",
                                               "checkpoint")):
                    calls.add((rel, func))
                    if (rel, func) not in allowed:
                        offenders.append((rel, func, node.lineno))
                for child in ast.iter_child_nodes(node):
                    walk(child, func)
            walk(tree, None)
    assert not offenders, (
        f"materialization outside session.materialize: {offenders} — "
        "call materialize(df, eager) instead")
    assert calls == allowed, f"stale allowlist entries: {allowed - calls}"


# Defaulted parameters no caller passes, each kept on purpose.
_UNCALLED_PARAM_ALLOWLIST = {
    # Mirrors qavg_sql, which a registered oracle calls with scale=.
    ("functions/compare.py", "qavg", "scale"),
    # The near-dup family keeps its threshold keyword throughout:
    # perfbench passes threshold= to dedup_survivors,
    # minhash_dedup_pairs and embedding_near_dups_from_index, and the
    # two quadratic reference paths below serve tests as recall and
    # parity references.
    ("operators/similarity.py", "embedding_near_dup_pairs_lsh", "threshold"),
    ("operators/dedup.py", "ngram_jaccard_pairs_allpairs", "threshold"),
    ("operators/similarity.py", "embedding_near_dup_pairs", "threshold"),
}


def _py_files(top: str) -> list[str]:
    if os.path.isfile(top):
        return [top]
    return sorted(os.path.join(root, f) for root, _d, files in os.walk(top)
                  for f in files if f.endswith(".py"))


def test_operator_parameters_have_a_caller():
    """Every defaulted parameter of a package function is passed at
    some call site in the package, perfbench/, scripts/ or bench.py.
    A knob that only a test turns belongs in a module constant the
    test monkeypatches, not in the signature (with a call-time guard
    and a test of that guard). Call sites match by function name; a
    ``*args``/``**kwargs`` spread counts as passing everything. The
    registered ``q_*`` entry points and ``cli.main`` are exempt."""
    kw_names: dict[str, set] = {}   # keywords passed, per function name
    n_pos: dict[str, int] = {}      # most positional args passed
    for top in (_PKG_DIR, os.path.join(_REPO_DIR, "perfbench"),
                os.path.join(_REPO_DIR, "scripts"),
                os.path.join(_REPO_DIR, "bench.py")):
        for path in _py_files(top):
            with open(path) as f:
                tree = ast.parse(f.read(), filename=path)
            for node in ast.walk(tree):
                if not isinstance(node, ast.Call):
                    continue
                fn = node.func
                name = (fn.id if isinstance(fn, ast.Name) else
                        fn.attr if isinstance(fn, ast.Attribute) else None)
                if name is None:
                    continue
                kw_names.setdefault(name, set()).update(
                    k.arg for k in node.keywords)
                n = (sys.maxsize if any(isinstance(a, ast.Starred)
                                        for a in node.args)
                     else len(node.args))
                n_pos[name] = max(n_pos.get(name, 0), n)
    uncalled = set()
    for path in _py_files(_PKG_DIR):
        rel = os.path.relpath(path, _PKG_DIR)
        with open(path) as f:
            tree = ast.parse(f.read(), filename=path)
        for node in ast.walk(tree):
            if (not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                    or node.name.startswith("q_")
                    or (rel, node.name) == ("cli.py", "main")):
                continue
            a = node.args
            pos = a.posonlyargs + a.args
            defaulted = [(i, p.arg) for i, p in enumerate(pos)
                         if i >= len(pos) - len(a.defaults)]
            defaulted += [(None, p.arg) for p, d
                          in zip(a.kwonlyargs, a.kw_defaults)
                          if d is not None]
            kws = kw_names.get(node.name, set())
            npos = n_pos.get(node.name, 0)
            for i, arg in defaulted:
                if not (arg in kws or None in kws
                        or (i is not None and i < npos)):
                    uncalled.add((rel, node.name, arg))
    assert uncalled <= _UNCALLED_PARAM_ALLOWLIST, (
        "defaulted parameters no caller passes — make each a module "
        "constant the tests monkeypatch, or allowlist it with its "
        f"reason: {sorted(uncalled - _UNCALLED_PARAM_ALLOWLIST)}")
    assert uncalled == _UNCALLED_PARAM_ALLOWLIST, (
        "stale allowlist entries: "
        f"{sorted(_UNCALLED_PARAM_ALLOWLIST - uncalled)}")
