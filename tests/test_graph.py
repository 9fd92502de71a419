"""Graph operator tests: micro-fixtures (both semantic modes), the
reference's bundled datasets against the survey's golden counts,
in-repo dirty edge lists against a pure-Python replay of the reference,
and property-based invariants."""

from __future__ import annotations

import os

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from mapreduce_experiment_spark.operators import graph as G
from mapreduce_experiment_spark.sources.edges import read_edge_list
from tests.conftest import REFERENCE_RESOURCES

EDGE_SCHEMA = "src long, dst long"


def _edges(spark, pairs):
    return spark.createDataFrame([(int(a), int(b)) for a, b in pairs], EDGE_SCHEMA)


def _tri_set(df):
    return {(r.a, r.b, r.c) for r in df.collect()}


# --- micro-fixtures (FIXTURES.md §1) ---------------------------------------

def test_simple_mode_micro(spark):
    # K4 minus nothing: 4 triangles; plus an isolated edge.
    e = _edges(spark, [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (9, 10)])
    assert _tri_set(G.triangles(e)) == {
        (1, 2, 3), (1, 2, 4), (1, 3, 4), (2, 3, 4)
    }


def test_self_loop_divergence_micro(spark):
    """The FIXTURES.md micro-fixture: faithful mode reproduces the
    reference's degenerate self-loop triangles; simple mode drops them."""
    e = _edges(spark, [(1, 1), (1, 2), (2, 3), (1, 3)])
    assert _tri_set(G.triangles(e, mode="simple")) == {(1, 2, 3)}
    assert _tri_set(G.triangles(e, mode="faithful")) == {
        (1, 1, 1), (1, 1, 2), (1, 1, 3), (1, 2, 3)
    }


def test_faithful_ignores_rows_with_a_null_endpoint(spark):
    """``triangles`` accepts any edges DataFrame, and a row may carry a
    null endpoint; least/greatest skip nulls, so faithful mode must
    drop the row rather than read it as a self-loop."""
    edges = spark.createDataFrame([(1, 2), (2, 3), (1, 3), (4, None)],
                                  EDGE_SCHEMA)
    assert _tri_set(G.triangles(edges, mode="faithful")) == {(1, 2, 3)}


def test_duplicate_edges_do_not_inflate(spark):
    e = _edges(spark, [(1, 2), (2, 1), (1, 2), (2, 3), (1, 3), (1, 3)])
    for mode in ("simple", "faithful"):
        assert _tri_set(G.triangles(e, mode=mode)) == {(1, 2, 3)}, mode


def test_symmetrize_doubles_rows(spark):
    e = _edges(spark, [(1, 2), (3, 4)])
    sym = G.symmetrize(e)
    assert sym.count() == 4
    assert {(r.src, r.dst) for r in sym.collect()} == {
        (1, 2), (2, 1), (3, 4), (4, 3)
    }


def test_adjacency_sorted(spark):
    e = _edges(spark, [(2, 1), (1, 3), (1, 10)])
    adj = {r.node: list(r.neighbors) for r in G.adjacency(e).collect()}
    assert adj[1] == [2, 3, 10]
    assert adj[10] == [1]


def test_candidate_pair_counts(spark):
    # Node 1 has degree 3 -> C(3,2)=3 open triads.
    e = _edges(spark, [(1, 2), (1, 3), (1, 4)])
    counts = {r.node: r.n_candidate_pairs
              for r in G.candidate_pair_counts(e).collect()}
    assert counts == {1: 3, 2: 0, 3: 0, 4: 0}


def test_candidate_pair_count_is_int64_exact(spark):
    """r14 graph review: C(d, 2) was computed as float `/ 2` + cast,
    which loses low bits once d(d-1) exceeds 2^53 and is not a
    multiple of the double's ulp — a degree a hub CAN reach at
    100 TB. Pin the integer-DIV form bit-exact at a lossy-range
    degree (d ≡ 2 mod 4, so d(d-1) ≡ 2 mod 4 while the double
    granularity at this magnitude is 4); the old float form is off
    by 1 here."""
    d = 140_000_002
    exact = d * (d - 1) // 2
    got = spark.createDataFrame([(d,)], "degree long").select(
        F.expr("degree * (degree - 1) div 2").alias("n")).collect()[0].n
    assert got == exact
    lossy = spark.createDataFrame([(d,)], "degree long").select(
        (F.col("degree") * (F.col("degree") - 1) / 2).cast("long")
        .alias("n")).collect()[0].n
    assert lossy != exact  # documents why the float form was a defect


def test_pagerank_empty_graph_returns_empty(spark):
    """r14 graph review: PAGERANK_SCALE // n crashed driver-side with
    ZeroDivisionError on an edgeless graph; every other operator
    returns an empty result on empty input."""
    e = spark.createDataFrame([], EDGE_SCHEMA)
    out = G.pagerank(e, n_iter=2)
    assert out.count() == 0
    assert out.columns == ["node", "rank_micro"]


# --- reference bundled datasets vs survey goldens (BASELINE.md) -------------

GOLDENS = {  # dataset -> (faithful distinct, simple-graph distinct)
    "50.txt": (0, 0),
    "10k.txt": (91_769, 91_769),
    "15k.txt": (113_084, 113_084),
    "20k.txt": (104_284, 104_284),
    "30k.txt": (159_148, None),  # has 1 self-loop; simple-graph golden differs
    "40k.txt": (305_449, 305_449),
    "50k.txt": (252_572, 252_572),
    "100k.txt": (587_314, 587_199),
}


@pytest.mark.slow
@pytest.mark.parametrize("fname,expected", sorted(GOLDENS.items()))
def test_reference_dataset_goldens(spark, fname, expected):
    path = os.path.join(REFERENCE_RESOURCES, fname)
    if not os.path.exists(path):
        pytest.skip(f"{path} not present")
    edges = read_edge_list(spark, path)
    faithful, simple = expected
    assert G.triangle_count(edges, mode="faithful").collect()[0].n_triangles == faithful
    if simple is not None:
        assert G.triangle_count(edges, mode="simple").collect()[0].n_triangles == simple


# --- in-repo dirty-graph goldens --------------------------------------------
# The reference goldens above need the reference's bundled datasets;
# these small seeded edge lists live in the repo, so both triangle modes are pinned on
# every run. Each carries the dirt the reference's semantics depend on
# (SURVEY finding 3): duplicate lines, reversed duplicates, repeated
# self-loops, a node whose only edge is a self-loop, and a hub. The
# counts were computed by _reference_replay below, a pure-Python
# replay of the reference's groupByKey-and-sentinel loop that shares
# no code with Spark. Regenerate the files with
# ``python3 -m tests.test_graph``.

DIRTY_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
DIRTY_GOLDENS = {  # file -> (seed, faithful distinct, simple distinct)
    "dirty_graph_7.txt": (7, 107, 58),
    "dirty_graph_8.txt": (8, 132, 78),
}


def _dirty_edge_lines(seed: int, n_nodes: int = 60, n_random: int = 170,
                      hub_degree: int = 30) -> list[str]:
    """A seeded dirty edge list in the reference's text format. Node ids
    start at 1: the reference reserves 0 as its edge-marker sentinel."""
    import random

    rng = random.Random(seed)
    hub = 1
    pairs = [(hub, v) for v in rng.sample(range(2, n_nodes + 1), hub_degree)]
    while len(pairs) < hub_degree + n_random:
        u, v = rng.randint(2, n_nodes), rng.randint(2, n_nodes)
        if u != v:
            pairs.append((u, v))
    # duplicate lines, half of them reversed
    for u, v in rng.sample(pairs, len(pairs) // 10):
        pairs.append((v, u) if rng.random() < 0.5 else (u, v))
    # self-loops on graph nodes, some repeated, including one on the hub
    for node in [hub] + rng.sample(range(2, n_nodes + 1), 3):
        pairs.extend([(node, node)] * rng.randint(1, 3))
    # a node whose only edge is a (repeated) self-loop
    pairs.extend([(n_nodes + 1, n_nodes + 1)] * 2)
    rng.shuffle(pairs)
    seps = (" ", "\t")  # the bundled files use spaces, the cluster copies tabs
    return [f"{u}{rng.choice(seps)}{v}" for u, v in pairs]


def _reference_replay(lines: list[str]) -> set[tuple[int, int, int]]:
    """The reference's triangle job (mapreducePredictionTwitter100.java
    29-164, with the closing collect of SURVEY finding 2) replayed in
    plain Python: symmetrize every line into a multiset adjacency list
    (groupByKey); per node emit a sentinel-0 marker for every incident
    pair and the node as witness for every pair of list POSITIONS i < j
    of its sorted list; group by pair (groupByKey); a group holding the
    sentinel closes a triangle with each witness; distinct."""
    from collections import defaultdict

    adj = defaultdict(list)
    for line in lines:
        a, b = (int(t) for t in line.split())
        adj[a].append(b)
        adj[b].append(a)
    tagged = defaultdict(list)
    for w, nbrs in adj.items():
        for n in nbrs:
            tagged[(min(w, n), max(w, n))].append(0)
        srt = sorted(nbrs)
        for i in range(len(srt)):
            for j in range(i + 1, len(srt)):
                tagged[(srt[i], srt[j])].append(w)
    return {tuple(sorted((x, y, w)))
            for (x, y), vals in tagged.items() if 0 in vals
            for w in vals if w != 0}


def _replay_counts(lines: list[str]) -> tuple[int, int]:
    """(faithful, simple): simple mode is the reference on the input
    with self-loops dropped (SURVEY finding 3)."""
    no_loops = [ln for ln in lines if len(set(ln.split())) == 2]
    return len(_reference_replay(lines)), len(_reference_replay(no_loops))


def _dirty_lines(fname: str) -> list[str]:
    with open(os.path.join(DIRTY_DIR, fname)) as f:
        return f.read().splitlines()


def test_reference_replay_reproduces_survey_fixture():
    """The replay yields the SURVEY finding-3 fixture's degenerate
    output, so it models the self-loop semantics faithful mode
    reproduces."""
    lines = ["1 1", "1 2", "2 3", "1 3"]
    assert _reference_replay(lines) == {
        (1, 1, 1), (1, 1, 2), (1, 1, 3), (1, 2, 3)}
    assert _replay_counts(lines) == (4, 1)


@pytest.mark.parametrize("fname", sorted(DIRTY_GOLDENS))
def test_dirty_graph_goldens_match_reference_replay(fname):
    """The committed file is the generator's output, it carries every
    kind of dirt, and the pinned counts are the replay's."""
    from collections import Counter

    seed, faithful, simple = DIRTY_GOLDENS[fname]
    lines = _dirty_lines(fname)
    assert lines == _dirty_edge_lines(seed)
    pairs = [tuple(int(t) for t in ln.split()) for ln in lines]
    loops = [a for a, b in pairs if a == b]
    assert len(set(pairs)) < len(pairs)                    # duplicate lines
    assert any((b, a) in set(pairs) for a, b in pairs if a != b)  # reversed
    assert len(set(loops)) < len(loops)                    # repeated loops
    assert any(all(p == (n, n) for p in pairs if n in p) for n in loops)
    assert max(Counter(n for p in pairs for n in p).values()) >= 30  # hub
    assert faithful > simple > 0
    assert _replay_counts(lines) == (faithful, simple)


@pytest.mark.parametrize("fname", sorted(DIRTY_GOLDENS))
def test_dirty_graph_goldens(spark, fname):
    """Both triangle modes over the text reader hit the pinned counts."""
    _seed, faithful, simple = DIRTY_GOLDENS[fname]
    edges = read_edge_list(spark, os.path.join(DIRTY_DIR, fname))
    for mode, want in (("faithful", faithful), ("simple", simple)):
        got = G.triangle_count(edges, mode=mode).collect()[0].n_triangles
        assert got == want, mode


def _count_materializations(monkeypatch, cls) -> list:
    """Shim ``cls``'s localCheckpoint, persist and cache to record
    each call (``(name, eager)``) in the returned list."""
    calls = []
    real_checkpoint = cls.localCheckpoint

    def counting_checkpoint(self, eager=True, storageLevel=None):
        calls.append(("localCheckpoint", eager))
        return real_checkpoint(self, eager, storageLevel)

    def counting_persist(name):
        real = getattr(cls, name)

        def shim(self, *args, **kwargs):
            calls.append((name, None))
            return real(self, *args, **kwargs)
        return shim

    monkeypatch.setattr(cls, "localCheckpoint", counting_checkpoint)
    for name in ("persist", "cache"):
        monkeypatch.setattr(cls, name, counting_persist(name))
    return calls


def test_triangle_count_materializes_exactly_two_checkpoints(spark,
                                                             monkeypatch):
    """Each mode builds exactly two eager localCheckpoints — the edge
    set and the oriented adjacency arrays — and persists nothing."""
    pairs = [(1, 2), (2, 3), (1, 3), (3, 4), (2, 4), (4, 4), (2, 1)]
    e = _edges(spark, pairs)
    faithful, simple = _replay_counts([f"{a} {b}" for a, b in pairs])
    calls = _count_materializations(monkeypatch, type(e))
    for mode, want in (("simple", simple), ("faithful", faithful)):
        calls.clear()
        df = G.triangle_count(e, mode=mode)
        assert calls == [("localCheckpoint", True)] * 2, mode
        assert df.collect()[0].n_triangles == want, mode


# --- connected components: driver path vs distributed loop -----------------

def _union_find_components(pairs) -> list[tuple[int, int]]:
    """Pure-Python reference: sorted (node, min id of its component)
    over the simple graph (self-loops dropped, so a node seen only in
    a self-loop is absent)."""
    parent = {}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x
    for a, b in pairs:
        if a == b:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return sorted((n, find(n)) for n in parent)


def _cc_rows(df) -> list[tuple[int, int]]:
    return sorted((r.node, r.component) for r in df.collect())


CC_CASES = {  # name -> (pairs, assume_canonical)
    "path40": ([(i, i + 1) for i in range(40)], True),
    "star": ([(7, i) for i in range(8, 20)], True),
    "triangle": ([(1, 2), (2, 3), (1, 3)], True),
    "disjoint_pairs": ([(2 * i, 2 * i + 1) for i in range(10)], True),
    "dup_reversed_self_loop": (
        [(5, 3), (3, 5), (3, 5), (9, 3), (3, 9), (4, 4), (11, 12), (12, 11),
         (12, 12)], False),
    "all_self_loops": ([(1, 1), (2, 2), (3, 3)], False),
}


@pytest.mark.parametrize("case", sorted(CC_CASES))
def test_connected_components_paths_agree(spark, broadcast_off, case):
    """The driver path (default threshold), the distributed loop
    (threshold -1) and a union-find reference give identical rows."""
    pairs, canonical = CC_CASES[case]
    e = _edges(spark, pairs)
    want = _union_find_components(pairs)
    driver = G.connected_components(e, assume_canonical=canonical)
    assert _cc_rows(driver) == want
    assert driver.dtypes == [("node", "bigint"), ("component", "bigint")]
    with broadcast_off():
        loop = _cc_rows(G.connected_components(
            e, assume_canonical=canonical))
    assert loop == want


def test_connected_components_warns_when_rounds_run_out(spark, broadcast_off,
                                                       monkeypatch):
    """Past CC_MAX_ITER rounds the distributed loop warns and returns
    the labels it has: one round moves each label one hop along a
    40-node path, so every node but the first still holds its left
    neighbor's id instead of the component's minimum."""
    pairs = [(i, i + 1) for i in range(40)]
    monkeypatch.setattr(G, "CC_MAX_ITER", 1)
    with broadcast_off(), pytest.warns(RuntimeWarning, match="fixpoint"):
        labels = _cc_rows(G.connected_components(
            _edges(spark, pairs), assume_canonical=True))
    assert labels == [(0, 0)] + [(i, i - 1) for i in range(1, 41)]
    assert labels != _union_find_components(pairs)


def test_connected_components_driver_path_makes_no_checkpoint(spark,
                                                              monkeypatch):
    """Below the broadcast threshold the only materialization is the
    persisted edge table: no fixpoint round, so no localCheckpoint."""
    e = _edges(spark, [(1, 2), (2, 3), (5, 6)])
    calls = _count_materializations(monkeypatch, type(e))
    labels = G.connected_components(e)
    assert calls == [("persist", None)]
    assert _cc_rows(labels) == [(1, 1), (2, 1), (3, 1), (5, 5), (6, 5)]


def test_materialize_uses_reliable_checkpoint_when_dir_is_set(tmp_path):
    """With a checkpoint dir set on the SparkContext, materialize writes
    reliable checkpoints there, and the operators that use it keep
    their answers: both triangle modes hit the reference replay and
    connected_components' distributed loop (threshold -1) matches the
    union-find reference. A fresh process, because the suite's session
    must not get a checkpoint dir."""
    import json
    import subprocess
    import sys

    tri_pairs = [(1, 2), (2, 3), (1, 3), (3, 4), (2, 4), (4, 4), (2, 1)]
    cc_pairs, _ = CC_CASES["dup_reversed_self_loop"]
    ckpt = str(tmp_path / "ckpt")
    script = """
import json, os, sys
sys.path.insert(0, ".")
from pyspark.sql import SparkSession
from mapreduce_experiment_spark.operators import graph as G
ckpt, tri, cc = sys.argv[1], json.loads(sys.argv[2]), json.loads(sys.argv[3])
spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.autoBroadcastJoinThreshold", "-1")
         .getOrCreate())
spark.sparkContext.setCheckpointDir(ckpt)
e = spark.createDataFrame(tri, "src long, dst long")
counts = [G.triangle_count(e, mode=m).collect()[0].n_triangles
          for m in ("faithful", "simple")]
labels = sorted((r.node, r.component) for r in G.connected_components(
    spark.createDataFrame(cc, "src long, dst long")).collect())
parts = [f for _, _, fs in os.walk(ckpt) for f in fs if f.startswith("part-")]
print(json.dumps({"counts": counts, "labels": labels, "parts": len(parts)}))
spark.stop()
"""
    r = subprocess.run(
        [sys.executable, "-c", script, ckpt, json.dumps(tri_pairs),
         json.dumps(cc_pairs)],
        capture_output=True, text=True, timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    assert r.returncode == 0, f"stdout:\n{r.stdout}\nstderr:\n{r.stderr[-2000:]}"
    got = json.loads(r.stdout.strip().splitlines()[-1])
    assert tuple(got["counts"]) == _replay_counts(
        [f"{a} {b}" for a, b in tri_pairs])
    assert [tuple(x) for x in got["labels"]] \
        == _union_find_components(cc_pairs)
    assert got["parts"] > 0, "no reliable checkpoint files were written"


# --- property-based invariants (SURVEY §5.2 item 4) --------------------------

edge_lists = st.lists(
    st.tuples(st.integers(1, 12), st.integers(1, 12)),
    min_size=1, max_size=25,
)


@settings(max_examples=200, deadline=None)
@given(edge_lists)
def test_min_labels_matches_union_find(pairs):
    """The driver path's numpy labeling equals the union-find
    reference on arbitrary small graphs (fed the non-loop edges, as
    connected_components feeds it the canonical edge set)."""
    simple = [(a, b) for a, b in pairs if a != b]
    u = np.array([a for a, _ in simple], dtype=np.int64)
    v = np.array([b for _, b in simple], dtype=np.int64)
    nodes, comp = G._min_labels(u, v)
    assert list(zip(nodes.tolist(), comp.tolist())) \
        == _union_find_components(pairs)


def _run_triangle_queries(spark, e, broadcast_off, tmp_path):
    assert G.triangle_count(e).collect()[0].n_triangles == 2
    assert len(_tri_set(G.triangles(e, mode="faithful"))) > 2


def _run_cc_distributed(spark, e, broadcast_off, tmp_path):
    with broadcast_off():
        G.connected_components(e).collect()


def _run_streaming_triangles(spark, e, broadcast_off, tmp_path):
    from mapreduce_experiment_spark.streaming.triangles import (
        streaming_triangles,
    )
    edges_dir = str(tmp_path / "edges_in")
    e.coalesce(1).write.parquet(edges_dir)
    work = str(tmp_path / "work")
    assert len(_tri_set(streaming_triangles(spark, edges_dir, work))) == 2


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog " * 4
    return spark.createDataFrame(
        [(1, base), (2, base.replace("lazy", "sleepy", 1)),
         (3, "completely different content about spark plans " * 4)],
        "doc_id long, text string")


def _run_kmeans(spark, e, broadcast_off, tmp_path):
    from mapreduce_experiment_spark.operators import similarity as S

    emb = spark.createDataFrame(
        [(i, [float(i % 2), 1.0 - i % 2]) for i in range(6)],
        "vec_id long, embedding array<float>")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(S, "KMEANS_K", 2)
        mp.setattr(S, "KMEANS_ITER", 2)
        assert S.kmeans_train(emb)[0] == [0, 1]


def _run_dedup(name):
    def run(spark, e, broadcast_off, tmp_path):
        from mapreduce_experiment_spark.operators import dedup as D

        getattr(D, name)(_docs(spark)).collect()
    return run


NO_CACHE_CASES = {
    "triangle_queries": _run_triangle_queries,
    "pagerank": lambda spark, e, *_: G.pagerank(e).collect(),
    "connected_components_driver":
        lambda spark, e, *_: G.connected_components(e).collect(),
    "connected_components_distributed": _run_cc_distributed,
    "ngram_jaccard_pairs": _run_dedup("ngram_jaccard_pairs"),
    "minhash_dedup_pairs": _run_dedup("minhash_dedup_pairs"),
    "span_deduped_corpus": _run_dedup("span_deduped_corpus"),
    "kmeans_train": _run_kmeans,
    "streaming_triangles": _run_streaming_triangles,
}


@pytest.mark.parametrize("case", sorted(NO_CACHE_CASES))
def test_operators_leave_no_cache_entries(spark, broadcast_off, tmp_path,
                                          case):
    """Operators materialize their reused intermediates through
    session.materialize, whose blocks the ContextCleaner frees with
    the result; connected_components unpersists the one table it
    persists. So after any of these actions the SQL CacheManager is
    EMPTY — a long-lived session issuing many queries accumulates no
    entries."""
    spark.catalog.clearCache()
    e = _edges(spark, [(1, 2), (2, 3), (1, 3), (3, 4), (2, 4), (4, 4)])
    NO_CACHE_CASES[case](spark, e, broadcast_off, tmp_path)
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty(), f"{case} left SQL cache entries registered"


def test_streaming_triangles_span_batches(spark, tmp_path):
    """A triangle whose edges arrive in different micro-batches is
    emitted exactly once, in the batch completing it; duplicate edges
    across batches don't re-emit."""
    from mapreduce_experiment_spark.streaming.triangles import (
        streaming_triangles,
    )
    batches = [
        [(1, 2), (2, 3)],
        [(1, 3), (1, 2)],          # completes (1,2,3); (1,2) is a dup
        [(3, 4), (2, 4)],          # completes (2,3,4)
    ]
    edges_dir = str(tmp_path / "edges_in")
    for i, pairs in enumerate(batches):
        _edges(spark, pairs).coalesce(1).write.mode("append").parquet(edges_dir)
    tris = streaming_triangles(spark, edges_dir, str(tmp_path / "work"))
    assert _tri_set(tris) == {(1, 2, 3), (2, 3, 4)}
    assert tris.count() == 2  # exactly once — no duplicate emissions


def test_streaming_triangles_hub_fallback_path(spark, tmp_path, monkeypatch):
    """r18: the per-batch closure intersects neighbor arrays only for
    sub-cap nodes; edges touching a node above MAX_INTERSECT_DEGREE
    take the row-expansion fallback. Force the cap to 1 so EVERY edge
    rides the fallback (star node 1 has degree 3) and to 2 for a mixed
    split — the triangle set must be identical either way."""
    from mapreduce_experiment_spark.streaming import triangles as ST

    batches = [
        [(1, 2), (2, 3)],
        [(1, 3), (1, 4), (2, 4)],  # completes (1,2,3); (1,2,4) via (2,4)
    ]
    want = {(1, 2, 3), (1, 2, 4)}
    for cap in (1, 2, 1 << 16):
        monkeypatch.setattr(ST, "MAX_INTERSECT_DEGREE", cap)
        edges_dir = str(tmp_path / f"edges_cap{cap}")
        for pairs in batches:
            _edges(spark, pairs).coalesce(1).write.mode("append") \
                .parquet(edges_dir)
        tris = ST.streaming_triangles(spark, edges_dir,
                                      str(tmp_path / f"work_cap{cap}"))
        assert _tri_set(tris) == want, cap


def test_streaming_triangles_hub_cap_crossed_mid_stream(spark, tmp_path,
                                                        monkeypatch):
    """r19 delta-state layout: adjacency lives as per-batch DELTA
    partitions, and a node that grows past MAX_INTERSECT_DEGREE only
    in a LATER batch has stale delta rows already written from when
    it was sub-cap — the merge must exclude them (the node's edges
    take the row-expansion fallback from then on) and the triangle
    set must be unaffected. Node 1 has degree 2 after batch 0 and
    degree 4 after batch 1; cap 3 puts the crossing mid-stream."""
    from mapreduce_experiment_spark.streaming import triangles as ST

    batches = [
        [(1, 2), (1, 3), (2, 3)],          # tri (1,2,3); d(1)=2
        [(1, 4), (1, 5), (4, 5), (2, 4)],  # d(1)=4 > cap; completes
        #                                    (1,4,5) and (1,2,4)
        [(2, 5), (1, 2)],                  # (1,2) dup; (2,5) completes
        #                                    (1,2,5) and (2,4,5)
    ]
    want = {(1, 2, 3), (1, 4, 5), (1, 2, 4), (1, 2, 5), (2, 4, 5)}
    for cap in (3, 1 << 16):
        monkeypatch.setattr(ST, "MAX_INTERSECT_DEGREE", cap)
        edges_dir = str(tmp_path / f"edges_x{cap}")
        for pairs in batches:
            _edges(spark, pairs).coalesce(1).write.mode("append") \
                .parquet(edges_dir)
        tris = ST.streaming_triangles(spark, edges_dir,
                                      str(tmp_path / f"work_x{cap}"))
        assert _tri_set(tris) == want, cap


def test_streaming_triangles_large_batch_antijoin_fallback(spark, tmp_path,
                                                           monkeypatch):
    """r19: batches above MAX_BROADCAST_BATCH_EDGES take the shuffled
    anti-join instead of the broadcast membership probe — force the
    limit to 1 so every batch rides the fallback; results identical."""
    from mapreduce_experiment_spark.streaming import triangles as ST

    monkeypatch.setattr(ST, "MAX_BROADCAST_BATCH_EDGES", 1)
    batches = [
        [(1, 2), (2, 3)],
        [(1, 3), (1, 4), (2, 4), (1, 2)],  # (1,2) dup must not re-enter
    ]
    edges_dir = str(tmp_path / "edges_lb")
    for pairs in batches:
        _edges(spark, pairs).coalesce(1).write.mode("append") \
            .parquet(edges_dir)
    tris = ST.streaming_triangles(spark, edges_dir,
                                  str(tmp_path / "work_lb"))
    assert _tri_set(tris) == {(1, 2, 3), (1, 2, 4)}
    assert tris.count() == 2


def test_streaming_triangles_batch_replay_is_idempotent(spark, tmp_path):
    """r13 review: foreachBatch is at-least-once, and the old blind
    appends double-emitted a replayed batch's triangles (a run dying
    between the two sink appends left a half-committed batch that the
    anti-join could not suppress). Commits are now one overwritten
    Hive partition per batch_key, and the batch's own partition is
    EXCLUDED from the state read — so replaying _process_batch, even
    over a half-committed first attempt, converges to the same set."""
    from mapreduce_experiment_spark.streaming.triangles import (
        _process_batch, _read_batches,
    )
    work = tmp_path / "work_replay"
    state_dir, out_dir = str(work / "edge_state"), str(work / "triangles_out")

    _process_batch(_edges(spark, [(1, 2), (2, 3)]), "r0b0",
                   state_dir, out_dir)
    b1 = _edges(spark, [(1, 3), (3, 4), (2, 4)])  # completes both tris

    # half-committed first attempt: triangles partition written (with
    # content that must be REPLACED, not appended to), state partition
    # never committed — the failure window the review named
    import os
    spark.createDataFrame([(9, 9, 9)], "ta long, tb long, tc long") \
        .write.mode("overwrite") \
        .parquet(os.path.join(out_dir, "batch_key=r0b1"))

    for _ in range(2):  # replay twice — idempotent both times
        _process_batch(b1, "r0b1", state_dir, out_dir)
        got = {(r.ta, r.tb, r.tc) for r in _read_batches(
            spark, out_dir, "ta long, tb long, tc long").collect()}
        assert got == {(1, 2, 3), (2, 3, 4)}
        state = {(r.u, r.v) for r in _read_batches(
            spark, state_dir, "u long, v long").collect()}
        assert state == {(1, 2), (2, 3), (1, 3), (3, 4), (2, 4)}


def test_streaming_triangles_empty_source(spark, tmp_path):
    """r13 review: a source directory yielding zero micro-batches left
    triangles_out uncreated and the final read crashed PATH_NOT_FOUND;
    it must return an empty result instead."""
    from mapreduce_experiment_spark.streaming.triangles import (
        streaming_triangles,
    )
    edges_dir = tmp_path / "edges_empty"
    edges_dir.mkdir()
    tris = streaming_triangles(spark, str(edges_dir),
                               str(tmp_path / "work_empty"))
    assert tris.count() == 0
    assert tris.columns == ["a", "b", "c"]


def test_streaming_triangles_rerun_same_workdir(spark, tmp_path):
    """A second full call over the same work_dir (fresh checkpoint,
    new run key) reprocesses the source but the anti-join suppresses
    every already-seen edge — the triangle set must not grow, and the
    new run's partitions must not shadow the old run's (the run
    ordinal in batch_key keeps exclusion scoped to the in-flight
    batch only)."""
    from mapreduce_experiment_spark.streaming.triangles import (
        streaming_triangles,
    )
    edges_dir = str(tmp_path / "edges_rerun")
    _edges(spark, [(1, 2), (2, 3), (1, 3)]).coalesce(1) \
        .write.mode("append").parquet(edges_dir)
    work = str(tmp_path / "work_rerun")
    first = streaming_triangles(spark, edges_dir, work)
    assert _tri_set(first) == {(1, 2, 3)} and first.count() == 1
    second = streaming_triangles(spark, edges_dir, work)
    assert _tri_set(second) == {(1, 2, 3)} and second.count() == 1


def test_read_batches_swallows_only_missing_path(spark, tmp_path):
    """ADVICE r13: _read_batches caught EVERY AnalysisException and
    returned empty, so a genuine analysis failure on the state root
    (corrupt layout, schema conflict) was silently treated as 'no
    prior state' — the anti-join would then re-admit already-seen
    edges and duplicate triangles. Only PATH_NOT_FOUND may mean
    empty; everything else re-raises."""
    from pyspark.errors import AnalysisException

    from mapreduce_experiment_spark.streaming.triangles import (
        _is_missing_path, _read_batches,
    )
    # the one condition that legitimately means "no batch committed"
    # (message passed explicitly: PATH_NOT_FOUND is a JVM-side class
    # absent from the Python error-conditions.json, so the template
    # lookup the message-less constructor does would fail)
    assert _is_missing_path(AnalysisException(
        message="[PATH_NOT_FOUND] Path does not exist: file:/nope",
        errorClass="PATH_NOT_FOUND", messageParameters={}))
    # any OTHER analysis failure must propagate
    assert not _is_missing_path(AnalysisException(
        message="[COLUMN_ALREADY_EXISTS] batch_key",
        errorClass="COLUMN_ALREADY_EXISTS",
        messageParameters={"columnName": "batch_key"}))
    # end-to-end: a genuinely missing root still reads as empty
    empty = _read_batches(spark, str(tmp_path / "never_written"),
                          "u long, v long")
    assert empty.count() == 0 and empty.columns == ["u", "v"]


def test_streaming_triangles_cross_run_half_commit_dedups(spark, tmp_path):
    """ADVICE r13: a crash BETWEEN the triangles write and the state
    write, followed by a fresh-checkpoint rerun under a DIFFERENT run
    ordinal, leaves the orphaned triangles partition in place while
    the rerun re-derives the same triangles under its own batch_key —
    per-partition overwrite can't collapse those. The accumulated
    read is now .distinct(), so the duplicate rows union to one."""
    import os

    from mapreduce_experiment_spark.streaming.triangles import (
        streaming_triangles,
    )
    work = tmp_path / "work_half_commit"
    # the half-committed state: triangles partition from a crashed run
    # whose state write never happened (so nothing suppresses the
    # rerun's re-derivation)
    spark.createDataFrame([(1, 2, 3)], "ta long, tb long, tc long") \
        .write.mode("overwrite") \
        .parquet(os.path.join(str(work / "triangles_out"),
                              "batch_key=r9999b0"))
    edges_dir = str(tmp_path / "edges_half_commit")
    _edges(spark, [(1, 2), (2, 3), (1, 3)]).coalesce(1) \
        .write.mode("append").parquet(edges_dir)
    tris = streaming_triangles(spark, edges_dir, str(work))
    assert _tri_set(tris) == {(1, 2, 3)}
    assert tris.count() == 1  # duplicate across run keys collapsed


def test_streaming_triangles_orphaned_state_dedups(spark, tmp_path):
    """A crashed run can leave deg/adj state partitions behind with no
    edge partition and no triangle rows. The rerun then reads the
    orphan's adjacency for (2,3) before it re-admits that edge: it
    emits (1,2,3) when (1,2),(1,3) arrive and again when (2,3) does,
    both under its own run ordinal. The final distinct must see the
    orphan's run ordinal in the state dirs and apply."""
    import os
    import shutil
    import time

    from mapreduce_experiment_spark.streaming.triangles import (
        _process_batch, streaming_triangles,
    )
    work = tmp_path / "work_orphan"
    state_dir = str(work / "edge_state")
    _process_batch(_edges(spark, [(2, 3)]), "r9999b0", state_dir,
                   str(work / "triangles_out"))
    shutil.rmtree(os.path.join(state_dir, "batch_key=r9999b0"))
    edges_dir = str(tmp_path / "edges_orphan")
    for pairs in ([(1, 2), (1, 3)], [(2, 3)]):
        _edges(spark, pairs).coalesce(1).write.mode("append") \
            .parquet(edges_dir)
        time.sleep(0.05)  # distinct mtimes order the two micro-batches
    tris = streaming_triangles(spark, edges_dir, str(work))
    assert _tri_set(tris) == {(1, 2, 3)}
    assert tris.count() == 1


def _faithful_multadj_replay(edges):
    """The pre-r18 faithful formulation — the literal multiset-
    adjacency replay of the reference's degenerate semantics — kept as
    the test reference proving the shipped class-decomposition
    (operators/graph.py triangles mode='faithful') emits exactly the
    same distinct triple set on dirty input."""
    m = G.edge_multiplicity(edges)
    madj = m.select(
        F.col("u").alias("w"), F.col("v").alias("x"),
        F.when(F.col("u") == F.col("v"), F.col("mult") * 2)
         .otherwise(F.col("mult")).alias("m"),
    )
    madj = madj.union(
        madj.where(F.col("w") != F.col("x"))
            .select(F.col("x").alias("w"), F.col("w").alias("x"), "m")
    )
    pair = m.select(F.col("u").alias("x"), F.col("v").alias("y"))
    ax = madj.select(F.col("w"), F.col("x"), F.col("m").alias("m_x"))
    ay = madj.select(F.col("w"), F.col("x").alias("y"),
                     F.col("m").alias("m_y"))
    tri = (
        pair.join(ax, "x").join(ay, ["w", "y"])
        .where(
            ((F.col("x") != F.col("y"))
             & (F.col("m_x") >= 1) & (F.col("m_y") >= 1))
            | ((F.col("x") == F.col("y")) & (F.col("m_x") >= 2))
        )
    )
    abc = F.array_sort(F.array("x", "y", "w"))
    return tri.select(
        abc.getItem(0).alias("a"),
        abc.getItem(1).alias("b"),
        abc.getItem(2).alias("c"),
    ).distinct()


@settings(max_examples=15, deadline=None)
@given(pairs=edge_lists)
def test_faithful_decomposition_matches_multadj_replay(spark, pairs):
    """r18: faithful mode is decomposed into simple-support triangles
    + self-loop classes; on random dirty graphs (duplicates AND
    self-loops — the (i, i) tuples the strategy generates) it must
    emit exactly the replay's distinct set, with no duplicate rows
    (the decomposition claims disjointness, so it ships without a
    final distinct)."""
    e = _edges(spark, pairs)
    got = G.triangles(e, mode="faithful").collect()
    got_set = {(r.a, r.b, r.c) for r in got}
    assert len(got) == len(got_set), "duplicate rows — classes overlap"
    assert got_set == _tri_set(_faithful_multadj_replay(_edges(spark, pairs)))


@settings(max_examples=10, deadline=None)
@given(pairs=edge_lists)
def test_triangles_invariant_under_orientation_and_duplication(spark, pairs):
    base = _edges(spark, pairs)
    flipped = _edges(spark, [(b, a) for a, b in pairs])
    doubled = _edges(spark, pairs + pairs)
    want = _tri_set(G.triangles(base))
    assert _tri_set(G.triangles(flipped)) == want
    assert _tri_set(G.triangles(doubled)) == want


def test_derive_edges_already_canonical(spark, sf_smoke):
    """Graph queries pass assume_canonical=True over derive_edges,
    which silently trusts that the input is the canonical simple edge
    set. Pin that invariant locally: a full canonical_edges pass over
    derive_edges must be a no-op (same rows), so a derive_edges
    regression (duplicates, self-loops, reversed orientation) fails
    here instead of corrupting triangles/CC/PageRank."""
    from mapreduce_experiment_spark.operators.graph import canonical_edges
    from mapreduce_experiment_spark.sources.tables import derive_edges

    e = derive_edges(spark, sf_smoke).persist()
    normalized = canonical_edges(e, assume_canonical=False).select(
        F.col("u").alias("src"), F.col("v").alias("dst"))
    n_raw, n_norm = e.count(), normalized.count()
    assert n_raw == n_norm
    assert e.exceptAll(normalized).count() == 0
    assert normalized.exceptAll(e).count() == 0
    e.unpersist()


if __name__ == "__main__":
    os.makedirs(DIRTY_DIR, exist_ok=True)
    for _fname, (_seed, _f, _s) in sorted(DIRTY_GOLDENS.items()):
        _lines = _dirty_edge_lines(_seed)
        with open(os.path.join(DIRTY_DIR, _fname), "w") as _out:
            _out.write("\n".join(_lines) + "\n")
        print(_fname, "faithful, simple =", _replay_counts(_lines))
