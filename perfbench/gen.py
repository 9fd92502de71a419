"""Deterministic input generator for the graph workload.

:func:`write_rgd_edges` writes a heavy-tailed, dirty, tab-separated edge
list in the shape the source paper's "Redundant Graph Detection" job
reads (Twitter follower dumps): power-law degrees, duplicate lines (half
of them reversed), rare self-loops and sparse large node ids. It draws
from its own ``numpy.random.Generator(PCG64(seed))`` and writes in a
fixed format, so the same seed gives a byte-identical file on any
machine.
"""

from __future__ import annotations

import numpy as np

# Node ids are drawn from [1, ID_SPACE): sparse and non-contiguous,
# like the reference's Twitter user ids (up to ~5.6e8).
ID_SPACE = 1 << 29
# Shape of the dirty edge list: degree tail exponent, share of duplicate
# lines (half of them reversed), share of self-loops, mean degree.
GAMMA = 2.3
DUP_SHARE = 0.03
LOOP_SHARE = 0.001
AVG_DEGREE = 10.0


def _rng(seed: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64(seed))


def _chung_lu_pairs(rng: np.random.Generator, n_nodes: int,
                    k: int) -> np.ndarray:
    """``k`` canonical ``(lo, hi)`` node-index pairs, endpoints drawn with
    probability proportional to the Chung-Lu weight ``(i+1)^(-1/(GAMMA-1))``,
    which gives a degree distribution with tail exponent ``GAMMA``."""
    w = np.arange(1, n_nodes + 1, dtype=np.float64) ** (-1.0 / (GAMMA - 1.0))
    cdf = np.cumsum(w)
    cdf /= cdf[-1]
    a = np.searchsorted(cdf, rng.random(k), side="right")
    b = np.searchsorted(cdf, rng.random(k), side="right")
    return np.stack([np.minimum(a, b), np.maximum(a, b)], axis=1)


def rgd_edges(seed: int, n_lines: int) -> tuple[np.ndarray, dict]:
    """The dirty edge list as an ``(n_lines, 2)`` int64 array of node ids,
    in file order, plus its input properties (all except the triangle
    count, which the caller's reference check supplies)."""
    rng = _rng(seed)
    n_loops = int(round(n_lines * LOOP_SHARE))
    n_dups = int(round(n_lines * DUP_SHARE))
    n_simple = n_lines - n_loops - n_dups
    n_nodes = max(16, int(2 * n_simple / AVG_DEGREE))

    # Distinct simple pairs, in the order first drawn.
    simple = np.empty((0, 2), dtype=np.int64)
    while len(simple) < n_simple:
        cand = _chung_lu_pairs(rng, n_nodes, 2 * (n_simple - len(simple)) + 64)
        cand = cand[cand[:, 0] != cand[:, 1]]
        both = np.concatenate([simple, cand])
        key = both[:, 0] * n_nodes + both[:, 1]
        _, first = np.unique(key, return_index=True)
        simple = both[np.sort(first)][:n_simple]

    # Random storage orientation for each undirected edge.
    flip = rng.random(n_simple) < 0.5
    stored = np.where(flip[:, None], simple[:, ::-1], simple)
    # Duplicate lines: copies of existing edges, half of them reversed.
    dups = stored[rng.integers(0, n_simple, n_dups)]
    rev = np.arange(n_dups) % 2 == 1
    dups[rev] = dups[rev][:, ::-1]
    used = np.unique(simple)
    loop_nodes = rng.choice(used, size=n_loops, replace=False)
    loops = np.stack([loop_nodes, loop_nodes], axis=1)

    lines = np.concatenate([stored, dups, loops])[rng.permutation(n_lines)]
    ids = rng.choice(ID_SPACE - 1, size=n_nodes, replace=False) + 1
    edges = ids[lines]

    deg = np.bincount(np.concatenate([simple[:, 0], simple[:, 1]]),
                      minlength=n_nodes)
    props = {
        "lines": int(n_lines),
        "simple_edges": int(n_simple),
        "self_loops": int(n_loops),
        "duplicate_lines": int(n_dups),
        "duplicate_share": round(n_dups / n_lines, 6),
        "nodes": int(len(used)),
        "max_degree": int(deg.max()),
        "gamma": GAMMA,
    }
    return edges, props


def write_rgd_edges(path: str, seed: int, n_lines: int) -> dict:
    """Write the edge list as ``src<TAB>dst`` lines; returns its properties."""
    edges, props = rgd_edges(seed, n_lines)
    text = "\n".join(f"{a}\t{b}" for a, b in edges.tolist()) + "\n"
    with open(path, "w", encoding="ascii") as f:
        f.write(text)
    return props
