"""Expected outputs for the benchmark's operator calls, computed once per run
on the driver from the collected edge lists, and the checks that compare an
operator's result against them.

PageRank and label propagation are NumPy versions of
``tests/oracles.pagerank_oracle`` and ``tests/oracles.label_propagation_oracle``
with the same semantics. Those loop in Python and take seconds per run at
benchmark size, and ``perfbench/test_perfbench.py`` pins each pair together.
Components and triangles come from networkx, which the engine does not use.
"""

from __future__ import annotations

import networkx as nx
import numpy as np

RANK_RTOL = 1e-6
RANK_ATOL = 1e-12


def pagerank_reference(
    src: np.ndarray,
    dst: np.ndarray,
    n: int,
    d: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 10_000,
) -> tuple[np.ndarray, int]:
    """Uniform-teleport PageRank with dangling-mass redistribution; stops
    when the L1 change of an update is below ``tol``. Returns (ranks,
    number of updates)."""
    out_deg = np.bincount(src, minlength=n)
    w = 1.0 / out_deg[src]
    dangling = out_deg == 0
    v = 1.0 / n
    p = np.full(n, v)
    it = 0
    while it < max_iter:
        contrib = np.bincount(dst, weights=p[src] * w, minlength=n)
        p_new = d * (contrib + p[dangling].sum() * v) + (1.0 - d) * v
        l1 = float(np.abs(p_new - p).sum())
        p = p_new
        it += 1
        if l1 < tol:
            break
    return p, it


def components_reference(src: np.ndarray, dst: np.ndarray, n: int) -> np.ndarray:
    """Undirected components over vertices 0..n-1, labelled by min id."""
    g = nx.Graph()
    g.add_nodes_from(range(n))
    g.add_edges_from(zip(src.tolist(), dst.tolist()))
    labels = np.empty(n, dtype=np.int64)
    for comp in nx.connected_components(g):
        members = np.fromiter(comp, dtype=np.int64)
        labels[members] = members.min()
    return labels


def labelprop_reference(
    src: np.ndarray, dst: np.ndarray, n: int, max_iter: int
) -> np.ndarray:
    """Synchronous LPA over the undirected simple graph: each vertex with a
    neighbour takes its most frequent neighbour label, ties to the smallest;
    stops early when no label changes."""
    keep = src != dst
    a, b = src[keep], dst[keep]
    pairs = np.unique(np.concatenate([a * n + b, b * n + a]))
    u, v = pairs // n, pairs % n
    labels = np.arange(n, dtype=np.int64)
    for _ in range(max_iter):
        keys, counts = np.unique(u * n + labels[v], return_counts=True)
        ku, kl = keys // n, keys % n
        order = np.lexsort((kl, -counts, ku))
        ku, kl = ku[order], kl[order]
        first = np.ones(len(ku), dtype=bool)
        first[1:] = ku[1:] != ku[:-1]
        new = labels.copy()
        new[ku[first]] = kl[first]
        if np.array_equal(new, labels):
            break
        labels = new
    return labels


def triangles_reference(src: np.ndarray, dst: np.ndarray) -> int:
    g = nx.Graph()
    g.add_edges_from((a, b) for a, b in zip(src.tolist(), dst.tolist()) if a != b)
    return sum(nx.triangles(g).values()) // 3


def dense_column(df, key: str, col: str, n: int) -> np.ndarray:
    """Collect ``df(key, col)`` into an array indexed by key 0..n-1;
    raises if the keys are not exactly 0..n-1."""
    pdf = df.select(key, col).toPandas()
    keys = pdf[key].to_numpy(dtype=np.int64)
    if len(keys) != n or not np.array_equal(np.sort(keys), np.arange(n)):
        raise AssertionError(f"{key} is not exactly 0..{n - 1}")
    out = np.empty(n, dtype=pdf[col].dtype)
    out[keys] = pdf[col].to_numpy()
    return out


def check_ranks(result, want: np.ndarray, want_iters: int) -> None:
    if result.iterations != want_iters:
        raise AssertionError(
            f"pagerank ran {result.iterations} supersteps, oracle {want_iters}"
        )
    got = dense_column(result.ranks, "id", "rank", len(want))
    if not np.allclose(got, want, rtol=RANK_RTOL, atol=RANK_ATOL):
        worst = float(np.max(np.abs(got - want)))
        raise AssertionError(f"pagerank ranks differ (max abs err {worst:.3g})")


def check_labels(df, col: str, want: np.ndarray) -> None:
    got = dense_column(df, "id", col, len(want))
    bad = int(np.count_nonzero(got != want))
    if bad:
        raise AssertionError(f"{bad} of {len(want)} {col} values differ")


def check_equal(got, want, what: str) -> None:
    if got != want:
        raise AssertionError(f"{what}: got {got}, oracle {want}")
