"""Independent output checkers, run outside the timed section.

PageRank: a sparse NumPy port of ``graph/oracle.py``'s
``reference_pagerank`` and ``standard_pagerank``. The in-repo oracle
builds a dense N x N matrix, which does not fit at benchmark sizes;
here the transition matrix is an edge list and ``x @ S`` is an
``np.bincount`` scatter. Same arithmetic, different summation order.

Connected components and triangles are checked exactly against
networkx, and label propagation against the package's pure-Python
oracle. The queries are compared with their DuckDB ``oracle_sql()`` by
the repository's own parity gate (``wl_queries.py``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

RANK_RTOL = 1e-6
RANK_ATOL = 1e-12


def collapse(src, dst, w):
    """Sum weights per (src, dst) and keep positive sums, in input order
    per pair (the oracle's dict accumulation order)."""
    src = np.asarray(src, dtype=np.int64)
    dst = np.asarray(dst, dtype=np.int64)
    w = np.asarray(w, dtype=np.float64)
    pairs, inv = np.unique(np.stack([src, dst], axis=1), axis=0,
                           return_inverse=True)
    ws = np.bincount(inv.ravel(), weights=w, minlength=len(pairs))
    keep = ws > 0
    return pairs[keep, 0], pairs[keep, 1], ws[keep]


def _power(si, di, p, n, dangling, alpha, max_iter, tol):
    x = np.full(n, 1.0 / n)
    it = 0
    for it in range(1, max_iter + 1):
        danglesum = alpha * x[dangling].sum()
        x_new = (alpha * np.bincount(di, weights=x[si] * p, minlength=n)
                 + danglesum / n + (1 - alpha) / n)
        err = np.abs(x_new - x).max()
        x = x_new
        if err < tol:
            break
    return x, it


def _transition(s, d, w, nodes):
    si = np.searchsorted(nodes, s)
    di = np.searchsorted(nodes, d)
    rowsum = np.bincount(si, weights=w, minlength=len(nodes))
    return si, di, w / rowsum[si], np.flatnonzero(rowsum == 0)


def standard_pagerank(src, dst, w, alpha=0.85, max_iter=1000, tol=1e-9):
    """-> (vids, ranks, iterations); classic damped weighted PageRank."""
    s, d, ww = collapse(src, dst, w)
    nodes = np.unique(np.concatenate([s, d]))
    si, di, p, dangling = _transition(s, d, ww, nodes)
    x, it = _power(si, di, p, len(nodes), dangling, alpha, max_iter, tol)
    return nodes, x, it


def reference_pagerank(src, dst, w, alpha=1.0, max_iter=1000, tol=1e-9):
    """-> (vids, ranks, iterations); the reference service's algorithm:
    virtual node linked both ways at in_strength/10, alpha=1, then the
    virtual-rank redistribution and in-weight bonus post-pass."""
    s, d, ww = collapse(src, dst, w)
    nodes = np.unique(np.concatenate([s, d]))
    in_st = np.bincount(np.searchsorted(nodes, d), weights=ww,
                        minlength=len(nodes))
    virtual = nodes.max() + 1
    linked = nodes[in_st > 0]
    vw = in_st[in_st > 0] / 10.0
    s2 = np.concatenate([s, np.full(len(linked), virtual), linked])
    d2 = np.concatenate([d, linked, np.full(len(linked), virtual)])
    w2 = np.concatenate([ww, vw, vw])
    all_nodes = np.append(nodes, virtual)
    si, di, p, dangling = _transition(s2, d2, w2, all_nodes)
    x, it = _power(si, di, p, len(all_nodes), dangling, alpha, max_iter, tol)
    pr, vpr = x[:-1], x[-1]
    pr = pr + (pr / (1.0 - vpr)) * vpr
    pr = pr / pr.sum()
    pr = pr + 0.5 * in_st / in_st.sum()
    return nodes, pr / pr.sum(), it


def ranks_match(got_vids, got_ranks, want_vids, want_ranks,
                rtol=RANK_RTOL, atol=RANK_ATOL) -> bool:
    """Same vertex set and per-vertex allclose."""
    g = pd.Series(np.asarray(got_ranks, dtype=float),
                  index=np.asarray(got_vids, dtype=np.int64)).sort_index()
    want = pd.Series(np.asarray(want_ranks, dtype=float),
                     index=np.asarray(want_vids, dtype=np.int64)).sort_index()
    if len(g) != len(want) or not np.array_equal(g.index, want.index):
        return False
    return bool(np.allclose(g.to_numpy(), want.to_numpy(), rtol=rtol, atol=atol))


def _nx_graph(src, dst):
    import networkx as nx

    g = nx.Graph()
    g.add_edges_from(zip(np.asarray(src).tolist(), np.asarray(dst).tolist()))
    g.remove_edges_from(nx.selfloop_edges(g))
    return g


def components_match(src, dst, vids, labels) -> bool:
    """Engine labels each vertex with its component's smallest vid."""
    import networkx as nx

    want = {}
    for comp in nx.connected_components(_nx_graph(src, dst)):
        m = min(comp)
        for v in comp:
            want[v] = m
    got = dict(zip(np.asarray(vids).tolist(), np.asarray(labels).tolist()))
    return got == want


def triangles_match(src, dst, total: int) -> bool:
    import networkx as nx

    return sum(nx.triangles(_nx_graph(src, dst)).values()) // 3 == int(total)


def labels_match(src, dst, w, vids, labels, max_iter: int) -> bool:
    from pagerank_service_spark.graph.labelprop import label_propagation_oracle

    edges = list(zip(np.asarray(src).tolist(), np.asarray(dst).tolist(),
                     np.asarray(w).tolist()))
    want = label_propagation_oracle(edges, max_iter=max_iter)
    got = dict(zip(np.asarray(vids).tolist(), np.asarray(labels).tolist()))
    return got == want

