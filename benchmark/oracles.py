"""Independent reference answers for the workload checks: numpy for the
web kernels, plain-Python searches for the road queries and UBODT. None
of these import the package under test."""

from __future__ import annotations

import heapq
from typing import Optional

import numpy as np


# ---------------------------------------------------------------- web kernels
def pagerank_np(src: np.ndarray, dst: np.ndarray, iters: int, damping: float = 0.85) -> dict:
    """Fixed-iteration power iteration over the distinct edge set with the
    dangling mass spread uniformly:
    r' = (1-d)/N + d * (dangling/N + sum_{u->v} r(u)/outdeg(u))."""
    pairs = np.unique(np.stack([src, dst], axis=1), axis=0)
    ids, inv = np.unique(pairs, return_inverse=True)
    inv = inv.reshape(pairs.shape)
    s, d = inv[:, 0], inv[:, 1]
    n = len(ids)
    outdeg = np.bincount(s, minlength=n).astype(np.float64)
    dangling = outdeg == 0
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        contrib = np.bincount(d, weights=r[s] / outdeg[s], minlength=n)
        r = (1.0 - damping) / n + damping * (r[dangling].sum() / n + contrib)
    return dict(zip(ids.tolist(), r.tolist()))


def components_np(src: np.ndarray, dst: np.ndarray) -> dict:
    """Hash-min fixpoint on the undirected view: every vertex ends with the
    smallest id of its component."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    a, b = inv[: len(src)], inv[len(src):]
    label = np.arange(len(ids))
    while True:
        new = label.copy()
        np.minimum.at(new, a, label[b])
        np.minimum.at(new, b, label[a])
        if np.array_equal(new, label):
            break
        label = new
    return dict(zip(ids.tolist(), ids[label].tolist()))


def triangles_py(src: np.ndarray, dst: np.ndarray) -> int:
    """Triangles of the undirected simple view (self-loops and duplicate
    or reciprocal edges collapse), counted once each by degree order."""
    adj: dict[int, set] = {}
    for u, v in zip(src.tolist(), dst.tolist()):
        if u != v:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
    rank = {v: (len(nb), v) for v, nb in adj.items()}
    fwd = {v: {w for w in nb if rank[w] > rank[v]} for v, nb in adj.items()}
    return sum(len(fwd[v] & fwd[w]) for v in fwd for w in fwd[v])


# ---------------------------------------------------------------- road graph
def node_dijkstra(
    succ: dict, length: dict, source, cutoff: float, barrier: frozenset = frozenset()
) -> dict:
    """Node-weighted bounded search with the reference cost model:
    successors of the source start at 0, leaving ``u`` adds ``length[u]``,
    a node is admitted only at ``dist <= cutoff`` (start successors are
    exempt), and barrier nodes are reached but never left. Returns
    {node: dist} including a revisited source."""
    dist: dict = {}
    heap = []
    for v in succ.get(source, ()):
        if v not in dist:
            dist[v] = 0.0
            heap.append((0.0, v))
    heapq.heapify(heap)
    done = set()
    while heap:
        du, u = heapq.heappop(heap)
        if u in done or du > dist[u]:
            continue
        done.add(u)
        if u in barrier:
            continue
        nd = du + length[u]
        if nd > cutoff:
            continue
        for v in succ.get(u, ()):
            if nd < dist.get(v, float("inf")):
                dist[v] = nd
                heapq.heappush(heap, (nd, v))
    return dist


def zigzag_dijkstra(succ: dict, pred: dict, length: dict, source, cutoff: float) -> dict:
    """Two-way search over (node, dir) states: from (u,+1) free moves to
    (n,-1) for successors n and to (s,+1) for nodes s sharing a successor
    with u; from (u,-1) free moves to (p,+1) for predecessors p and to
    (s,-1) for nodes sharing a predecessor with u; flipping a state's
    direction costs the node's length, except out of the two seeded
    source states. States are admitted at ``dist <= cutoff``. Returns
    {(node, dir): dist} over every reached state, seeds included."""
    def sibs(u, fwd: bool):
        via = succ if fwd else pred
        back = pred if fwd else succ
        return {s for n in via.get(u, ()) for s in back.get(n, ()) if s != u}

    seeds = {(source, 1), (source, -1)}
    dist = {s: 0.0 for s in seeds}
    heap = [(0.0, s) for s in seeds]
    done = set()
    while heap:
        du, st = heapq.heappop(heap)
        if st in done or du > dist[st]:
            continue
        done.add(st)
        u, d = st
        moves = []
        if d == 1:
            moves += [((n, -1), 0.0) for n in succ.get(u, ())]
            moves += [((s, 1), 0.0) for s in sibs(u, True)]
        else:
            moves += [((p, 1), 0.0) for p in pred.get(u, ())]
            moves += [((s, -1), 0.0) for s in sibs(u, False)]
        if st not in seeds:
            moves.append(((u, -d), length[u]))
        for nxt, w in moves:
            nd = du + w
            if nd <= cutoff and nd < dist.get(nxt, float("inf")):
                dist[nxt] = nd
                heapq.heappush(heap, (nd, nxt))
    return dist


def binding_distance(
    succ: dict, length: dict, order: dict, bindings: dict, source, cutoff: float, reverse: bool
) -> Optional[float]:
    """Distance to the first binding reached (no offset): binding nodes
    other than the source are barriers; the nearest one by (dist, node
    index) wins, ``order`` giving each node's index (the order nodes were
    added to the graph), then its interval cost is added — forward ``clip(lo)`` of its
    first interval, backward ``length - clip(hi)`` of its last — and a
    total over the cutoff yields None."""
    barrier = frozenset(n for n in bindings if n != source)
    dist = node_dijkstra(succ, length, source, cutoff, barrier)
    hits = [(d, order[n], n) for n, d in dist.items() if n in barrier and d <= cutoff]
    if not hits:
        return None
    d, _, u = min(hits)
    lo, hi = bindings[u][0][0], bindings[u][-1][1]
    c = min(max(hi if reverse else lo, 0.0), length[u])
    total = d + (length[u] - c if reverse else c)
    return total if total <= cutoff else None


# ---------------------------------------------------------------- UBODT
def ubodt_grid_rows(w: int, h: int, thresh: int) -> tuple[int, float]:
    """(row count, cost sum) of UBODT on a unit-length 4-neighbour grid,
    by bounded search over displacements: on a full grid the shortest
    path between two cells is their Manhattan distance m (hops), its cost
    counts the m-1 interior cells, and a row exists when m-1 <= thresh."""
    rows, cost = 0, 0.0
    for dx in range(-thresh - 1, thresh + 2):
        for dy in range(-thresh - 1, thresh + 2):
            m = abs(dx) + abs(dy)
            if 1 <= m <= thresh + 1:
                k = max(0, w - abs(dx)) * max(0, h - abs(dy))
                rows += k
                cost += k * (m - 1)
    return rows, cost
