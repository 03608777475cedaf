"""Reference results, computed once per run in numpy, independent of Spark.

Every function here takes plain integer arrays (edges, token ids or
hashes) and returns what the engine's operator must produce on the same
input. They are the output checks of the benchmark: a pass whose result
disagrees counts as failed.
"""

from __future__ import annotations

import hashlib

import numpy as np


def compact(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(vertex ids, src index, dst index): vertices are the ids that appear
    as an endpoint, the same vertex set the engine's operators use."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    return ids, inv[: len(src)], inv[len(src):]


def pagerank(
    src: np.ndarray, dst: np.ndarray, alpha: float = 0.15, tol: float = 1e-6,
    max_iter: int = 100,
) -> tuple[np.ndarray, int]:
    """(scores, iterations) of damped PageRank with dangling mass spread
    evenly, stopped when the L1 change is at most ``tol``; scores follow
    the order of the sorted vertex ids."""
    ids, s, d = compact(src, dst)
    n = len(ids)
    out_deg = np.bincount(s, minlength=n).astype(np.float64)
    dangling = out_deg == 0
    weight = 1.0 / out_deg[s]
    p = np.full(n, 1.0 / n)
    it = 0
    while it < max_iter:
        recv = np.bincount(d, weights=p[s] * weight, minlength=n)
        new = alpha / n + (1.0 - alpha) * (recv + p[dangling].sum() / n)
        delta = np.abs(new - p).sum()
        p = new
        it += 1
        if delta <= tol:
            break
    return p, it


def components(src: np.ndarray, dst: np.ndarray) -> dict[int, int]:
    """{vertex id: smallest vertex id of its undirected component}, by
    union-find with full path compression, hooking roots under the smaller
    root; vectorized as rounds of hooking and pointer jumping."""
    ids, s, d = compact(src, dst)
    parent = np.arange(len(ids))
    while True:
        rs, rd = parent[s], parent[d]
        lo, hi = np.minimum(rs, rd), np.maximum(rs, rd)
        moved = lo != hi
        if not moved.any():
            break
        np.minimum.at(parent, hi[moved], lo[moved])
        while True:  # compress every path to its root
            grand = parent[parent]
            if np.array_equal(grand, parent):
                break
            parent = grand
    return dict(zip(ids.tolist(), ids[parent].tolist()))


def triangles(src: np.ndarray, dst: np.ndarray) -> int:
    """Triangles of the undirected simple graph underlying the edges.

    Each edge is oriented from the lower (degree, id) endpoint; a triangle
    is then counted once, at the wedge u→v, u→w closed by v→w."""
    _, s, d = compact(src, dst)
    lo, hi = np.minimum(s, d), np.maximum(s, d)
    keep = lo != hi
    n = int(max(hi.max(), lo.max())) + 1 if len(lo) else 0
    pairs = np.unique(lo[keep].astype(np.int64) * n + hi[keep])
    a, b = pairs // n, pairs % n
    deg = np.bincount(np.concatenate([a, b]), minlength=n)
    a_first = (deg[a] < deg[b]) | ((deg[a] == deg[b]) & (a < b))
    u = np.where(a_first, a, b)
    v = np.where(a_first, b, a)
    order = np.argsort(u, kind="stable")
    u, v = u[order], v[order]
    start = np.searchsorted(u, np.arange(n + 1))
    out_deg = np.diff(start)
    # every ordered pair (v, w) of out-neighbours of the same u, v != w
    reps = out_deg[u]
    first = np.repeat(np.arange(len(u)), reps)
    offset = np.arange(len(first)) - np.repeat(np.cumsum(reps) - reps, reps)
    second = start[u[first]] + offset
    keep = first != second
    wedge_v, wedge_w = v[first[keep]], v[second[keep]]
    closing = np.sort(u.astype(np.int64) * n + v)
    key = wedge_v.astype(np.int64) * n + wedge_w
    pos = np.searchsorted(closing, key)
    pos[pos == len(closing)] = 0
    return int(np.count_nonzero(closing[pos] == key))


def simhash64(doc_tids: list[list[int]]) -> np.ndarray:
    """64-bit SimHash per document over its token ids, as
    ``operators.dedup.simhash(bits=64)`` defines it: bit j < 32 samples
    bit j of (1664525·t + 1013904223) mod 2^32, bit j ≥ 32 samples bit
    j − 32 of (1103515245·t + 12345) mod 2^32; a bit is set when more
    tokens have it set than unset."""
    doc = np.repeat(np.arange(len(doc_tids)), [len(t) for t in doc_tids])
    tid = np.concatenate([np.asarray(t, dtype=np.int64) for t in doc_tids])
    g = ((tid * 1_664_525 + 1_013_904_223) % 2**32,
         (tid * 1_103_515_245 + 12_345) % 2**32)
    out = np.zeros(len(doc_tids), dtype=np.uint64)
    for j in range(64):
        bit = (g[j // 32] >> (j % 32)) & 1
        votes = np.bincount(doc, weights=2 * bit - 1, minlength=len(doc_tids))
        out |= (votes > 0).astype(np.uint64) << np.uint64(j)
    return out


_POPCOUNT8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)


def hamming_pairs(hashes: np.ndarray, max_hamming: int) -> tuple[np.ndarray, np.ndarray]:
    """Index pairs (a < b) whose 64-bit hashes differ in at most
    ``max_hamming`` bits, by comparing every pair."""
    a, b = np.triu_indices(len(hashes), k=1)
    diff = (hashes[a] ^ hashes[b]).view(np.uint8).reshape(-1, 8)
    keep = _POPCOUNT8[diff].sum(axis=1) <= max_hamming
    return a[keep], b[keep]


def label_hash(ids: np.ndarray, labels: np.ndarray) -> str:
    """Order-independent digest of an (id, label) assignment."""
    order = np.argsort(ids, kind="stable")
    rows = np.stack([ids[order], labels[order]]).astype(np.int64)
    return hashlib.sha256(rows.tobytes()).hexdigest()
