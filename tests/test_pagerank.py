from __future__ import annotations

import numpy as np
import pytest

from conftest import G_CYCLE, G_LINE, G_STAR, G_TRI, G_TWO_CC, edges_df
from oracles import pagerank_oracle

from bitcoinpagerank_spark.operators.pagerank import checksum, pagerank, top_k

GRAPHS = {
    "line": G_LINE,
    "cycle": G_CYCLE,
    "star": G_STAR,
    "tri": G_TRI,
    "two_cc": G_TWO_CC,
}


def _assert_matches_oracle(spark, edges, **kw):
    res = pagerank(spark, edges_df(spark, edges), **kw)
    got = {r["id"]: r["score"] for r in res.ranks.collect()}
    want = pagerank_oracle(edges)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-6), f"vertex {v}"
    return res


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_pagerank_edges_strategy(spark, name):
    res = _assert_matches_oracle(spark, GRAPHS[name])
    assert res.converged
    # mass conservation every iteration (CheckSumPageRank analog)
    for m in res.metrics:
        assert m.total_mass == pytest.approx(1.0, abs=1e-9)


def test_cycle_exact(spark):
    # symmetric cycle → exactly 1/3 each
    res = pagerank(spark, edges_df(spark, G_CYCLE))
    for r in res.ranks.collect():
        assert r["score"] == pytest.approx(1 / 3, abs=1e-9)


def test_checksum_and_topk(spark):
    res = pagerank(spark, edges_df(spark, G_STAR))
    assert checksum(res.ranks) == 1.0
    top = top_k(res.ranks, 2).collect()
    want = pagerank_oracle(G_STAR)
    order = sorted(want, key=lambda v: (-want[v], v))
    assert [r["id"] for r in top] == order[:2]


def test_erdos_renyi_vs_oracle(spark):
    rng = np.random.default_rng(42)
    n, p = 200, 0.02
    mask = rng.random((n, n)) < p
    np.fill_diagonal(mask, False)
    edges = [(int(i), int(j)) for i, j in zip(*mask.nonzero())]
    _assert_matches_oracle(spark, edges)


def _gnutella_like_file(spark, tmp_path) -> str:
    """A seeded stand-in for the reference's smoke dataset, written in its
    adjacency-text format by ``write_adjacency_text``: 6301 declared
    vertices, ~20k edges, and bare lines for vertices with no out-links.
    Returns the path of one concatenated text file."""
    import os

    from bitcoinpagerank_spark.sources.adjacency import write_adjacency_text

    n = 6301
    rng = np.random.default_rng(8)
    edges = set()
    for v in range(n):
        if rng.random() < 0.3:
            continue  # sink: declared only through a bare line
        for d in rng.choice(n, size=int(rng.integers(1, 9)), replace=False):
            if d != v:
                edges.add((v, int(d)))
    seen = {x for e in edges for x in e}
    # every vertex must appear somewhere to be declared
    edges |= {((v + 1) % n, v) for v in range(n) if v not in seen}
    out = tmp_path / "adj"
    write_adjacency_text(
        spark.createDataFrame(sorted(edges), "src_id long, dst_id long"), str(out)
    )
    path = tmp_path / "p2p-Gnutella08-adj.txt"
    with open(path, "w") as f:
        for part in sorted(os.listdir(out)):
            if part.startswith("part-"):
                f.write((out / part).read_text())
    return str(path)


def test_gnutella_real_file_regression(spark, tmp_path):
    """End-to-end on the reference's actual smoke dataset
    (p2p-Gnutella08-adj.txt, 6301 declared vertices) — or, when the file
    is absent, on a seeded graph of the same shape: parse -> PageRank to
    1e-6 -> allclose vs the numpy oracle, and CC component count vs
    union-find."""
    import os

    from bitcoinpagerank_spark.operators.components import connected_components
    from bitcoinpagerank_spark.sources.adjacency import (
        adjacency_vertices,
        read_adjacency_text,
    )
    from oracles import components_oracle

    path = "/root/reference/data/p2p-Gnutella08-adj.txt"
    if not os.path.exists(path):
        path = _gnutella_like_file(spark, tmp_path)
    edges_sdf = read_adjacency_text(spark, path)
    edge_list = [(r["src_id"], r["dst_id"]) for r in edges_sdf.collect()]

    # independent python parse of the same file
    want_edges, declared = [], set()
    with open(path) as f:
        for line in f:
            parts = line.split()
            if not parts:
                continue
            declared.add(int(parts[0]))
            want_edges.extend((int(parts[0]), int(d)) for d in parts[1:])
    assert sorted(edge_list) == sorted(want_edges)
    assert adjacency_vertices(spark, path).count() == len(declared) == 6301

    res = pagerank(spark, edges_sdf, tol=1e-6, max_iter=100)
    assert res.converged
    want = pagerank_oracle(want_edges, tol=1e-9, max_iter=1000)
    got = {r["id"]: r["score"] for r in res.ranks.collect()}
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-6)

    cc = connected_components(spark, edges_sdf)
    assert cc.converged
    assert cc.num_components() == len(set(components_oracle(want_edges).values()))


def test_personalized_pagerank_vs_oracle(spark):
    from oracles import ppr_oracle

    from bitcoinpagerank_spark.operators.pagerank import personalized_pagerank

    rng = np.random.default_rng(17)
    n, p = 120, 0.03
    mask = rng.random((n, n)) < p
    np.fill_diagonal(mask, False)
    edges = [(int(i), int(j)) for i, j in zip(*mask.nonzero())]
    sources = {v for v in range(n) if v % 10 == 0}
    res = personalized_pagerank(spark, edges_df(spark, edges), sorted(sources),
                                tol=1e-9, max_iter=200)
    assert res.converged
    got = {r["id"]: r["score"] for r in res.ranks.collect()}
    want = ppr_oracle(edges, sources)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-6), f"vertex {v}"
    # mass conserved each iteration
    for m in res.metrics:
        assert m.total_mass == pytest.approx(1.0, abs=1e-9)
    # non-source sink-free vertices far from S should rank below sources
    assert sum(want.values()) == pytest.approx(1.0, abs=1e-6)


def test_weighted_pagerank_vs_numpy(spark):
    from bitcoinpagerank_spark.operators.pagerank import pagerank
    from pyspark.sql import functions as F

    rng = np.random.default_rng(23)
    n, p = 100, 0.04
    mask = rng.random((n, n)) < p
    np.fill_diagonal(mask, False)
    edges = [(int(i), int(j)) for i, j in zip(*mask.nonzero())]
    w = {(s, d): (s + d) % 7 + 1 for s, d in edges}

    e = spark.createDataFrame(
        [(s, d, float(w[(s, d)])) for s, d in edges],
        "src_id long, dst_id long, w double",
    )
    res = pagerank(spark, e, tol=1e-10, max_iter=200, weight_col="w")
    assert res.converged
    got = {r["id"]: r["score"] for r in res.ranks.collect()}

    # dense numpy weighted power iteration, same semantics
    nodes = sorted({v for ed in edges for v in ed})
    idx = {v: i for i, v in enumerate(nodes)}
    N = len(nodes)
    out = {}
    for s, d in edges:
        out.setdefault(s, []).append(d)
    r = np.full(N, 1.0 / N)
    for _ in range(500):
        recv = np.zeros(N)
        missing = 0.0
        for v in nodes:
            nbrs = out.get(v)
            if not nbrs:
                missing += r[idx[v]]
                continue
            tw = sum(w[(v, d)] for d in nbrs)
            for d in nbrs:
                recv[idx[d]] += r[idx[v]] * w[(v, d)] / tw
        new = 0.15 / N + 0.85 * (recv + missing / N)
        if np.abs(new - r).sum() <= 1e-12:
            r = new
            break
        r = new
    for v in nodes:
        assert got[v] == pytest.approx(float(r[idx[v]]), abs=1e-6), v
    # weights matter: uniform run differs
    uni = pagerank(spark, e.select("src_id", "dst_id"), tol=1e-10, max_iter=200)
    gu = {x["id"]: x["score"] for x in uni.ranks.collect()}
    assert any(abs(gu[v] - got[v]) > 1e-9 for v in nodes)


def test_hits_vs_numpy(spark):
    from bitcoinpagerank_spark.operators.centrality import hits

    rng = np.random.default_rng(31)
    n, p = 60, 0.06
    mask = rng.random((n, n)) < p
    np.fill_diagonal(mask, False)
    edges = [(int(i), int(j)) for i, j in zip(*mask.nonzero())]
    res = hits(spark, edges_df(spark, edges), max_iter=5)
    got = {r["id"]: (r["hub"], r["authority"]) for r in res.scores.collect()}

    nodes = sorted({v for ed in edges for v in ed})
    idx = {v: i for i, v in enumerate(nodes)}
    N = len(nodes)
    A = np.zeros((N, N))
    for s, d in edges:
        A[idx[s], idx[d]] = 1.0
    h = np.full(N, 1.0 / N)
    for _ in range(5):
        a = A.T @ h
        a = a / a.sum()
        h = A @ a
        h = h / h.sum()
    for v in nodes:
        assert got[v][0] == pytest.approx(float(h[idx[v]]), abs=1e-9), ("hub", v)
        assert got[v][1] == pytest.approx(float(a[idx[v]]), abs=1e-9), ("auth", v)


def test_weighted_pagerank_rejects_bad_weights(spark):
    """Null / non-positive / NaN weights would silently leak rank mass
    (w/sum(w) goes null and F.sum drops it) — must raise instead."""
    from bitcoinpagerank_spark.operators.pagerank import pagerank

    for bad in (None, 0.0, -1.0, float("nan")):
        e = spark.createDataFrame(
            [(1, 2, 1.0), (2, 3, bad), (3, 1, 2.0)],
            "src_id long, dst_id long, w double",
        )
        with pytest.raises(ValueError, match="weight_col"):
            pagerank(spark, e, max_iter=2, weight_col="w")


