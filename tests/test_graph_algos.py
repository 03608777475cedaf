from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from conftest import G_CYCLE, G_LINE, G_STAR, G_TRI, G_TWO_CC, edges_df
from oracles import components_oracle, lpa_oracle, triangles_oracle

from bitcoinpagerank_spark.operators.components import connected_components
from bitcoinpagerank_spark.operators.labelprop import label_propagation
from bitcoinpagerank_spark.operators.triangles import (
    triangle_count,
    triangle_count_per_vertex,
)

GRAPHS = {
    "line": G_LINE,
    "cycle": G_CYCLE,
    "star": G_STAR,
    "tri": G_TRI,
    "two_cc": G_TWO_CC,
}


def _random_edges(seed, n=60, p=0.04):
    rng = np.random.default_rng(seed)
    mask = rng.random((n, n)) < p
    np.fill_diagonal(mask, False)
    return [(int(i), int(j)) for i, j in zip(*mask.nonzero())]


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_components_exact(spark, name):
    edges = GRAPHS[name]
    res = connected_components(spark, edges_df(spark, edges))
    assert res.converged
    got = {r["id"]: r["component"] for r in res.labels.collect()}
    assert got == components_oracle(edges)


def test_components_random(spark):
    edges = _random_edges(3)
    res = connected_components(spark, edges_df(spark, edges))
    assert res.converged
    got = {r["id"]: r["component"] for r in res.labels.collect()}
    want = components_oracle(edges)
    assert got == want
    assert res.num_components() == len(set(want.values()))


def test_components_path_graph_logarithmic_rounds(spark):
    """Star contraction must converge in O(log n) rounds on a long path —
    the case that kills diameter-bound min-label exchange (10k-vertex
    path = 10k label-exchange rounds; large-star/small-star needs ~log2)."""
    import math

    n = 10_000
    edges = [(i, i + 1) for i in range(1, n)]
    res = connected_components(spark, edges_df(spark, edges), max_iter=40)
    assert res.converged
    assert res.iterations <= 2 * math.ceil(math.log2(n))
    assert res.num_components() == 1
    # every vertex labelled with the component minimum
    assert res.labels.where(F.col("component") != 1).count() == 0


def test_two_cc_labels(spark):
    res = connected_components(spark, edges_df(spark, G_TWO_CC))
    got = {r["id"]: r["component"] for r in res.labels.collect()}
    assert got == {1: 1, 2: 1, 3: 3, 4: 3}


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_triangles_exact(spark, name):
    edges = GRAPHS[name]
    assert triangle_count(edges_df(spark, edges)) == triangles_oracle(edges)


def test_triangles_random(spark):
    edges = _random_edges(11, n=40, p=0.15)
    assert triangle_count(edges_df(spark, edges)) == triangles_oracle(edges)


def test_triangles_per_vertex(spark):
    # g_tri: one triangle → every vertex participates once
    per_v = {
        r["id"]: r["triangles"]
        for r in triangle_count_per_vertex(edges_df(spark, G_TRI)).collect()
    }
    assert per_v == {1: 1, 2: 1, 3: 1}


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_labelprop_matches_oracle(spark, name):
    edges = GRAPHS[name]
    res = label_propagation(spark, edges_df(spark, edges), max_iter=10)
    got = {r["id"]: r["label"] for r in res.labels.collect()}
    assert got == lpa_oracle(edges, max_iter=10)


def test_labelprop_random(spark):
    edges = _random_edges(5, n=40, p=0.08)
    res = label_propagation(spark, edges_df(spark, edges), max_iter=6)
    got = {r["id"]: r["label"] for r in res.labels.collect()}
    assert got == lpa_oracle(edges, max_iter=6)


@pytest.mark.parametrize("k", [2, 3])
def test_kcore_random_matches_peel_oracle(spark, k):
    from oracles import kcore_oracle

    from bitcoinpagerank_spark.operators.kcore import k_core

    edges = _random_edges(9, n=50, p=0.08)
    res = k_core(spark, edges_df(spark, edges), k=k)
    assert res.converged
    got = {r["id"]: r["degree"] for r in res.vertices.collect()}
    assert got == kcore_oracle(edges, k)


def test_kcore_triangle_plus_tail(spark):
    from bitcoinpagerank_spark.operators.kcore import k_core

    # triangle {1,2,3} with a tail 3-4-5: 2-core = the triangle only
    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]
    res = k_core(spark, edges_df(spark, edges), k=2)
    got = {r["id"]: r["degree"] for r in res.vertices.collect()}
    assert got == {1: 2, 2: 2, 3: 2}
    empty = k_core(spark, edges_df(spark, edges), k=3)
    assert empty.converged and empty.vertices.count() == 0


def test_core_numbers_match_peel_oracle(spark):
    from oracles import coreness_oracle

    from bitcoinpagerank_spark.operators.kcore import core_numbers

    for seed, n, p in [(9, 50, 0.08), (13, 60, 0.05)]:
        edges = _random_edges(seed, n=n, p=p)
        res = core_numbers(spark, edges_df(spark, edges))
        assert res.converged
        got = {r["id"]: r["degree"] for r in res.vertices.collect()}
        assert got == coreness_oracle(edges), f"seed={seed}"


def test_core_numbers_triangle_plus_tail(spark):
    from bitcoinpagerank_spark.operators.kcore import core_numbers

    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]
    res = core_numbers(spark, edges_df(spark, edges))
    got = {r["id"]: r["degree"] for r in res.vertices.collect()}
    assert got == {1: 2, 2: 2, 3: 2, 4: 1, 5: 1}


def test_iterative_loops_record_shuffle_bytes(spark):
    """Per-iteration lineage parity across the iterate loops: every loop
    on the round kernel records each round's wall time and shuffle
    read/write bytes (every round shuffles at least its aggregate)."""
    from bitcoinpagerank_spark.operators.components import connected_components
    from bitcoinpagerank_spark.operators.labelprop import label_propagation
    from bitcoinpagerank_spark.operators.kcore import core_numbers, k_core
    from bitcoinpagerank_spark.operators.pagerank import (
        pagerank,
        personalized_pagerank,
    )
    from bitcoinpagerank_spark.operators.scc import strongly_connected_components
    from bitcoinpagerank_spark.operators.centrality import (
        eigenvector_centrality,
        hits,
        katz_centrality,
        salsa,
    )
    from bitcoinpagerank_spark.operators.mis import maximal_independent_set
    from bitcoinpagerank_spark.operators.community import louvain_communities
    from bitcoinpagerank_spark.operators.bfs import bfs_distances, labeled_bfs
    from bitcoinpagerank_spark.operators.sssp import sssp
    from bitcoinpagerank_spark.operators.betweenness import betweenness_centrality
    from bitcoinpagerank_spark.operators.ktruss import k_truss

    e = edges_df(spark, G_TWO_CC)
    tri = edges_df(spark, G_TRI)
    results = [
        connected_components(spark, e).metrics,
        label_propagation(spark, e, max_iter=2).metrics,
        k_core(spark, e, k=2).metrics,
        core_numbers(spark, e).metrics,
        hits(spark, e, max_iter=2).metrics,
        [vars(m) for m in pagerank(spark, e, max_iter=3).metrics],
        [vars(m) for m in personalized_pagerank(spark, e, [1], max_iter=3).metrics],
        [m for m in strongly_connected_components(spark, e).metrics
         if not m["closure"].startswith("trim")],
        katz_centrality(spark, e, max_iter=2).metrics,
        eigenvector_centrality(spark, e, max_iter=2).metrics,
        salsa(spark, e, max_iter=2).metrics,
        maximal_independent_set(spark, e).metrics,
        louvain_communities(spark, e, max_rounds=2).metrics,
        bfs_distances(spark, e, [1]).metrics,
        labeled_bfs(spark, e, [1, 3]).metrics,
        sssp(spark, e, 1).metrics,
        betweenness_centrality(spark, e, [1, 3]).metrics,
        k_truss(spark, tri, k=3).metrics,
    ]
    for metrics in results:
        assert metrics, "loop recorded no iterations"
        for m in metrics:
            assert "shuffle_write_bytes" in m and "shuffle_read_bytes" in m
            assert m["wall_sec"] > 0
        assert any(m["shuffle_write_bytes"] > 0 for m in metrics), metrics


def test_bfs_distances_vs_python(spark):
    """Frontier-expansion BFS matches a Python BFS oracle on hop counts;
    unreachable vertices absent; rounds == eccentricity + 1."""
    from collections import deque
    from bitcoinpagerank_spark.operators.bfs import bfs_distances

    edges = [(1, 2), (2, 3), (3, 4), (4, 2), (1, 5), (5, 6), (7, 1), (8, 9)]
    e = edges_df(spark, edges)
    res = bfs_distances(spark, e, sources=[1])
    got = {r["id"]: r["dist"] for r in res.distances.collect()}

    adj = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
    want = {1: 0}
    dq = deque([1])
    while dq:
        u = dq.popleft()
        for v in adj.get(u, []):
            if v not in want:
                want[v] = want[u] + 1
                dq.append(v)
    assert got == want
    assert res.converged
    # 7, 8, 9 unreachable along edge direction
    assert 7 not in got and 8 not in got
    # multi-source: seeds at distance 0
    res2 = bfs_distances(spark, e, sources=[1, 8])
    got2 = {r["id"]: r["dist"] for r in res2.distances.collect()}
    assert got2[8] == 0 and got2[9] == 1 and got2[1] == 0
    # lineage rows present
    assert all("shuffle_write_bytes" in m for m in res.metrics)


def test_local_clustering_triangle_plus_tail(spark):
    """Triangle 1-2-3 with tail 3-4: lcc(1)=lcc(2)=1, lcc(3)=1/3, lcc(4)=0."""
    from bitcoinpagerank_spark.operators.triangles import (
        local_clustering_coefficient,
    )

    e = edges_df(spark, [(1, 2), (2, 3), (1, 3), (3, 4)])
    got = {
        r["id"]: (r["deg"], r["triangles"], round(r["lcc"], 6))
        for r in local_clustering_coefficient(e).collect()
    }
    assert got == {
        1: (2, 1, 1.0),
        2: (2, 1, 1.0),
        3: (3, 1, round(1 / 3, 6)),
        4: (1, 0, 0.0),
    }


def _tarjan(edges):
    """Iterative Tarjan; returns {vertex: min vertex id of its SCC}."""
    import collections

    adj = collections.defaultdict(list)
    verts = set()
    for s, d in edges:
        if s != d:
            adj[s].append(d)
        verts.add(s)
        verts.add(d)
    index = {}
    low = {}
    on_stack = set()
    stack = []
    sccs = []
    counter = [0]
    for root in verts:
        if root in index:
            continue
        work = [(root, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on_stack.add(v)
            recurse = False
            for i in range(pi, len(adj[v])):
                w = adj[v][i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    recurse = True
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            work.pop()
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                sccs.append(comp)
            if work:
                u, _ = work[-1]
                low[u] = min(low[u], low[v])
    out = {}
    for comp in sccs:
        m = min(comp)
        for v in comp:
            out[v] = m
    return out


@pytest.mark.parametrize(
    "edges",
    [
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 4)],  # 2 cycles + bridge
        [(1, 2), (2, 3), (3, 4)],  # chain: all singletons
        [(1, 2), (2, 1), (2, 3), (3, 4), (4, 3), (4, 5), (5, 6), (6, 5)],
        # deterministic pseudo-random digraph, 40 vertices
        [((i * 17 + 3) % 40, (i * 29 + 7) % 40) for i in range(90)],
    ],
)
def test_scc_vs_tarjan(spark, edges):
    from bitcoinpagerank_spark.operators.scc import strongly_connected_components

    res = strongly_connected_components(spark, edges_df(spark, edges))
    got = {r["id"]: r["scc"] for r in res.labels.collect()}
    want = _tarjan(edges)
    # drop self-loop-only vertices the operator excludes
    want = {v: m for v, m in want.items() if v in got}
    assert got == want
    assert res.converged
    assert all("shuffle_write_bytes" in m for m in res.metrics)


def test_random_walks_replay_oracle(spark):
    """Walks replay exactly under the LCG in python; dangling vertices
    stop walks early; walks_per_vertex ids are disjoint."""
    from bitcoinpagerank_spark.operators.walks import (
        LCG_A,
        LCG_B,
        LCG_C,
        random_walks,
    )

    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (3, 4), (4, 5)]  # 5 dangling
    W, L = 2, 4
    res = random_walks(spark, edges_df(spark, edges), walk_length=L,
                       walks_per_vertex=W)
    got = sorted(
        (r["walk_id"], r["step"], r["pos"]) for r in res.steps.collect()
    )

    adj = {}
    for s, d in sorted(edges, key=lambda e: (e[0], e[1])):
        adj.setdefault(s, [])
        if d not in adj[s]:
            adj[s].append(d)
    verts = sorted({v for e in edges for v in e})
    want = []
    for v in verts:
        for i in range(W):
            wid = v * W + i
            pos = v
            want.append((wid, 0, pos))
            for step in range(1, L + 1):
                nbrs = adj.get(pos)
                if not nbrs:
                    break
                pos = nbrs[(wid * LCG_A + step * LCG_B + LCG_C) % len(nbrs)]
                want.append((wid, step, pos))
    assert got == sorted(want)
    # walks from 5 are length 0; walks reaching 5 stop there
    steps_from_5 = [t for t in got if t[0] // W == 5]
    assert all(t[1] == 0 for t in steps_from_5)


def test_biased_walks_python_replay(spark):
    """biased_walks replayed exactly in python (second-order weights:
    return=1, common=2, far=4), plus a semantic check that the bias
    actually changes the trajectory vs the first-order walk."""
    from bitcoinpagerank_spark.operators.walks import (
        LCG_A,
        LCG_B,
        LCG_C,
        biased_walks,
        random_walks,
    )

    edges = sorted(
        {((i * 7 + 3) % 40, (i * 13 + 5) % 40) for i in range(200)}
        | {(0, j) for j in range(1, 12)}
    )
    edges = [(s, d) for s, d in edges if s != d]
    adj = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    adj = {s: sorted(ds) for s, ds in adj.items()}
    W_RET, W_COM, W_FAR = 1, 2, 4

    def replay(walk_id, length=3):
        out = [(walk_id, 0, walk_id)]
        pos = walk_id
        prev = None
        for step in range(1, length + 1):
            nbrs = adj.get(pos)
            if not nbrs:
                break
            if prev is None:
                nxt = nbrs[(walk_id * LCG_A + step * LCG_B + LCG_C) % len(nbrs)]
            else:
                ws = [
                    W_RET if n == prev
                    else W_COM if n in adj.get(prev, ())
                    else W_FAR
                    for n in nbrs
                ]
                r = (walk_id * LCG_A + step * LCG_B + LCG_C) % sum(ws)
                cum = 0
                for n, w in zip(nbrs, ws):
                    if cum <= r < cum + w:
                        nxt = n
                        break
                    cum += w
            out.append((walk_id, step, nxt))
            prev, pos = pos, nxt
        return out

    res = biased_walks(spark, edges_df(spark, edges), walk_length=3,
                       w_return=W_RET, w_common=W_COM, w_far=W_FAR)
    got = sorted(tuple(r) for r in res.steps.collect())
    verts = sorted(set(adj) | {d for ds in adj.values() for d in ds})
    want = sorted(t for v in verts for t in replay(v))
    assert got == want

    uniform = random_walks(spark, edges_df(spark, edges), walk_length=3)
    assert sorted(tuple(r) for r in uniform.steps.collect()) != got

    import pytest as _pytest
    with _pytest.raises(ValueError):
        biased_walks(spark, edges_df(spark, edges), walk_length=3,
                     w_return=0, w_common=0, w_far=0)


def test_warm_start_components_additions_only(spark):
    from bitcoinpagerank_spark.operators.components import (
        connected_components,
        warm_start_components,
    )

    day1 = [(1, 2), (2, 3), (10, 11), (20, 21)]
    day2 = day1 + [(3, 4), (11, 12), (21, 1)]  # growth only
    prior = connected_components(spark, edges_df(spark, day1)).labels
    cold = connected_components(spark, edges_df(spark, day2))
    warm = warm_start_components(spark, edges_df(spark, day2), prior)
    want = {r["id"]: r["component"] for r in cold.labels.collect()}
    got = {r["id"]: r["component"] for r in warm.labels.collect()}
    assert got == want  # identical min-id labels
    assert warm.iterations <= cold.iterations


def test_warm_start_components_guard_rejects_deletions(spark):
    """With prior_edges passed, the additions-only contract is ENFORCED:
    an edge deletion raises instead of silently merging stale labels;
    a true superset passes the guard and still matches the cold start."""
    import pytest as _pytest

    from bitcoinpagerank_spark.operators.components import (
        connected_components,
        warm_start_components,
    )

    day1 = [(1, 2), (2, 3), (10, 11)]
    prior = connected_components(spark, edges_df(spark, day1)).labels

    # deletion: (2,3) gone — 3 is now separate, but the prior label edge
    # (3 -> 1) would silently glue it back; the guard must raise
    day2_deleted = [(1, 2), (10, 11), (10, 12)]
    with _pytest.raises(ValueError, match="additions-only"):
        warm_start_components(
            spark, edges_df(spark, day2_deleted), prior,
            prior_edges=edges_df(spark, day1),
        )

    # growth (incl. a reversed duplicate, which the undirected
    # normalization must treat as still-present): guard passes
    day2_grown = day1 + [(3, 2), (11, 12)]
    warm = warm_start_components(
        spark, edges_df(spark, day2_grown), prior,
        prior_edges=edges_df(spark, day1),
    )
    cold = connected_components(spark, edges_df(spark, day2_grown))
    assert (
        {r["id"]: r["component"] for r in warm.labels.collect()}
        == {r["id"]: r["component"] for r in cold.labels.collect()}
    )


def test_bowtie_all_regions(spark):
    """Hand-built graph exercising every bow-tie region: 3-cycle CORE,
    an IN feeder, an OUT sink, a TUBE bypassing the core, both tendril
    flavors, and a disconnected pair."""
    from bitcoinpagerank_spark.operators.bowtie import bowtie

    edges = [
        (1, 2), (2, 3), (3, 1),   # CORE cycle
        (10, 1),                  # IN
        (3, 20),                  # OUT
        (10, 30), (30, 20),       # TUBE: IN -> 30 -> OUT, bypassing core
        (10, 40),                 # TENDRIL (hangs off IN)
        (50, 20),                 # TENDRIL (feeds into OUT)
        (60, 61),                 # DISC
    ]
    res = bowtie(spark, edges_df(spark, edges))
    got = {r["id"]: r["region"] for r in res.regions.collect()}
    assert got == {
        1: "CORE", 2: "CORE", 3: "CORE",
        10: "IN", 20: "OUT", 30: "TUBE",
        40: "TENDRIL", 50: "TENDRIL",
        60: "DISC", 61: "DISC",
    }
    assert res.core_scc == 1 and res.core_size == 3
