"""Katz / eigenvector / SALSA centrality vs dense numpy oracles."""

from __future__ import annotations

import numpy as np
import pytest

from bitcoinpagerank_spark.operators.centrality import (
    eigenvector_centrality,
    katz_centrality,
    salsa,
)
from tests.conftest import G_CYCLE, G_STAR, G_TRI, edges_df

GRAPHS = {"cycle": G_CYCLE, "star": G_STAR, "tri": G_TRI,
          "mixed": [(1, 2), (2, 3), (3, 1), (3, 4), (4, 2), (5, 2)]}


def _dense(edges):
    ids = sorted({v for e in edges for v in e})
    idx = {v: i for i, v in enumerate(ids)}
    A = np.zeros((len(ids), len(ids)))
    for s, d in edges:
        A[idx[s], idx[d]] = 1.0
    return ids, A


def katz_oracle(edges, alpha=0.05, beta=1.0, iters=3):
    ids, A = _dense(edges)
    c = np.full(len(ids), beta)
    for _ in range(iters):
        c = beta + alpha * (A.T @ c)
    return dict(zip(ids, c))


def eigen_oracle(edges, iters=3):
    ids, A = _dense(edges)
    x = np.full(len(ids), 1.0 / len(ids))
    for _ in range(iters):
        x = A.T @ x
        s = x.sum() or 1.0
        x = x / s
    return dict(zip(ids, x))


def salsa_oracle(edges, iters=2):
    ids, A = _dense(edges)
    od = A.sum(axis=1)
    ind = A.sum(axis=0)
    inv_od = np.divide(1.0, od, out=np.zeros_like(od), where=od > 0)
    inv_id = np.divide(1.0, ind, out=np.zeros_like(ind), where=ind > 0)
    h = np.full(len(ids), 1.0 / len(ids))
    a = np.zeros(len(ids))
    for _ in range(iters):
        a = A.T @ (h * inv_od)
        a = a / (a.sum() or 1.0)
        h = A @ (a * inv_id)
        h = h / (h.sum() or 1.0)
    return dict(zip(ids, h)), dict(zip(ids, a))


@pytest.mark.parametrize("gname", sorted(GRAPHS))
def test_katz_matches_numpy(spark, gname):
    edges = GRAPHS[gname]
    want = katz_oracle(edges)
    got = {
        r["id"]: r["score"]
        for r in katz_centrality(spark, edges_df(spark, edges)).scores.collect()
    }
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-9), (gname, v)


@pytest.mark.parametrize("gname", sorted(GRAPHS))
def test_eigenvector_matches_numpy(spark, gname):
    edges = GRAPHS[gname]
    want = eigen_oracle(edges)
    got = {
        r["id"]: r["score"]
        for r in eigenvector_centrality(
            spark, edges_df(spark, edges)
        ).scores.collect()
    }
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-9), (gname, v)


@pytest.mark.parametrize("gname", sorted(GRAPHS))
def test_salsa_matches_numpy(spark, gname):
    edges = GRAPHS[gname]
    want_h, want_a = salsa_oracle(edges)
    rows = salsa(spark, edges_df(spark, edges)).scores.collect()
    got_h = {r["id"]: r["hub"] for r in rows}
    got_a = {r["id"]: r["authority"] for r in rows}
    assert set(got_h) == set(want_h)
    for v in want_h:
        assert got_h[v] == pytest.approx(want_h[v], abs=1e-9), (gname, v)
        assert got_a[v] == pytest.approx(want_a[v], abs=1e-9), (gname, v)


def test_guards(spark):
    df = edges_df(spark, G_CYCLE)
    with pytest.raises(ValueError):
        katz_centrality(spark, df, max_iter=0)
    with pytest.raises(ValueError):
        eigenvector_centrality(spark, df, max_iter=0)
    with pytest.raises(ValueError):
        salsa(spark, df, max_iter=0)
    empty = spark.createDataFrame([], "src_id long, dst_id long")
    with pytest.raises(ValueError):
        katz_centrality(spark, empty)


def test_salsa_size_estimate_does_not_compound(spark):
    """Each SALSA half-step references the other side's checkpoint, so a
    plain localCheckpoint carries Catalyst's size estimate forward and
    its digit count grows every iteration (716 digits after 24 on a
    300-vertex graph); the stats-resetting checkpoint keeps it flat."""
    res = salsa(spark, edges_df(spark, GRAPHS["mixed"]), max_iter=24)
    size = res.scores._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert len(str(size)) < 100
