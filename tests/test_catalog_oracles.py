"""Driver-contract rehearsal: run every catalog query in Spark and its
oracle SQL in DuckDB on the same parquet tables; compare row multisets
(columns aligned by name, floats canonicalized) — the same shape of check
the driver records in CORRECTNESS_r{N}.json."""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pyarrow as pa
import pytest

from bitcoinpagerank_spark.plans import catalog
from oracles import pagerank_oracle, ppr_oracle

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return c


def _canon(v):
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    return v


def _rows(cols, data):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(_canon(row[i]) for i in order) for row in data
    )


ORACLED = sorted(catalog.oracle_sql())


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, con, name):
    fn = catalog.queries()[name]
    sql = catalog.oracle_sql()[name]
    sdf = fn(spark, SF_DIR)
    spark_cols = sdf.columns
    spark_data = [tuple(r) for r in sdf.collect()]
    res = con.execute(sql)
    duck_cols = [d[0] for d in res.description]
    duck_data = res.fetchall()
    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    got = _rows(spark_cols, spark_data)
    want = _rows(duck_cols, duck_data)
    assert len(got) == len(want), f"{name}: {len(got)} vs {len(want)} rows"
    assert got == want, f"{name}: value mismatch (first diff: "


@pytest.mark.parametrize("name", ORACLED)
def test_oracle_output_types_are_hashable(con, name):
    """Type discipline: DuckDB promotes sum()/arithmetic over BIGINT to
    HUGEINT, which surfaces through Arrow as decimal128 — the driver's
    value hash is type-sensitive, so such an oracle red-flags even when
    every value equals Spark's int64 (the g_wl_fingerprint_r2 r03
    regression). Assert no oracle ever emits decimal/hugeint types.

    The result types come from the bound plan, so a LIMIT 0 fetch gives
    the same Arrow schema as the full query without running it again
    (test_query_matches_oracle already runs every oracle in full)."""
    rel = con.sql(catalog.oracle_sql()[name]).limit(0)
    schema = rel.fetch_arrow_table().schema
    bad = [
        f.name
        for f in schema
        if pa.types.is_decimal(f.type)
    ]
    assert not bad, (
        f"{name}: oracle columns {bad} surface as decimal128 (DuckDB "
        f"HUGEINT/DECIMAL promotion) — wrap with CAST(... AS BIGINT/DOUBLE)"
    )


def test_power_sql_matches_numpy(con):
    """The unrolled power-iteration SQL, unrounded, against numpy at
    iteration counts no registered oracle uses, so an off-by-one in the
    unroll cannot hide behind the fixed 2 or 3."""
    edges = con.execute(
        f"WITH {catalog.EDGES_CTE} SELECT src_id, dst_id FROM edges"
    ).fetchall()
    raw = "SELECT id, score FROM {x}"

    def close(sql, want):
        got = dict(con.execute(sql).fetchall())
        assert got.keys() == want.keys()
        assert max(abs(got[v] - want[v]) for v in want) <= 1e-12

    for k in (1, 5):
        close(
            catalog._power_sql(
                k, "1.0/cnt", [catalog._pr_half()], raw, ctes=(catalog._DEG,)
            ),
            pagerank_oracle(edges, tol=0, max_iter=k),
        )
    seeds = {v for e in edges for v in e if v % 10 == 0}
    close(
        catalog._power_sql(
            5, catalog._PPR_TP, [catalog._pr_half(catalog._PPR_TP)], raw,
            ctes=(catalog._DEG, catalog._PPR_CTE), consts=("vn", "s"),
        ),
        ppr_oracle(edges, seeds, tol=0, max_iter=5),
    )

    nodes = sorted({v for e in edges for v in e})
    idx = {v: i for i, v in enumerate(nodes)}
    adj = np.zeros((len(nodes), len(nodes)))
    for s, d in edges:
        adj[idx[s], idx[d]] = 1.0
    hub = np.full(len(nodes), 1.0 / len(nodes))
    for _ in range(2):
        auth = adj.T @ hub
        auth /= auth.sum()
        hub = adj @ auth
        hub /= hub.sum()
    rows = con.execute(catalog._power_sql(
        2, "1.0/cnt", catalog._HITS_HALVES,
        "SELECT h.id, h.score, a.score FROM {h} h JOIN {a} a ON h.id = a.id",
    )).fetchall()
    assert sorted(r[0] for r in rows) == nodes
    for v, h, a in rows:
        assert abs(h - hub[idx[v]]) <= 1e-12
        assert abs(a - auth[idx[v]]) <= 1e-12


def test_driver_window_spends_no_slot_on_rows_only():
    """The driver value-checks only the first 50 entries of the driver
    contract's queries(); rows-only (no-oracle) entries must never occupy
    one of those slots."""
    import __spark_entry__

    first50 = list(__spark_entry__.queries())[:50]
    oracled = set(__spark_entry__.oracle_sql())
    wasted = [n for n in first50 if n not in oracled]
    assert not wasted, f"rows-only entries inside the driver window: {wasted}"


def test_rows_only_queries_run(spark):
    for name, fn in catalog.queries().items():
        if name in catalog.oracle_sql():
            continue
        df = fn(spark, SF_DIR)
        assert df.count() >= 0, name
