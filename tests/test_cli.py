"""The spark-submit CLI surface: commands run in-process through
``__main__.main(argv)`` on the shared test session; a bad command and one
PageRank run go through a real subprocess."""

from __future__ import annotations

import contextlib
import io
import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

from conftest import G_TRI, edges_df
from oracles import triangles_oracle

from bitcoinpagerank_spark.__main__ import main


def _cli(spark, args: list[str]) -> dict:
    """Run one CLI command in this process and return its JSON result
    line. ``main`` gets its session from ``get_spark``, which returns
    the active test session with its conf untouched."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main([*args, "--master", "local[4]"])
    assert rc == 0, buf.getvalue()[-1500:]
    return json.loads(
        [line for line in buf.getvalue().splitlines() if line.startswith("{")][-1]
    )


def _cli_subprocess(args: list[str], timeout: int = 240) -> dict:
    out = subprocess.run(
        [sys.executable, "-m", "bitcoinpagerank_spark", *args,
         "--master", "local[4]"],
        capture_output=True, text=True, timeout=timeout,
        env={**os.environ, "PYTHONPATH": str(REPO)}, cwd=str(REPO),
    )
    assert out.returncode == 0, out.stderr[-1500:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_cli_pagerank_and_triangles(spark, tmp_path):
    edges = edges_df(spark, G_TRI)
    path = str(tmp_path / "edges")
    edges.write.parquet(path)

    tri = _cli(spark, ["triangles", "--input", path])
    assert tri["triangles"] == triangles_oracle(G_TRI) == 1

    ranks_out = str(tmp_path / "ranks")
    pr = _cli_subprocess([
        "pagerank", "--input", path, "--output", ranks_out,
        "--max-iter", "50",
    ])
    assert pr["converged"] is True
    assert abs(pr["total_mass"] - 1.0) < 1e-9
    got = {r["id"]: r["score"] for r in spark.read.parquet(ranks_out).collect()}
    assert set(got) == {1, 2, 3}
    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"


def test_cli_rejects_bad_command():
    out = subprocess.run(
        [sys.executable, "-m", "bitcoinpagerank_spark", "bogus", "--input", "x"],
        capture_output=True, text=True,
        env={**os.environ, "PYTHONPATH": str(REPO)}, cwd=str(REPO),
    )
    assert out.returncode != 0
    assert "invalid choice" in out.stderr


def test_cli_graph_breadth_commands(spark, tmp_path):
    """scc / bfs / walks over one edge parquet."""
    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 4)]
    path = str(tmp_path / "edges2")
    edges_df(spark, edges).write.parquet(path)

    scc_out = str(tmp_path / "scc")
    scc = _cli(spark, ["scc", "--input", path, "--output", scc_out])
    assert scc["converged"] is True
    got = {r["id"]: r["scc"] for r in spark.read.parquet(scc_out).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}

    bfs = _cli(spark, [
        "bfs", "--input", path, "--sources", "1",
    ])
    assert bfs["converged"] is True and bfs["reached"] == 5

    walks = _cli(spark, [
        "walks", "--input", path, "--walk-length", "3",
    ])
    assert walks["steps"] == 5 * 4  # no dangling vertices: full walks


def test_cli_r3_breadth_commands(spark, tmp_path):
    """ktruss / harmonic / linkpred."""
    edges = [(1, 2), (2, 3), (3, 1), (1, 4), (4, 2), (3, 4), (4, 5)]
    path = str(tmp_path / "edges3")
    edges_df(spark, edges).write.parquet(path)

    kt = _cli(spark, ["ktruss", "--input", path, "--truss-k", "3"])
    assert kt["converged"] is True and kt["edges"] > 0

    hc = _cli(spark, ["harmonic", "--input", path, "--sources", "1,2"])
    assert hc["vertices"] > 0 and hc["seeds"] == 2

    lp = _cli(spark, ["linkpred", "--input", path, "--min-common", "2"])
    assert lp["pairs"] >= 0


def test_cli_mis_coloring_sssp_centrality(spark, tmp_path):
    edges = edges_df(spark, [(1, 2), (2, 3), (3, 1), (3, 4)])
    path = str(tmp_path / "edges_r3")
    edges.write.parquet(path)

    mis = _cli(spark, ["mis", "--input", path])
    assert mis["converged"] is True and mis["mis_size"] >= 1

    col = _cli(spark, ["coloring", "--input", path])
    assert col["converged"] is True and 2 <= col["n_colors"] <= 4

    ss = _cli(spark, ["sssp", "--input", path, "--sources", "1"])
    assert ss["converged"] is True and ss["reached"] == 4

    cen = _cli(spark, ["centrality", "--input", path,
                      "--variant", "salsa", "--max-iter", "2"])
    assert cen["variant"] == "salsa" and cen["vertices"] == 4


def test_source_format_round_trips(spark, tmp_path):
    """CSV/JSONL/ORC round-trips preserve the exact rows (S1/S6 parity
    beyond the reference's text-only surface)."""
    from bitcoinpagerank_spark.sources.tables import (
        read_csv,
        read_jsonl,
        read_orc,
        write_csv,
        write_jsonl,
        write_orc,
    )

    src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    want = sorted(tuple(r) for r in src.collect())
    schema = "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double"

    p = str(tmp_path / "orders_csv")
    write_csv(src, p)
    assert sorted(tuple(r) for r in read_csv(spark, p, schema).collect()) == want

    p = str(tmp_path / "orders_jsonl")
    write_jsonl(src, p)
    assert sorted(tuple(r) for r in read_jsonl(spark, p, schema).collect()) == want

    p = str(tmp_path / "orders_orc")
    write_orc(src, p)
    orc = read_orc(spark, p)
    assert sorted(tuple(r) for r in orc.collect()) == want
    # pushdown survives the format: filter reaches the ORC scan
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        orc.where("o_orderkey = 7").explain()
    assert "PushedFilters: [" in buf.getvalue()


def test_cli_louvain(spark, tmp_path):
    edges = edges_df(spark, [(1, 2), (2, 3), (3, 1), (7, 8), (8, 9), (9, 7)])
    path = str(tmp_path / "edges_lv")
    edges.write.parquet(path)
    out = _cli(spark, ["louvain", "--input", path])
    assert out["converged"] is True
    assert out["n_communities"] == 2


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Two tables bucketed on the same key join with no Exchange in the
    plan — the co-location contract write_bucketed promises."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from bitcoinpagerank_spark.sources.tables import read_bucketed, write_bucketed

    edges = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").select(
        F.col("o_custkey").alias("k"), "o_orderkey"
    )
    dims = spark.read.parquet("/root/testdata/sf0.001/customer.parquet").select(
        F.col("c_custkey").alias("k"), "c_name"
    )
    # a fresh session's in-memory catalog forgets the tables but their
    # warehouse directories survive — clear both before writing
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("t_orders_b", "t_cust_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    write_bucketed(edges, "t_orders_b", "k", buckets=8)
    write_bucketed(dims, "t_cust_b", "k", buckets=8)
    a = read_bucketed(spark, "t_orders_b")
    b = read_bucketed(spark, "t_cust_b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = a.join(b, "k")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain()
        plan = buf.getvalue()
        n = joined.count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert n == edges.join(dims, "k").count()
    assert "Exchange" not in plan, plan


def test_cli_trust_and_incremental_commands(spark, tmp_path):
    """r5 CLI surface: trustrank, spammass, incremental-components."""
    prior = edges_df(spark, [(1, 2), (2, 1), (2, 3), (10, 11), (11, 10)])
    today = edges_df(spark, [(1, 2), (2, 1), (10, 11), (11, 10)])
    prior.write.mode("overwrite").parquet(str(tmp_path / "prior"))
    today.write.mode("overwrite").parquet(str(tmp_path / "today"))
    from bitcoinpagerank_spark.operators.components import (
        connected_components,
    )
    connected_components(spark, prior).labels.write.mode("overwrite").parquet(
        str(tmp_path / "labels")
    )

    tr = _cli(spark, ["trustrank", "--input", str(tmp_path / "prior"),
                      "--sources", "1", "--max-iter", "30"])
    assert tr["converged"]
    sm = _cli(spark, ["spammass", "--input", str(tmp_path / "prior"),
                      "--sources", "1", "--max-iter", "30", "--k", "2"])
    assert sm["rows"] == 5 and set(sm["top_spam_ids"]) == {10, 11}
    inc = _cli(spark, ["incremental-components",
                       "--input", str(tmp_path / "today"),
                       "--prior-labels", str(tmp_path / "labels"),
                       "--prior-edges", str(tmp_path / "prior")])
    # vertex 3 vanished with its only edge: {1,2} and {10,11} remain
    assert inc["num_components"] == 2
