from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from conftest import edges_df
from oracles import pagerank_oracle

from bitcoinpagerank_spark.operators.pagerank import (
    load_snapshot,
    pagerank,
    resume_pagerank,
)


def _graph(seed=13, n=100, p=0.04):
    rng = np.random.default_rng(seed)
    mask = rng.random((n, n)) < p
    np.fill_diagonal(mask, False)
    return [(int(i), int(j)) for i, j in zip(*mask.nonzero())]


def _snapshot_names(monkeypatch, run):
    """(``run()``, the table names ``TableStore.write_table`` was called
    with during it)."""
    from bitcoinpagerank_spark.sources.tablestore import TableStore

    names: list[str] = []
    write_table = TableStore.write_table

    def spy(self, df, name):
        names.append(name)
        return write_table(self, df, name)

    monkeypatch.setattr(TableStore, "write_table", spy)
    out = run()
    monkeypatch.undo()
    return out, names


def test_snapshot_and_resume_match_straight_run(spark, monkeypatch, tmp_path):
    edges = _graph()
    e = edges_df(spark, edges)
    straight = pagerank(spark, e, tol=1e-9, max_iter=100)

    ckpt = str(tmp_path / "ck")
    partial, names = _snapshot_names(monkeypatch, lambda: pagerank(
        spark, e, tol=1e-9, max_iter=4, checkpoint_dir=ckpt, checkpoint_interval=2
    ))
    # the round that ends the loop is written once, as the final snapshot
    assert names == ["iter0002", "iter0004"]
    assert not partial.converged
    it, manifest = load_snapshot(spark, ckpt)
    assert it == 4 and manifest["final"]
    assert len(manifest["metrics"]) == 4

    resumed = resume_pagerank(spark, e, ckpt, tol=1e-9, max_iter=100)
    assert resumed.converged
    assert resumed.iterations == straight.iterations
    # full metrics history survives the resume (lineage requirement)
    assert [m.iteration for m in resumed.metrics] == list(
        range(1, resumed.iterations + 1)
    )

    a = {r["id"]: r["score"] for r in straight.ranks.collect()}
    b = {r["id"]: r["score"] for r in resumed.ranks.collect()}
    for v in a:
        assert b[v] == pytest.approx(a[v], abs=1e-12)
    want = pagerank_oracle(edges)
    for v in want:
        assert b[v] == pytest.approx(want[v], abs=1e-6)


def test_resume_without_snapshot_starts_fresh(spark, tmp_path):
    e = edges_df(spark, _graph(seed=5, n=40))
    res = resume_pagerank(spark, e, str(tmp_path / "none"), tol=1e-6, max_iter=50)
    assert res.converged


def test_metrics_lineage_rows(spark):
    e = edges_df(spark, _graph(seed=7, n=60))
    res = pagerank(spark, e, tol=1e-6, max_iter=50)
    mdf = res.metrics_df(spark)
    rows = mdf.collect()
    assert len(rows) == res.iterations
    for r in rows:
        assert r["total_mass"] == pytest.approx(1.0, abs=1e-9)
        assert r["edges_processed"] > 0
        assert r["num_partitions"] >= 1
        assert r["wall_sec"] > 0
    # delta decreases overall (monotone-ish for power iteration)
    deltas = [r["delta_l1"] for r in sorted(rows, key=lambda x: x["iteration"])]
    assert deltas[-1] < deltas[0]


def test_double_interrupt_resume_keeps_full_lineage(spark, tmp_path):
    """Snapshots written DURING a resumed run must carry the pre-resume
    metrics, so a second interrupt+resume still has the full trajectory."""
    edges = _graph(seed=21, n=80)
    e = edges_df(spark, edges)
    ckpt = str(tmp_path / "ck2")

    pagerank(spark, e, tol=1e-12, max_iter=3,
             checkpoint_dir=ckpt, checkpoint_interval=2)
    # first resume: run 3 more iterations, snapshots every 2
    resume_pagerank(spark, e, ckpt, tol=1e-12, max_iter=6,
                    checkpoint_interval=2)
    _, manifest = load_snapshot(spark, ckpt)
    # the manifest written during the RESUMED run has iterations 1..6
    assert [m["iteration"] for m in manifest["metrics"]] == [1, 2, 3, 4, 5, 6]
    # second resume sees the whole history too
    final = resume_pagerank(spark, e, ckpt, tol=1e-9, max_iter=100)
    assert final.converged
    assert [m.iteration for m in final.metrics] == list(
        range(1, final.iterations + 1)
    )


def test_checkpoint_through_hadoop_fs_uri(spark, tmp_path):
    """--checkpoint-dir with a non-POSIX path scheme: the file:// URI is
    unreadable by plain open()/os.path, so passing this test proves the
    manifest I/O goes through the Hadoop FileSystem layer."""
    edges = _graph(seed=31, n=60)
    e = edges_df(spark, edges)
    ckpt = f"file://{tmp_path}/ck_uri"

    straight = pagerank(spark, e, tol=1e-9, max_iter=100)
    pagerank(spark, e, tol=1e-9, max_iter=3,
             checkpoint_dir=ckpt, checkpoint_interval=2)
    it, manifest = load_snapshot(spark, ckpt)
    assert it == 3 and manifest["final"]
    assert manifest["backend"] == "parquet"  # no Iceberg jar in this env

    resumed = resume_pagerank(spark, e, ckpt, tol=1e-9, max_iter=100)
    assert resumed.converged
    a = {r["id"]: r["score"] for r in straight.ranks.collect()}
    b = {r["id"]: r["score"] for r in resumed.ranks.collect()}
    for v in a:
        assert b[v] == pytest.approx(a[v], abs=1e-12)


def test_iteration_metrics_carry_shuffle_bytes(spark, tmp_path):
    """North-star lineage: per-iteration snapshot metrics must record the
    iteration's shuffle read/write bytes (non-zero — every step shuffles
    the contributions join + by-dst aggregate)."""
    e = edges_df(spark, _graph(seed=41, n=80))
    ckpt = str(tmp_path / "ck_sb")
    res = pagerank(spark, e, tol=1e-9, max_iter=4,
                   checkpoint_dir=ckpt, checkpoint_interval=2)
    for m in res.metrics:
        assert m.shuffle_write_bytes > 0, vars(m)
        assert m.shuffle_read_bytes > 0, vars(m)
    _, manifest = load_snapshot(spark, ckpt)
    for m in manifest["metrics"]:
        assert m["shuffle_write_bytes"] > 0
    # the metrics DataFrame exposes the new columns too
    cols = set(res.metrics_df(spark).columns)
    assert {"shuffle_read_bytes", "shuffle_write_bytes"} <= cols


def test_tablestore_expiry_and_compaction(spark, tmp_path):
    from bitcoinpagerank_spark.sources.tablestore import TableStore

    store = TableStore(spark, f"file://{tmp_path}/store")
    df = spark.range(100).selectExpr("id", "id * 2 AS score")
    for i in range(4):
        store.write_table(df, f"iter{i:04d}")
    store.write_manifest({"latest": store.table_path("iter0003")})
    assert store.list_tables("iter") == [
        "iter0000", "iter0001", "iter0002", "iter0003"
    ]

    dropped = store.expire_tables("iter", keep_last=2)
    assert dropped == ["iter0000", "iter0001"]
    assert store.list_tables("iter") == ["iter0002", "iter0003"]
    # the manifest's latest table is intact and readable
    latest = store.read_manifest()["latest"]
    assert store.read_table(latest).count() == 100

    # fragment a table with many appends, then compact to 1 file
    for _ in range(5):
        store.append_table(df, "events_sink")
    loc = store.table_path("events_sink")
    import glob
    n_before = len(glob.glob(f"{tmp_path}/store/events_sink/part-*"))
    assert n_before >= 5
    store.compact_table("events_sink", 1)
    n_after = len(glob.glob(f"{tmp_path}/store/events_sink/part-*"))
    assert n_after == 1
    assert store.read_table(loc).count() == 500

    import pytest as _pytest
    with _pytest.raises(ValueError):
        store.expire_tables("iter", keep_last=0)


def test_tablestore_without_catalog_skips_the_classpath_probe(spark, monkeypatch):
    """With no Iceberg catalog configured, no ``TableStore`` pays the
    ``Class.forName`` probe for the Iceberg runtime."""
    from bitcoinpagerank_spark.sources import tablestore

    probes: list[int] = []
    monkeypatch.setattr(tablestore, "iceberg_available",
                        lambda s: probes.append(1) or False)
    for _ in range(2):
        assert tablestore.TableStore(spark, "/unused").backend == "parquet"
    assert probes == []


def test_scc_plain_closure_stats_growth_is_linear(spark):
    """Regression guard for the r4 planning-blowup class: every closure
    round's checkpoint starts its size ESTIMATE over, so the estimate of
    the result does not grow with the round count at all — a carried
    estimate compounds by at least ~7 digits per round (the plain
    localCheckpoint), and doubles its digits per round when the plan
    squares its size (the Louvain failure mode)."""
    from bitcoinpagerank_spark.operators.scc import (
        strongly_connected_components,
    )
    from tests.conftest import edges_df

    # directed cycle chain: long closure (diameter-bound rounds)
    n = 40
    ring = [(i, (i + 1) % n) for i in range(n)]
    res = strongly_connected_components(
        spark, edges_df(spark, ring), num_partitions=4
    )
    assert res.converged
    closure_rounds = sum(
        1 for m in res.metrics if not str(m["closure"]).startswith("trim")
    )
    digits = len(
        str(
            res.labels._jdf.queryExecution()
            .optimizedPlan()
            .stats()
            .sizeInBytes()
        )
    )
    # the settled labels join two 19-digit closure checkpoints: ~38
    # digits whatever the round count
    assert closure_rounds >= n / 2
    assert digits < 60, (
        f"{digits} digits after {closure_rounds} closure rounds"
    )


def test_components_snapshot_and_resume_match_straight_run(
    spark, monkeypatch, tmp_path
):
    """CC resume (north_rule: resumes mid-iteration): interrupt the
    star-contraction at max_iter, resume from the pair-set snapshot, and
    the final labels must be bit-identical to an uninterrupted run."""
    import random

    from bitcoinpagerank_spark.operators.components import (
        connected_components,
        resume_components,
    )
    from tests.conftest import edges_df

    rng = random.Random(77)
    # long path + random chords: needs several contraction rounds
    edges = [(i, i + 1) for i in range(120)] + [
        (rng.randrange(200, 260), rng.randrange(200, 260)) for _ in range(40)
    ]
    e = edges_df(spark, edges)
    straight = connected_components(spark, e, num_partitions=4)

    ckpt = str(tmp_path / "cc_ckpt")
    interrupted, names = _snapshot_names(monkeypatch, lambda: connected_components(
        spark, e, max_iter=2, num_partitions=4,
        checkpoint_dir=ckpt, checkpoint_interval=1,
    ))
    # the round that ends the loop is written once, as the final snapshot
    assert names == ["cc_iter0001", "cc_iter0002"]
    assert not interrupted.converged
    resumed = resume_components(spark, e, ckpt, num_partitions=4)
    assert resumed.converged
    assert resumed.iterations == straight.iterations
    a = sorted(tuple(r) for r in straight.labels.collect())
    b = sorted(tuple(r) for r in resumed.labels.collect())
    assert a == b
    # lineage survives the restart: metrics cover rounds 1..N contiguously
    rounds = [m["iteration"] for m in resumed.metrics]
    assert rounds == list(range(1, resumed.iterations + 1))


def test_resume_components_rejects_pagerank_snapshot(spark, tmp_path):
    import pytest as _pytest

    from bitcoinpagerank_spark.operators.components import resume_components
    from bitcoinpagerank_spark.operators.pagerank import pagerank
    from tests.conftest import edges_df

    e = edges_df(spark, [(1, 2), (2, 3)])
    ckpt = str(tmp_path / "pr_ckpt")
    pagerank(spark, e, tol=0.0, max_iter=2, checkpoint_dir=ckpt,
             checkpoint_interval=1)
    with _pytest.raises(ValueError, match="not a components"):
        resume_components(spark, e, ckpt)


def test_resume_components_rejects_different_edge_set(spark, tmp_path):
    """ADVICE r5: the CC manifest records an input-edge fingerprint
    (count + xxhash64 XOR of the canonical pair set); resuming against a
    DIFFERENT --input must fail loudly instead of silently joining
    yesterday's pair snapshot with today's graph."""
    import pytest as _pytest

    from bitcoinpagerank_spark.operators.components import (
        connected_components,
        resume_components,
    )
    from tests.conftest import edges_df

    e = edges_df(spark, [(i, i + 1) for i in range(40)])
    ckpt = str(tmp_path / "cc_sig_ckpt")
    connected_components(spark, e, max_iter=1, num_partitions=4,
                         checkpoint_dir=ckpt, checkpoint_interval=1)
    other = edges_df(spark, [(i, i + 2) for i in range(40)])
    with _pytest.raises(ValueError, match="different edge set"):
        resume_components(spark, other, ckpt, num_partitions=4)
    # same edges (any row order / duplication) still resume fine:
    # the fingerprint is over the canonical DISTINCT pair set
    dup = edges_df(spark, [(i, i + 1) for i in range(40)]
                   + [(5, 6), (1, 0)])
    res = resume_components(spark, dup, ckpt, num_partitions=4)
    assert res.converged


@pytest.fixture
def one_job_per_query(spark):
    """AQE off and no auto-broadcast for one test, so each query runs as
    exactly one Spark job: AQE submits every query stage as a job of its
    own, and a broadcast collects its side in another."""
    keys = {"spark.sql.adaptive.enabled": "false",
            "spark.sql.autoBroadcastJoinThreshold": "-1"}
    saved = {k: spark.conf.get(k) for k in keys}
    for k, v in keys.items():
        spark.conf.set(k, v)
    yield
    for k, v in saved.items():
        spark.conf.set(k, v)


def _jobs_per_round_checkpoint(spark, monkeypatch, run) -> list[int]:
    """Spark jobs each ``Round.checkpoint`` call ran during ``run()``,
    read from the app status store (newest job id) before and after the
    call."""
    from bitcoinpagerank_spark.operators import lineage

    sc = spark.sparkContext._jsc.sc()  # noqa: SLF001

    def last_job_id() -> int:
        sc.listenerBus().waitUntilEmpty()
        jobs = sc.statusStore().jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    per_call: list[int] = []
    checkpoint = lineage.Round.checkpoint

    def counted(self, df, **aggs):
        before = last_job_id()
        out = checkpoint(self, df, **aggs)
        per_call.append(last_job_id() - before)
        return out

    monkeypatch.setattr(lineage.Round, "checkpoint", counted)
    run()
    return per_call


@pytest.mark.parametrize(
    "op", ["label_propagation", "hits", "salsa", "louvain_communities"]
)
def test_round_checkpoint_is_one_job(spark, monkeypatch, one_job_per_query, op):
    """A round's checkpoint is one job: no cache pass or count job to
    reset the size estimate. Label propagation checkpoints once per
    round (4 rounds), HITS and SALSA once per half-step (2 iterations),
    Louvain once per move round (4 rounds)."""
    from bitcoinpagerank_spark.operators.centrality import hits, salsa
    from bitcoinpagerank_spark.operators.community import louvain_communities
    from bitcoinpagerank_spark.operators.labelprop import label_propagation

    e = edges_df(spark, _graph(seed=3, n=60, p=0.05))
    run = {
        "label_propagation": lambda: label_propagation(spark, e, max_iter=4),
        "hits": lambda: hits(spark, e, max_iter=2),
        "salsa": lambda: salsa(spark, e, max_iter=2),
        "louvain_communities": lambda: louvain_communities(spark, e, max_rounds=4),
    }[op]
    assert _jobs_per_round_checkpoint(spark, monkeypatch, run) == [1, 1, 1, 1]


def test_checkpoint_keeps_partitioning_and_drops_the_estimate(
    spark, one_job_per_query
):
    """``lineage.checkpoint`` keeps the frame's hash partitioning (a
    group-by on the key needs no Exchange) and plans with the 19-digit
    default size, whatever estimate the frame carried."""
    from bitcoinpagerank_spark.operators.lineage import checkpoint

    df = spark.range(200).repartition(4, "id")
    for _ in range(3):  # self-joins: the carried estimate compounds
        df = df.join(df.withColumnRenamed("id", "j"), F.col("id") == F.col("j"))
        df = df.select("id").repartition(4, "id")
    cp = checkpoint(df)
    plan = cp._jdf.queryExecution().optimizedPlan()  # noqa: SLF001
    assert str(plan.stats().sizeInBytes()) == str(2**63 - 1)
    assert "hashpartitioning" in plan.outputPartitioning().toString()
    agg = cp.groupBy("id").count()
    assert "Exchange" not in agg._jdf.queryExecution().executedPlan().toString()
    assert agg.count() == 200
