"""Damped power-iteration PageRank with dangling-mass redistribution.

Contract (SURVEY.md §2.12, from the reference's RunPageRankBasic.java):
  1. init: every vertex starts at 1/N            (BuildPageRankRecords.java:45)
  2. distribute: out-degree-d vertex sends p/d to each out-neighbor
                                                 (RunPageRankBasic.java:71-88)
  3. missing mass: 1 - Σ received                (RunPageRankBasic.java:344-347)
  4. update: p' = α/N + (1-α)(p_recv + missing/N), α=0.15
                                                 (RunPageRankBasic.java:230-246)
  5. terminate: L1 delta ≤ tol (north_rule upgrade of the reference's
     fixed iteration count, RunPageRankBasic.java:329-331)

Numeric domain: linear float64 (deliberate divergence from the reference's
float32 log-space ``sumLogProbs``, RunPageRankBasic.java:483-495 — see
SURVEY.md §4.3; the 1e-6 allclose bar is met directly).

Execution shape per iteration (vs the reference's 2 MapReduce jobs + 2 full
HDFS graph materializations + driver side-file fold per iteration,
RunPageRankBasic.java:339-351,423-429):
  - one join ranks⋈contributions + groupBy(dst).sum (Spark does map-side
    partial aggregation automatically — the reference's optional combiner,
    RunPageRankBasic.java:180-210, is always-on here)
  - one left join of the sums back onto the ranks, ended by the round's
    checkpoint: its one job. The L1 delta, total mass and the next
    round's dangling mass ride it via observe() (this replaces the
    per-reducer side-file protocol of RunPageRankBasic.java:162-176)
  - the graph stays in executor memory — zero per-iteration disk
    round-trips of the edge table.

Personalized PageRank runs the same loop with a per-vertex teleport
vector in place of the uniform 1/N (``personalized_pagerank``).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .edges import (
    SRC,
    DST,
    default_partitions,
    contributions_table,
    out_degrees,
    partition_lineage,
    vertices,
)
from .lineage import run_round

ALPHA = 0.15  # jump probability, RunPageRankBasic.java:246
DEFAULT_TOL = 1e-6


@dataclass
class IterationMetrics:
    """Per-iteration lineage row (upgrade of Hadoop counters +
    MyUtils.generateReport wall-clock files, MyUtils.java:12-22).
    ``shuffle_read_bytes``/``shuffle_write_bytes`` sum the iteration's
    stages from the app status store (north_star lineage wording);
    0 when the status surface is unavailable."""

    iteration: int
    delta_l1: float
    total_mass: float
    missing_mass: float
    edges_processed: int
    num_partitions: int
    wall_sec: float
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0


@dataclass
class PageRankResult:
    ranks: DataFrame  # (id: long, score: double)
    iterations: int
    converged: bool
    metrics: list[IterationMetrics] = field(default_factory=list)
    # per-partition lineage (north_rule): [(part, edge_count)] under the
    # run's pmod(src_id, P) layout, recorded once per run
    partition_lineage: list[tuple[int, int]] = field(default_factory=list)

    def metrics_df(self, spark: SparkSession) -> DataFrame:
        rows = [vars(m) for m in self.metrics]
        return spark.createDataFrame(
            rows,
            schema=(
                "iteration int, delta_l1 double, total_mass double, "
                "missing_mass double, edges_processed long, "
                "num_partitions int, wall_sec double, "
                "shuffle_read_bytes long, shuffle_write_bytes long"
            ),
        )


def _init_state(
    spark: SparkSession, edges: DataFrame, num_partitions: int,
    weight_col: str | None = None, sources: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame, int, Callable[[float], Column]]:
    """Build (base, ranks0, contribs, n_edges, teleport).

    The cached ``base`` carries a precomputed ``dangling`` flag so the
    per-iteration missing-mass aggregate is a scan of the cached ranks,
    not a join. ``teleport(mass)`` is each vertex's share of ``mass``:
    the literal mass/N for uniform PageRank; with ``sources``
    (personalized) the ranks carry a ``tp`` column, 1/|S| on the sources
    and 0 elsewhere, and the share is mass·tp.
    """
    base = vertices(edges).join(out_degrees(edges), "id", "left")
    flags = [F.col("out_degree").isNull().alias("dangling")]
    if sources is not None:
        src_flag = sources.select("id").distinct().withColumn("is_src", F.lit(True))
        base = base.join(src_flag, "id", "left")
        flags.append(F.coalesce("is_src", F.lit(False)).alias("is_src"))
    base = base.select("id", *flags).repartition(num_partitions, "id").persist()
    n = base.count()
    if n == 0:
        raise ValueError(
            "PageRank on an empty graph: edge table has no non-null edges"
        )
    if sources is None:
        ranks0 = base.withColumn("score", F.lit(1.0 / n))

        def teleport(mass: float) -> Column:
            return F.lit(mass / n)
    else:
        s_cnt = base.where(F.col("is_src")).count()
        if s_cnt == 0:
            raise ValueError("personalized_pagerank: no source id is in the graph")
        tp = F.when(F.col("is_src"), F.lit(1.0 / s_cnt)).otherwise(F.lit(0.0))
        ranks0 = base.select("id", "dangling", tp.alias("tp"), tp.alias("score"))

        tp_col = F.col("tp")

        def teleport(mass: float) -> Column:
            return F.lit(mass) * tp_col
    contribs = contributions_table(edges, num_partitions, weight_col).persist()
    n_edges = contribs.count()
    return base, ranks0, contribs, n_edges, teleport


def _edges_step(
    contribs: DataFrame, alpha: float, teleport: Callable[[float], Column],
    state: list[str],
) -> Callable[[DataFrame, float], DataFrame]:
    """The power-iteration step ``(ranks, missing) -> ranks'`` via
    DataFrame join + hash aggregate:
    p' = teleport(α) + (1-α)(p_recv + teleport(missing)).

    Every Column of the step is built here, once per loop: PySpark pays
    py4j round trips for each Column it builds (a dozen for ``F.col``),
    so a round builds only its DataFrame ops and the one literal that
    changes, ``teleport(missing)``.

    The scores⋈contributions join is a shuffled hash join pinned via
    SHUFFLE_HASH (the loop sets preferSortMergeJoin=false):
    contribs' src-partitioning is reused and the |V|-side builds the hash
    table; sort-merge would re-sort the |E|-scale table every iteration.
    Broadcasting the scores instead was measured slower: they change
    every iteration, so broadcast re-pays driver collect + re-broadcast
    each round (CHANGES.md has the A/B). The old score is carried through
    so the convergence aggregate needs no second join.

    Measured (48M edges, 16 pinned cores, interleaved A/B): the standard
    partial+final hash aggregate beats an explicit repartition(dst) +
    complete-agg variant by ~10%/iteration even though the partial agg
    spills ~460 MB and compacts little — the spill writes are page-cache
    absorbed and the partial pass warms the rows for the shuffle writer,
    so the default plan is kept."""
    id_score = [F.col("id"), F.col("score")]
    on_src = contribs[SRC] == F.col("id")
    dst = F.col(DST)
    mass = [dst, (F.col("score") * F.col("weight")).alias("mass")]
    recv_sum = F.sum("mass").alias("recv")
    fixed = teleport(alpha)
    keep = F.lit(1.0 - alpha)
    received = F.coalesce(F.col("recv"), F.lit(0.0))
    on_dst = F.col("id") == dst
    carried = [F.col(c) for c in state]
    old_score = F.col("score").alias("old_score")

    def step(ranks: DataFrame, missing: float) -> DataFrame:
        scores = ranks.select(*id_score).hint("SHUFFLE_HASH")
        recv = (
            contribs.join(scores, on_src, "inner")
            .select(*mass)
            .groupBy(dst)
            .agg(recv_sum)
        )
        new_score = fixed + keep * (received + teleport(missing))
        return ranks.join(recv, on_dst, "left").select(
            *carried, new_score.alias("score"), old_score
        )

    return step


# NOTE on a rejected design: keeping the dangling mass in-plan (a 1-row
# broadcast aggregate cross-joined into the update) to chain k lazy steps
# per driver action was measured 3-4× SLOWER — each unmaterialized step is
# re-executed by all three consumer branches of the next step (the miss
# aggregate, the contributions join, and the final left join), giving
# ~3^k recompute. One materialized step per action wins.


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    alpha: float = ALPHA,
    tol: float = DEFAULT_TOL,
    max_iter: int = 100,
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 10,
    start_iteration: int = 0,
    start_ranks: DataFrame | None = None,
    prior_metrics: list["IterationMetrics"] | None = None,
    weight_col: str | None = None,
) -> PageRankResult:
    """Run PageRank on a (src_id, dst_id) edge DataFrame.

    ``weight_col`` names an explicit per-edge weight column: vertex u then
    sends score(u)·w(u,v)/Σw(u,·) along each edge (weighted PageRank;
    unweighted = all weights equal).

    ``edges`` need not be pre-deduplicated — callers that want reference
    parity (BuildTextGraph dedup) should pass ``dedup_edges(e)``; parallel
    edges here simply contribute multiple times (multigraph semantics,
    BuildTextMultigraph.java:76-92).

    Resumability: pass ``checkpoint_dir`` to write a snapshot every
    ``checkpoint_interval`` iterations (ranks parquet + JSON manifest with
    per-iteration lineage metrics). ``resume_pagerank`` continues from the
    latest snapshot — analog of the reference's ``iter%04d`` HDFS dirs
    (RunPageRankBasic.java:359-361) without materializing every iteration.
    ``checkpoint_dir`` may be any Hadoop-supported scheme (``file://``,
    ``hdfs://``, ``s3a://``): snapshot I/O goes through
    ``sources.tablestore.TableStore`` — Iceberg snapshot commits when the
    runtime is on the classpath, else parquet + a Hadoop-FS-written JSON
    manifest.
    ``prior_metrics`` seeds the lineage history so snapshots written during
    a resumed run carry the full pre-resume trajectory (a second
    interrupt+resume keeps every iteration's metrics).
    """
    return _pagerank_loop(
        spark, edges, alpha, tol, max_iter, num_partitions, checkpoint_dir,
        checkpoint_interval, start_iteration, start_ranks, prior_metrics,
        weight_col,
    )


def _pagerank_loop(
    spark: SparkSession,
    edges: DataFrame,
    alpha: float,
    tol: float,
    max_iter: int,
    num_partitions: int | None,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 10,
    start_iteration: int = 0,
    start_ranks: DataFrame | None = None,
    prior_metrics: list[IterationMetrics] | None = None,
    weight_col: str | None = None,
    sources: DataFrame | None = None,
) -> PageRankResult:
    if num_partitions is None:
        num_partitions = default_partitions(spark, edges)
    # Pin the iterate loop's partitioning: AQE coalescing would re-plan
    # every iteration (driver-serial work) and destabilize the per-partition
    # lineage rows (SURVEY.md §4.2 R3). Measured ~20% faster at local[16]
    # with AQE off for this loop; restored afterwards.
    aqe_before = spark.conf.get("spark.sql.adaptive.enabled", "true")
    smj_before = spark.conf.get("spark.sql.join.preferSortMergeJoin", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    # hash joins, not sort-merge: the iterate loop would otherwise re-SORT
    # the |E|-scale contributions table AND both |V|-scale sides of the
    # update join EVERY iteration; a shuffled hash join streams the big
    # side and builds on the vertex side (always the smaller one here)
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
    try:
        base, ranks0, contribs, n_edges, teleport = _init_state(
            spark, edges, num_partitions, weight_col, sources
        )
        state = [c for c in ranks0.columns if c != "score"]
        if start_ranks is not None:
            ranks = (
                start_ranks.join(ranks0.select(*state), "id", "inner")
                .select(*state, "score")
                .repartition(num_partitions, "id")
            )
        else:
            ranks = ranks0
        # missing mass for the first step: Σ score over dangling vertices,
        # observed on the start checkpoint; afterwards each iteration's
        # checkpoint hands back the NEXT iteration's dangling mass for
        # free — replaces the reference's per-reducer side files + driver
        # fold.
        dm = F.sum(F.when(F.col("dangling"), F.col("score")).otherwise(0.0))
        start = Observation()
        ranks = ranks.observe(start, dm.alias("dm")).localCheckpoint(eager=True)
        missing = start.get["dm"] or 0.0

        # at most P rows: sorted here, not by a range-partitioned orderBy
        part_lineage = sorted(
            (r["part"], r["edge_count"])
            for r in partition_lineage(contribs, num_partitions).collect()
        )

        step = _edges_step(contribs, alpha, teleport, state)
        # the convergence metrics (L1 delta, total mass, next dangling
        # mass) are built once and ride each round's checkpoint
        observed = {
            "delta": F.sum(F.abs(F.col("score") - F.col("old_score"))),
            "total": F.sum("score"),
            "dm": dm,
        }
        carried = [F.col(c) for c in state + ["score"]]
        metrics: list[IterationMetrics] = list(prior_metrics or [])
        converged = False
        it = start_iteration
        while it < max_iter:
            # ONE job per iteration: the convergence metrics ride the
            # checkpoint materialization itself via observe() — they
            # cost zero extra stages. Checksum analog of
            # CheckSumPageRank.java:44-55; side-file analog per SURVEY
            # §2.1 S8.
            with run_round(spark, "pr", it, "pagerank iteration") as rnd:
                new_ranks = rnd.checkpoint(step(ranks, missing), **observed)
            delta = float(rnd["delta"])
            it += 1
            metrics.append(
                IterationMetrics(
                    iteration=it,
                    delta_l1=delta,
                    total_mass=float(rnd["total"]),
                    missing_mass=missing,
                    edges_processed=n_edges,
                    num_partitions=num_partitions,
                    wall_sec=rnd["wall_sec"],
                    shuffle_read_bytes=rnd["shuffle_read_bytes"],
                    shuffle_write_bytes=rnd["shuffle_write_bytes"],
                )
            )
            ranks = new_ranks.select(*carried)
            missing = float(rnd["dm"])
            converged = delta <= tol
            if converged or it == max_iter:
                break  # the final snapshot below covers this round
            if checkpoint_dir and it % checkpoint_interval == 0:
                _write_snapshot(ranks, metrics, it, checkpoint_dir, part_lineage)
        if checkpoint_dir:
            _write_snapshot(ranks, metrics, it, checkpoint_dir, part_lineage,
                            final=True)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_before)
        spark.conf.set("spark.sql.join.preferSortMergeJoin", smj_before)
    base.unpersist()
    contribs.unpersist()
    return PageRankResult(ranks.select("id", "score"), it, converged, metrics,
                          part_lineage)


# ---------------------------------------------------------------- snapshots
#
# All snapshot I/O goes through sources.tablestore.TableStore: ranks
# tables land as Iceberg snapshot commits when the runtime is present,
# else partitioned parquet; the JSON lineage manifest is written through
# the Hadoop FS layer either way, so --checkpoint-dir accepts any
# Hadoop-supported scheme (file://, hdfs://, s3a://).


def _write_snapshot(
    ranks: DataFrame,
    metrics: list[IterationMetrics],
    iteration: int,
    checkpoint_dir: str,
    part_lineage: list[tuple[int, int]],
    final: bool = False,
) -> None:
    from ..sources.tablestore import TableStore

    TableStore(ranks.sparkSession, checkpoint_dir).write_snapshot(
        ranks.select("id", "score"), f"iter{iteration:04d}", "ranks_path",
        iteration=iteration,
        final=final,
        metrics=[vars(m) for m in metrics],
        partition_lineage=[list(t) for t in part_lineage],
    )


def load_snapshot(
    spark: SparkSession, checkpoint_dir: str
) -> tuple[int, dict] | None:
    from ..sources.tablestore import TableStore

    manifest = TableStore(spark, checkpoint_dir).read_manifest()
    if manifest is None:
        return None
    return manifest["iteration"], manifest


def resume_pagerank(
    spark: SparkSession, edges: DataFrame, checkpoint_dir: str, **kwargs
) -> PageRankResult:
    """Continue a checkpointed run from its latest snapshot (bit-compatible:
    the resumed trajectory is the same fixpoint iteration, so final scores
    agree with an uninterrupted run to within the convergence tolerance)."""
    from ..sources.tablestore import TableStore

    snap = load_snapshot(spark, checkpoint_dir)
    if snap is None:
        return pagerank(spark, edges, checkpoint_dir=checkpoint_dir, **kwargs)
    iteration, manifest = snap
    store = TableStore(spark, checkpoint_dir, backend=manifest.get("backend"))
    ranks = store.read_table(manifest["ranks_path"])
    prior = [IterationMetrics(**m) for m in manifest["metrics"]]
    return pagerank(
        spark,
        edges,
        checkpoint_dir=checkpoint_dir,
        start_iteration=iteration,
        start_ranks=ranks,
        prior_metrics=prior,
        **kwargs,
    )


def personalized_pagerank(
    spark: SparkSession,
    edges: DataFrame,
    sources: DataFrame | list,
    alpha: float = ALPHA,
    tol: float = DEFAULT_TOL,
    max_iter: int = 100,
    num_partitions: int | None = None,
) -> PageRankResult:
    """Personalized (topic-sensitive) PageRank: both the teleport and the
    dangling-mass redistribution target the ``sources`` set uniformly
    instead of all vertices —

        r' = α·t + (1-α)(Pᵀ r + missing·t),  t = 1/|S| on S, else 0

    Runs ``pagerank``'s loop with the teleport vector t in place of 1/N
    (one observe-fused job per iteration, edge table partitioned once);
    total mass stays 1 because all leaked mass returns to S. ``sources`` may be a DataFrame with an
    ``id`` column or a list of vertex ids; ids not present in the graph
    are ignored (at least one must remain)."""
    if isinstance(sources, (list, tuple, set)):
        sources = spark.createDataFrame(
            [(int(s),) for s in sources], "id long"
        )
    return _pagerank_loop(
        spark, edges, alpha, tol, max_iter, num_partitions, sources=sources
    )


def checksum(ranks: DataFrame, digits: int = 2) -> float:
    """Σ scores rounded — the reference's CheckSumPageRank.java:44-55 report
    (there: Σ exp(log-score) with %.2f through a single reducer)."""
    total = ranks.agg(F.sum("score").alias("s")).first()["s"]
    return round(float(total), digits)


def top_k(ranks: DataFrame, k: int = 100) -> DataFrame:
    """Bounded top-k: Catalyst plans TakeOrderedAndProject — exactly the
    reference's per-mapper heap + single-reducer merge
    (FindMaxPageRankNodes.java:32-95, TopScoredObjects.java:10-62).
    Tie-break: equal scores → ascending id (TopScoredObjects.java:19-29).
    """
    return ranks.orderBy(F.desc("score"), F.asc("id")).limit(k)


def warm_start_pagerank(
    spark: SparkSession,
    edges: DataFrame,
    prior_ranks: DataFrame,
    **kwargs,
) -> PageRankResult:
    """Incremental PageRank for an EVOLVED graph (the daily-crawl path:
    yesterday's converged scores + today's edge table).

    The fixpoint does not depend on the starting vector, only the
    iteration count does — so we project yesterday's scores onto today's
    vertex set (new vertices start at 1/N, departed vertices drop out),
    renormalize total mass to exactly 1 (the §2.12 invariant the loop's
    checksum asserts), and hand the result to ``pagerank(start_ranks=…)``.
    For small daily deltas this converges in a handful of iterations
    instead of tens — the re-crawl cost becomes proportional to how much
    the graph actually moved.
    """
    verts = vertices(edges)
    n = verts.count()
    aligned = (
        verts.join(
            prior_ranks.select("id", F.col("score").alias("prior")), "id", "left"
        )
        .select("id", F.coalesce(F.col("prior"), F.lit(1.0 / n)).alias("score"))
    )
    total = aligned.agg(F.sum("score")).collect()[0][0]
    start = aligned.select("id", (F.col("score") / F.lit(float(total))).alias("score"))
    return pagerank(spark, edges, start_ranks=start, **kwargs)
