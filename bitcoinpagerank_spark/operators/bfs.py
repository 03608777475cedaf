"""Single-source (or multi-source) BFS hop distances.

Not in the reference (breadth operator in the same family as WCC/LPA —
"how many clicks from the seed set is every page"). Standard distributed
frontier expansion: dist holds the settled vertices, the frontier is
joined against the out-edges each round, newly reached vertices get
dist+1. One job per round (the frontier count rides the round's
checkpoint via observe(), the lineage.run_round pattern); rounds = graph
diameter from the seed set. All Catalyst: two hash joins + a distinct per
round on frontier-sized inputs — the |E|-scale edge table is partitioned
by src once and reused.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .edges import BROADCAST_HINT_MAX, DST, SRC
from .lineage import run_round


@dataclass
class BfsResult:
    # (id, dist) from bfs_distances, (src, id, dist) from labeled_bfs —
    # reachable vertices only
    distances: DataFrame
    iterations: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)


def bfs_distances(
    spark: SparkSession,
    edges: DataFrame,
    sources: DataFrame | list,
    max_iter: int = 100,
    num_partitions: int | None = None,
) -> BfsResult:
    """Hop distance from the seed set along edge direction; unreachable
    vertices are absent from the result (callers left-join against the
    vertex table if they want nulls). The ``labeled_bfs`` loop with one
    label shared by every seed, so each vertex settles at its minimum
    distance over all seeds."""
    res = _frontier_bfs(spark, edges, sources, F.lit(0), max_iter, num_partitions)
    res.distances = res.distances.select("id", "dist")
    return res


def labeled_bfs(
    spark: SparkSession,
    edges: DataFrame,
    sources: DataFrame | list,
    max_iter: int = 100,
    num_partitions: int | None = None,
) -> BfsResult:
    """Per-source hop distances: (src, id, dist) for every (seed, vertex)
    pair with a directed path seed→vertex. State is O(|S|·|V|) — callers
    pass a seed SAMPLE (the Eppstein-Wang estimator regime), not the full
    vertex set."""
    return _frontier_bfs(spark, edges, sources, F.col("id"), max_iter, num_partitions)


def _frontier_bfs(spark, edges, sources, label, max_iter, num_partitions):
    """The frontier loop: (src, id, dist) rows, each seed ``id`` starting
    under the label ``src`` = ``label`` and each label expanded along
    edge direction on its own.

    The loop observes the frontier count every round anyway, so the
    frontier join and the settled-set anti-join carry deterministic
    ``F.broadcast`` hints while those tables are ≤ BROADCAST_HINT_MAX
    rows — each checkpoint's default size estimate would otherwise force
    a full shuffle join per round (the SCC r5 finding)."""
    if num_partitions is None:
        from .edges import default_partitions

        num_partitions = default_partitions(spark, edges)
    if not isinstance(sources, DataFrame):
        sources = spark.createDataFrame([(int(s),) for s in sources], "id long")
    e = (
        edges.select(SRC, DST)
        .where(F.col(SRC).isNotNull() & F.col(DST).isNotNull())
        .repartition(num_partitions, SRC)
        .localCheckpoint(eager=True)
    )
    dist = (
        sources.select(label.cast("long").alias("src"),
                       F.col("id").cast("long").alias("id"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .repartition(num_partitions, "id")
        .localCheckpoint(eager=True)
    )
    frontier = dist
    settled = f_cnt = dist.count()

    converged = False
    it = 0
    metrics: list[dict] = []
    while it < max_iter:
        with run_round(spark, "bfs", it, "BFS frontier round") as rnd:
            # expand: out-neighbors of the frontier not yet settled
            f_side = frontier.select(F.col("id").alias(SRC), "src", "dist")
            if f_cnt <= BROADCAST_HINT_MAX:
                f_side = F.broadcast(f_side)
            anti_side = dist.select("src", "id")
            if settled <= BROADCAST_HINT_MAX:
                anti_side = F.broadcast(anti_side)
            reached = (
                e.join(f_side, SRC)
                .select("src", F.col(DST).alias("id"), (F.col("dist") + 1).alias("dist"))
                .distinct()
                .join(anti_side, ["src", "id"], "left_anti")
            )
            new_frontier = rnd.checkpoint(reached, frontier=F.count(F.lit(1)))
        cnt = rnd["frontier"]
        it += 1
        metrics.append({"iteration": it, **rnd})
        if cnt == 0:
            converged = True
            break
        dist = dist.unionByName(new_frontier).localCheckpoint(eager=True)
        frontier = new_frontier
        f_cnt = cnt
        settled += cnt
    return BfsResult(dist, it, converged, metrics)


def harmonic_centrality(
    spark: SparkSession,
    edges: DataFrame,
    sources: DataFrame | list,
    max_iter: int = 100,
    num_partitions: int | None = None,
) -> DataFrame:
    """(id, harmonic, n_sources) — inbound harmonic centrality estimated
    from a seed sample: harmonic(v) = Σ_{s ∈ S, s≠v, s→v} 1/d(s, v)
    (the Eppstein-Wang sampled estimator; exact when S = all vertices).
    One labeled BFS + one aggregate."""
    res = labeled_bfs(spark, edges, sources, max_iter, num_partitions)
    return (
        res.distances.where(F.col("dist") > 0)
        .groupBy("id")
        .agg(
            F.sum(F.lit(1.0) / F.col("dist")).alias("harmonic"),
            F.count(F.lit(1)).alias("n_sources"),
        )
    )


def closeness_centrality(
    spark: SparkSession,
    edges: DataFrame,
    sources: DataFrame | list,
    max_iter: int = 100,
    num_partitions: int | None = None,
) -> DataFrame:
    """(id, closeness, sum_dist, n_sources) — inbound closeness
    centrality estimated from a seed sample: closeness(v) =
    |S_v| / Σ_{s ∈ S_v} d(s, v) over the seeds S_v that reach v (the
    sampled analog of the classic (n-1)/Σd definition; exact when S =
    all vertices). Same one-labeled-BFS + one-aggregate shape as
    ``harmonic_centrality`` — harmonic rewards being near ANY seed,
    closeness penalizes total distance."""
    res = labeled_bfs(spark, edges, sources, max_iter, num_partitions)
    return (
        res.distances.where(F.col("dist") > 0)
        .groupBy("id")
        .agg(
            (F.count(F.lit(1)) / F.sum("dist")).alias("closeness"),
            F.sum("dist").alias("sum_dist"),
            F.count(F.lit(1)).alias("n_sources"),
        )
    )


def eccentricity_sample(
    spark: SparkSession,
    edges: DataFrame,
    sources: DataFrame | list,
    max_iter: int = 100,
    num_partitions: int | None = None,
) -> DataFrame:
    """(src, eccentricity, n_reached) — forward eccentricity per seed:
    the max hop distance over the seed's reachable set (0 if the seed
    reaches nothing). One labeled BFS + one per-seed aggregate; seeds are
    a sample, making this the standard scalable diameter lower-bound
    probe (exact all-pairs eccentricity is O(V·E) and not a 100 TB op)."""
    res = labeled_bfs(spark, edges, sources, max_iter, num_partitions)
    return res.distances.groupBy("src").agg(
        F.max("dist").alias("eccentricity"),
        (F.count(F.lit(1)) - 1).alias("n_reached"),
    )


def effective_diameter(
    spark: SparkSession,
    edges: DataFrame,
    sources: DataFrame | list,
    q: float = 0.9,
    max_iter: int = 100,
    num_partitions: int | None = None,
) -> DataFrame:
    """1-row (n_pairs, diameter_lb, effective_diameter) over the sampled
    (seed, vertex) distance distribution: diameter_lb = max observed
    distance, effective_diameter = interpolated q-quantile (classic
    ANF/HyperANF summary statistic, here exact over the seed sample)."""
    res = labeled_bfs(spark, edges, sources, max_iter, num_partitions)
    d = res.distances.where(F.col("dist") > 0)
    return d.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.max("dist").alias("diameter_lb"),
        F.percentile(F.col("dist"), F.lit(q)).alias("effective_diameter"),
    )
