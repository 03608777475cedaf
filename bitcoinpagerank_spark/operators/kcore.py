"""K-core decomposition by iterative peeling.

Not in the reference (breadth operator for link-graph analytics, same
family as WCC/LPA/triangles). The k-core is the maximal subgraph where
every vertex has undirected degree ≥ k; computed by repeatedly deleting
vertices of degree < k until stable — the standard distributed
formulation (each round: one degree aggregate + two semi-joins, all
Catalyst). Rounds = peeling depth (worst case O(n) on a path with k=2;
typically a handful on web graphs). Convergence detection rides the
per-round eager localCheckpoint via observe() — zero extra jobs, the
lineage.run_round pattern.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .edges import SRC, DST, undirected_view
from .lineage import run_round


@dataclass
class KCoreResult:
    vertices: DataFrame  # (id: long, degree: long) — degree within the core
    iterations: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)


def k_core(
    spark: SparkSession,
    edges: DataFrame,
    k: int,
    max_iter: int = 100,
    num_partitions: int | None = None,
) -> KCoreResult:
    if k < 1:
        raise ValueError("k must be >= 1")
    if num_partitions is None:
        from .edges import default_partitions

        num_partitions = default_partitions(spark, edges)

    # symmetric closure: every undirected edge appears in both directions,
    # so groupBy(src) counts the full undirected degree
    pairs = (
        undirected_view(edges, num_partitions)
        .localCheckpoint(eager=True)
    )

    converged = False
    it = 0
    prev_cnt: int | None = None
    metrics: list[dict] = []
    while it < max_iter:
        with run_round(spark, "kcore", it, "k-core peel round") as rnd:
            keep = (
                pairs.groupBy(F.col(SRC).alias("id"))
                .agg(F.count("*").alias("deg"))
                .where(F.col("deg") >= k)
                .select("id")
            )
            pairs = rnd.checkpoint(
                pairs.join(keep.withColumnRenamed("id", SRC), SRC, "left_semi")
                .join(keep.withColumnRenamed("id", DST), DST, "left_semi"),
                pairs=F.count(F.lit(1)),
            )
        cnt = rnd["pairs"]
        it += 1
        metrics.append({"iteration": it, **rnd})
        if cnt == prev_cnt or cnt == 0:
            converged = True
            break
        prev_cnt = cnt

    core = (
        pairs.groupBy(F.col(SRC).alias("id"))
        .agg(F.count("*").alias("degree"))
        .where(F.col("degree") >= k)
    )
    return KCoreResult(core, it, converged, metrics)


def core_numbers(
    spark: SparkSession,
    edges: DataFrame,
    max_iter: int = 100,
    num_partitions: int | None = None,
) -> KCoreResult:
    """Full coreness decomposition: (id, core) where core(v) is the
    largest k such that v belongs to the k-core.

    Distributed h-index iteration (Montresor et al., "Distributed k-core
    decomposition"): core(v) starts at degree(v) and repeatedly becomes
    the h-index of its neighbors' current values — the largest h such
    that ≥ h neighbors have core ≥ h — which is monotonically
    non-increasing and converges exactly to the coreness. Per round: one
    join + one per-vertex window (h = max(min(rank, value)) over
    neighbor values sorted descending) + a min — all Catalyst; the
    changed-count rides the eager localCheckpoint via observe().
    Typically converges in a few rounds on web graphs (bounded by the
    longest strictly-decreasing correction chain)."""
    from pyspark.sql import Window

    if num_partitions is None:
        from .edges import default_partitions

        num_partitions = default_partitions(spark, edges)

    und = (
        undirected_view(edges, num_partitions)
        .persist()
    )
    und.count()
    core = (
        und.groupBy(F.col(SRC).alias("id"))
        .agg(F.count("*").alias("core"))
        .repartition(num_partitions, "id")
        .localCheckpoint(eager=True)
    )

    w = Window.partitionBy("vid").orderBy(F.desc("c"), F.asc("nid"))
    converged = False
    it = 0
    metrics: list[dict] = []
    while it < max_iter:
        with run_round(spark, "coreness", it, "coreness h-index round") as rnd:
            nbr = und.join(
                core.select(F.col("id").alias(SRC), "core"), SRC
            ).select(
                F.col(DST).alias("vid"),
                F.col(SRC).alias("nid"),
                F.col("core").alias("c"),
            )
            h = (
                nbr.withColumn("rn", F.row_number().over(w))
                .select("vid", F.least(F.col("rn"), F.col("c")).alias("cand"))
                .groupBy("vid")
                .agg(F.max("cand").alias("h"))
            )
            core = rnd.checkpoint(
                core.join(h, core["id"] == h["vid"], "inner").select(
                    "id",
                    F.least(F.col("core"), F.col("h")).alias("core"),
                    F.col("core").alias("old"),
                ),
                changed=F.sum((F.col("core") != F.col("old")).cast("long")),
            ).select("id", "core")
        it += 1
        metrics.append({"iteration": it, **rnd})
        if rnd["changed"] == 0:
            converged = True
            break
    und.unpersist()
    return KCoreResult(
        core.select("id", F.col("core").alias("degree")), it, converged, metrics
    )
