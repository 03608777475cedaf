"""Sampled betweenness centrality (Brandes).

Not in the reference (breadth op — "which pages sit on the most shortest
paths", the classic brokerage centrality). Exact betweenness is
O(|V|·|E|); the standard scalable form (Brandes' sampled estimator) runs
the two Brandes phases from a SEED SAMPLE and scales the sums — the same
sampling contract as ``harmonic_centrality``.

Phases, both level-synchronous driver loops (rounds = diameter from the
seed set, the BFS loop contract — one observe-fused job per round,
shuffle-byte lineage):

1. Forward: labeled BFS that also accumulates sigma — the NUMBER of
   shortest s→v paths — per (seed, vertex): a frontier vertex's sigma is
   the sum of its same-seed predecessors' sigmas (groupBy after the
   frontier⋈edges join; plain BFS only needs distinct).
2. Backward: walk the levels deepest-first accumulating dependencies
   delta(v) = Σ_{w ∈ succ(v)} sigma(v)/sigma(w) · (1 + delta(w)).
   Betweenness(v) = Σ_{s ∈ S, v ≠ s} delta_s(v). Directed convention
   (no /2); multiply by |V|/|S| for the unbiased estimate of the exact
   directed score.

State is O(|S|·|V|) rows like labeled BFS — seeds are a sample.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .edges import BROADCAST_HINT_MAX, DST, SRC
from .lineage import run_round


@dataclass
class BetweennessResult:
    scores: DataFrame  # (id: long, betweenness: double)
    levels: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)


def _forward(spark, e, sources, num_partitions, max_iter, metrics):
    """(src, id, dist, sigma) for every seed-reachable vertex."""
    dist = (
        sources.select(F.col("id").cast("long").alias("src"))
        .distinct()
        .select(
            "src",
            F.col("src").alias("id"),
            F.lit(0).cast("long").alias("dist"),
            F.lit(1.0).alias("sigma"),
        )
        .repartition(num_partitions, "id")
        .localCheckpoint(eager=True)
    )
    frontier = dist
    settled = f_cnt = dist.count()
    it = 0
    converged = False
    while it < max_iter:
        with run_round(spark, "btw_fwd", it, "betweenness forward round") as rnd:
            # deterministic broadcast hints on the loop-tracked small sides
            # (edges.py BROADCAST_HINT_MAX rationale — the bfs.py pattern)
            f_side = frontier.select(F.col("id").alias(SRC), "src", "dist", "sigma")
            if f_cnt <= BROADCAST_HINT_MAX:
                f_side = F.broadcast(f_side)
            anti_side = dist.select("src", "id")
            if settled <= BROADCAST_HINT_MAX:
                anti_side = F.broadcast(anti_side)
            reached = (
                e.join(f_side, SRC)
                .select("src", F.col(DST).alias("id"),
                        (F.col("dist") + 1).alias("dist"), "sigma")
                .join(anti_side, ["src", "id"], "left_anti")
                .groupBy("src", "id", "dist")
                .agg(F.sum("sigma").alias("sigma"))
            )
            new_frontier = rnd.checkpoint(reached, frontier=F.count(F.lit(1)))
        cnt = rnd["frontier"]
        it += 1
        metrics.append({"phase": "forward", "iteration": it, **rnd})
        if cnt == 0:
            converged = True
            break
        dist = dist.unionByName(new_frontier).localCheckpoint(eager=True)
        frontier = new_frontier
        f_cnt = cnt
        settled += cnt
    return dist, it, converged


def betweenness_centrality(
    spark: SparkSession,
    edges: DataFrame,
    sources: DataFrame | list,
    max_iter: int = 100,
    num_partitions: int | None = None,
) -> BetweennessResult:
    """Directed sampled betweenness from the seed set (unnormalized —
    the raw Σ_s delta_s; callers scale by |V|/|S| for the estimator)."""
    if num_partitions is None:
        from .edges import default_partitions

        num_partitions = default_partitions(spark, edges)
    if not isinstance(sources, DataFrame):
        sources = spark.createDataFrame([(int(s),) for s in sources], "id long")

    e = (
        edges.select(SRC, DST)
        .where(F.col(SRC).isNotNull() & F.col(DST).isNotNull())
        .where(F.col(SRC) != F.col(DST))
        # one exchange: hash(src) satisfies the distinct's (src, dst)
        # clustering (components.py has the A/B)
        .repartition(num_partitions, SRC)
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )

    metrics: list[dict] = []
    bfs, fwd_rounds, converged = _forward(
        spark, e, sources, num_partitions, max_iter, metrics
    )
    max_d = bfs.agg(F.max("dist")).collect()[0][0] or 0

    # Backward sweep: delta rows accumulate level by level, deepest first.
    # Vertices at the deepest level have no successors → delta = 0; we
    # materialize only non-zero contributions and coalesce at the end.
    delta = bfs.select("src", "id", "dist", "sigma").withColumn(
        "delta", F.lit(0.0)
    ).localCheckpoint(eager=True)
    for level in range(max_d, 0, -1):
        with run_round(spark, "btw_bwd", level, "betweenness backward level") as rnd:
            # successors at `level` push (sigma_v/sigma_w)·(1+delta_w) to
            # their same-seed predecessors at level-1
            succ = delta.where(F.col("dist") == level).select(
                "src", F.col("id").alias("w"), F.col("sigma").alias("sigma_w"),
                F.col("delta").alias("delta_w"),
            )
            contrib = (
                e.join(succ.withColumnRenamed("w", DST), DST)
                .select("src", F.col(SRC).alias("id"),
                        (F.lit(1.0) + F.col("delta_w")).alias("t"),
                        "sigma_w")
                .join(
                    delta.where(F.col("dist") == level - 1)
                    .select("src", "id", F.col("sigma").alias("sigma_v")),
                    ["src", "id"],
                )
                .groupBy("src", "id")
                .agg(F.sum(F.col("sigma_v") / F.col("sigma_w") * F.col("t"))
                     .alias("add"))
            )
            delta = rnd.checkpoint(
                delta.join(contrib, ["src", "id"], "left").select(
                    "src", "id", "dist", "sigma",
                    (F.col("delta") + F.coalesce(F.col("add"), F.lit(0.0)))
                    .alias("delta"),
                ),
                rows=F.count(F.lit(1)),
            )
        metrics.append({"phase": "backward", "level": level, **rnd})

    scores = (
        delta.where(F.col("dist") > 0)  # v == s contributes nothing
        .groupBy("id")
        .agg(F.sum("delta").alias("betweenness"))
    )
    return BetweennessResult(scores, fwd_rounds + max_d, converged, metrics)
