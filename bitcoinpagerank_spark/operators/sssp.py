"""Weighted single-source shortest paths — frontier-limited Bellman-Ford.

Not in the reference (whose only traversal is PageRank); breadth op in
the bfs.py family, upgraded to nonnegative edge weights. Per round only
the FRONTIER — vertices whose distance improved in the previous round —
pushes relaxations across the edge table:

    d'(v) = min( d(v),  min_{u→v, u ∈ frontier} d(u) + w(u,v) )

Semantics are identical to full-table Bellman-Ford: a vertex whose
distance did not change in round r−1 proposes exactly the candidates it
already proposed when it last improved, and those were min-merged then —
so after k rounds d(v) is still exactly the cheapest path using ≤ k
edges, the property the fixed-round DuckDB oracle unrolls (a hop-bounded
recursive CTE). The cost drops from k·|E| join work to Σ_r |frontier_r|·deg
— on diameter-dozens web graphs where late frontiers are a sliver of V,
this is the difference between hours and minutes at 100 TB (the same
frontier contract ``bfs.py`` has always used).

With nonnegative weights the fixpoint is Dijkstra's answer; convergence
(zero improvements in a round) is detected by an ``observe()``d
improvement count riding the round's eager localCheckpoint — one job per
round, the pagerank.py loop contract. A second observe on the pre-agg
candidate stream records per-round relaxed-edge counts in the metrics.

Plan per round: one equi-join (edges ⋈ frontier on src, the edge table
partitioned once by src) + one by-dst min-aggregate + one outer merge
with the previous table — frontier- or vertex-sized, no driver data.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .edges import BROADCAST_HINT_MAX, DST, SRC, default_partitions
from .lineage import run_round


@dataclass
class SsspResult:
    distances: DataFrame  # (id, dist) — reachable vertices only
    rounds: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)


def sssp(
    spark: SparkSession,
    edges: DataFrame,
    source: int,
    weight_col: str | None = None,
    max_rounds: int = 100,
    num_partitions: int | None = None,
) -> SsspResult:
    """``weight_col`` None → unit weights (plain BFS distances). Raises on
    any negative weight seen at relax time (Bellman-Ford would need the
    V-round negative-cycle protocol; web-graph weights are counts/costs,
    always nonnegative)."""
    if num_partitions is None:
        num_partitions = default_partitions(spark, edges)
    w = (
        F.col(weight_col).cast("double")
        if weight_col
        else F.lit(1.0)
    )
    e = (
        edges.select(
            SRC,
            DST,
            F.when(w >= 0, w).alias("w"),  # null marks negatives
        )
        .where(F.col(SRC).isNotNull() & F.col(DST).isNotNull())
        .repartition(num_partitions, SRC)
        .persist()
    )
    if e.where(F.col("w").isNull()).limit(1).count() > 0:
        e.unpersist()
        raise ValueError("sssp requires nonnegative edge weights")

    dist = spark.createDataFrame(
        [(int(source), 0.0)], "id long, dist double"
    ).repartition(num_partitions, "id").localCheckpoint(eager=True)
    frontier = dist  # vertices improved last round — only they relax
    f_cnt = 1  # frontier size is last round's improved count — known free

    metrics: list[dict] = []
    converged = False
    rounds = 0
    for r in range(max_rounds):
        with run_round(spark, "sssp", r, "SSSP relax round") as rnd:
            f_side = frontier.select(F.col("id").alias(SRC), "dist")
            if f_cnt <= BROADCAST_HINT_MAX:
                # deterministic hint: the checkpoint's inflated size estimate
                # would otherwise shuffle the edge table against a frontier the
                # loop KNOWS is small (edges.py BROADCAST_HINT_MAX rationale)
                f_side = F.broadcast(f_side)
            # the relax count is observed on an inner node; it reads 0 when
            # AQE skips that node's empty subtree (the frontier's last vertex
            # has no out-edges)
            cand = rnd.observe(
                e.join(f_side, SRC).select(
                    F.col(DST).alias("id"), (F.col("dist") + F.col("w")).alias("cand")
                ),
                relaxed_edges=F.count(F.lit(1)),
            )
            relaxed = cand.groupBy("id").agg(F.min("cand").alias("cand"))
            merged = rnd.checkpoint(
                dist.join(relaxed, "id", "full_outer").select(
                    "id",
                    F.least(
                        F.coalesce("dist", F.lit(float("inf"))),
                        F.coalesce("cand", F.lit(float("inf"))),
                    ).alias("dist"),
                    (
                        F.col("dist").isNull()
                        | (F.col("cand") < F.col("dist"))
                    ).cast("int").alias("improved"),
                ),
                improved=F.sum("improved"),
            )
        improved = rnd["improved"]
        dist = merged.select("id", "dist")
        # next frontier: filter on the already-materialized checkpoint
        frontier = merged.where(F.col("improved") == 1).select("id", "dist")
        f_cnt = improved
        rounds = r + 1
        metrics.append({"round": rounds, **rnd})
        if improved == 0:
            converged = True
            break
    e.unpersist()
    return SsspResult(dist, rounds, converged, metrics)
