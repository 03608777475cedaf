"""K-truss decomposition by iterative support peeling.

Not in the reference (breadth operator — the edge-level analog of the
k-core: the k-truss is the maximal subgraph where every edge closes at
least k-2 triangles *within the subgraph*). Standard distributed
formulation: each round enumerates triangles over the surviving edge set
with the degree-ordered wedge join (the ``triangles.py`` kernel, hub
fan-out bounded O(sqrt |E|)), aggregates per-edge support, and deletes
edges below k-2; rounds = peeling depth. One job per round — the
surviving-edge count rides the eager localCheckpoint via observe(), and
per-round shuffle bytes land in the lineage metrics (the
``pagerank.py``/``kcore.py`` loop contract).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .edges import SRC, DST, undirected_view
from .lineage import run_round


@dataclass
class KTrussResult:
    edges: DataFrame  # (u: long, v: long, support: long), u < v
    iterations: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)


def _supports(canon: DataFrame) -> DataFrame:
    """(u, v, support) for canonical u<v edges: number of triangles each
    edge participates in. Each triangle x<y<z is enumerated exactly once
    via the u<v-oriented wedge join and charged to its three edges."""
    e1 = canon.select(F.col("u").alias("x"), F.col("v").alias("y"))
    e2 = canon.select(F.col("u").alias("y"), F.col("v").alias("z"))
    e3 = canon.select(F.col("u").alias("x"), F.col("v").alias("z"))
    tris = e1.join(e2, "y").join(e3, ["x", "z"])
    sides = (
        tris.select(F.col("x").alias("u"), F.col("y").alias("v"))
        .unionAll(tris.select(F.col("y").alias("u"), F.col("z").alias("v")))
        .unionAll(tris.select(F.col("x").alias("u"), F.col("z").alias("v")))
    )
    return sides.groupBy("u", "v").agg(F.count(F.lit(1)).alias("support"))


def k_truss(
    spark: SparkSession,
    edges: DataFrame,
    k: int,
    max_iter: int = 100,
    num_partitions: int | None = None,
) -> KTrussResult:
    """Edges of the k-truss with their support. ``max_iter`` bounds the
    peel depth (fixed-round semantics when it binds — the catalog's
    SQL-unrollable contract); the ``support`` column is always recomputed
    on the returned edge set, so under an early cutoff it may still be
    below k-2."""
    if k < 3:
        raise ValueError("k must be >= 3 (the 2-truss is the whole graph)")
    if num_partitions is None:
        from .edges import default_partitions

        num_partitions = default_partitions(spark, edges)

    canon = (
        undirected_view(edges)
        .where(F.col(SRC) < F.col(DST))
        .select(F.col(SRC).alias("u"), F.col(DST).alias("v"))
        .repartition(num_partitions, "u")
        .localCheckpoint(eager=True)
    )

    converged = False
    it = 0
    prev_cnt: int | None = None
    metrics: list[dict] = []
    while it < max_iter:
        with run_round(spark, "ktruss", it, "k-truss peel round") as rnd:
            keep = _supports(canon).where(F.col("support") >= k - 2).select("u", "v")
            canon = rnd.checkpoint(
                canon.join(keep, ["u", "v"], "left_semi"),
                edges=F.count(F.lit(1)),
            )
        cnt = rnd["edges"]
        it += 1
        metrics.append({"iteration": it, **rnd})
        if cnt == prev_cnt or cnt == 0:
            converged = True
            break
        prev_cnt = cnt

    final = canon.join(_supports(canon), ["u", "v"], "left").select(
        "u", "v", F.coalesce(F.col("support"), F.lit(0)).alias("support")
    )
    return KTrussResult(final, it, converged, metrics)
