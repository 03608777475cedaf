"""HITS (hubs and authorities, Kleinberg 1999) — link-analysis breadth
operator alongside PageRank.

Per iteration (synchronous, L1-normalized so scores are comparable and
SQL-portable — the classical L2 variant differs only by the norm):

    a'(v) = Σ_{u→v} h(u) / Σ a'      h'(u) = Σ_{u→v} a'(v) / Σ h'

Execution shape: two jobs per iteration — each half-step is one
edge-table join + by-key sum whose GLOBAL normalizer rides the eager
localCheckpoint via observe() (the lineage.run_round pattern), and the
division by that scalar folds lazily into the next half-step's scan, so
normalization costs zero extra passes. The edge table is partitioned once
by src (the authority step's join key); only vertex-sized tables move.

Fixed iteration count (the reference's own PageRank runs a fixed range,
RunPageRankBasic.java:329-331; HITS is conventionally run to a fixed k).
Vertices with no in-links get authority 0; no out-links → hub 0.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .edges import SRC, DST, default_partitions, vertices
from .lineage import run_round


@dataclass
class HitsResult:
    scores: DataFrame  # (id: long, hub: double, authority: double)
    iterations: int
    metrics: list[dict] = field(default_factory=list)


def hits(
    spark: SparkSession,
    edges: DataFrame,
    max_iter: int = 10,
    num_partitions: int | None = None,
) -> HitsResult:
    if max_iter < 1:
        raise ValueError("HITS needs max_iter >= 1")
    if num_partitions is None:
        num_partitions = default_partitions(spark, edges)

    e = (
        edges.select(SRC, DST)
        .where(F.col(SRC).isNotNull() & F.col(DST).isNotNull())
        .repartition(num_partitions, SRC)
        .persist()
    )
    e.count()
    verts = vertices(edges).repartition(num_partitions, "id").persist()
    n = verts.count()
    if n == 0:
        raise ValueError("HITS on an empty graph")

    h = verts.withColumn("score", F.lit(1.0 / n)).localCheckpoint(eager=True)
    a = None
    metrics: list[dict] = []
    for it in range(1, max_iter + 1):
        with run_round(spark, "hits", it, "HITS half-steps") as rnd:
            # authority half-step: raw in-sums, normalizer observed on the
            # checkpoint, division applied lazily on the checkpointed rows.
            # Stats-resetting checkpoints: each half-step references the
            # other table's checkpoint, compounding the size estimate
            # x2/iteration (236 digits after 8 iters measured)
            a_raw = rnd.checkpoint(
                e.join(h.select(F.col("id").alias(SRC), "score"), SRC)
                .groupBy(F.col(DST).alias("id"))
                .agg(F.sum("score").alias("raw")),
                reset_stats=True,
                authority_norm=F.sum("raw"),
            )
            sa = rnd["authority_norm"] = float(rnd["authority_norm"]) or 1.0
            a = verts.join(a_raw, "id", "left").select(
                "id", (F.coalesce(F.col("raw"), F.lit(0.0)) / F.lit(sa)).alias("score")
            )
            # hub half-step
            h_raw = rnd.checkpoint(
                e.join(a.select(F.col("id").alias(DST), "score"), DST)
                .groupBy(F.col(SRC).alias("id"))
                .agg(F.sum("score").alias("raw")),
                reset_stats=True,
                hub_norm=F.sum("raw"),
            )
            sh = rnd["hub_norm"] = float(rnd["hub_norm"]) or 1.0
        h = verts.join(h_raw, "id", "left").select(
            "id", (F.coalesce(F.col("raw"), F.lit(0.0)) / F.lit(sh)).alias("score")
        )
        metrics.append({"iteration": it, **rnd})

    scores = (
        h.select("id", F.col("score").alias("hub"))
        .join(a.select("id", F.col("score").alias("authority")), "id", "left")
        .select("id", "hub", F.coalesce("authority", F.lit(0.0)).alias("authority"))
    )
    e.unpersist()
    verts.unpersist()
    return HitsResult(scores, max_iter, metrics)
