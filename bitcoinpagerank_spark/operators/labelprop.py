"""Synchronous label propagation (community detection).

Not in the reference (mandated by the north_rule). Semantics: labels start
as vertex ids; each iteration every vertex adopts the most frequent label
among its neighbors (undirected view), ties broken by the minimum label —
fully deterministic, synchronous updates, fixed iteration cap (LPA has no
convergence guarantee; oscillation is possible, so ``max_iter`` bounds it
and ``changed == 0`` exits early).

Plan shape per iteration: join(labels) → groupBy(vertex,label).count →
window row_number over (count desc, label asc) — all Catalyst built-ins.
Convergence detection costs zero extra jobs: the changed-count rides the
per-iteration checkpoint via observe() (the lineage.run_round pattern), so
each iteration runs one job.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .edges import SRC, DST, undirected_view, vertices
from .lineage import run_round


@dataclass
class LabelPropResult:
    labels: DataFrame  # (id: long, label: long)
    iterations: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)


def label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    max_iter: int = 10,
    num_partitions: int | None = None,
) -> LabelPropResult:
    if num_partitions is None:
        from .edges import default_partitions

        num_partitions = default_partitions(spark, edges)

    und = undirected_view(edges, num_partitions).persist()
    und.count()
    labels = (
        vertices(edges)
        .withColumn("label", F.col("id"))
        .repartition(num_partitions, "id")
        .localCheckpoint(eager=True)
    )

    # every Column of the round is built once here: PySpark pays py4j
    # round trips per Column built, so a round builds only DataFrame ops
    w = Window.partitionBy("vid").orderBy(F.desc("cnt"), F.asc("label"))
    on_src = und[SRC] == F.col("id")
    nbr_cols = [F.col(DST).alias("vid"), F.col("label")]
    by_vid_label = [F.col("vid"), F.col("label")]
    cnt = F.count("*").alias("cnt")
    rn = F.row_number().over(w)
    first = F.col("rn") == 1
    best_cols = [F.col("vid"), F.col("label").alias("new_label")]
    on_vid = F.col("id") == F.col("vid")
    update = [
        F.col("id"),
        F.coalesce(F.col("new_label"), F.col("label")).alias("label"),
        F.col("label").alias("old"),
    ]
    changed = F.sum((F.col("label") != F.col("old")).cast("long"))
    id_label = [F.col("id"), F.col("label")]
    converged = False
    it = 0
    metrics: list[dict] = []
    while it < max_iter:
        with run_round(spark, "lpa", it, "label-propagation round") as rnd:
            nbr = (
                und.join(labels, on_src, "inner")
                .select(*nbr_cols)
                .groupBy(*by_vid_label)
                .agg(cnt)
            )
            best = nbr.withColumn("rn", rn).where(first).select(*best_cols)
            labels = rnd.checkpoint(
                labels.join(best, on_vid, "left").select(*update),
                changed=changed,
            ).select(*id_label)
        it += 1
        metrics.append({"iteration": it, **rnd})
        if rnd["changed"] == 0:
            converged = True
            break
    und.unpersist()
    return LabelPropResult(labels, it, converged, metrics)
