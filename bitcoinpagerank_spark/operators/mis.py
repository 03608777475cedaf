"""Luby-style maximal independent set (MIS) — O(log n) expected rounds.

Not in the reference; breadth op in the same peel-loop family as k-core
(`kcore.py`) and k-truss. MIS is the classic symmetry-breaking primitive
(scheduling, graph coloring seeds, landmark selection) and the canonical
example of a fixpoint Catalyst cannot express — the driver loop + eager
localCheckpoint shape from pagerank.py applies unchanged.

Per round r over the residual graph:

* every active vertex draws a deterministic priority
  ``p(v, r) = (v·A + r·B + C) mod M`` (LCG arithmetic, so runs and the
  DuckDB oracle replay identical draws — ``rand()`` would never match),
* a vertex joins the MIS iff its (p, id) pair is strictly smaller than
  every active neighbor's (ties impossible: id breaks them), or it has no
  active neighbors,
* winners and their neighbors leave the active set; residual edges are
  re-restricted to active×active.

Each round costs: one neighbor-min hash agg, one winner join, one
neighbor expansion, two semi-joins — all key-partitioned, no driver-side
data. Round count and removed-vertex counts ride ``observe()`` on the
round's checkpoint; shuffle bytes land in the lineage rows.

The Spark side compares ``struct(p, id)`` (scale-safe for 64-bit hashed
ids); the SQL oracle encodes the pair as ``p·2^20 + id`` which is
equivalent while ids < 2^20 (true for every fixture scale).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .edges import SRC, DST, default_partitions, undirected_view, vertices
from .lineage import run_round

MIS_A = 1_103_515_245
MIS_B = 777_771
MIS_C = 12_345
MIS_M = 1_000_003


@dataclass
class MisResult:
    # (id, status) — 'mis' | 'out' ('active' only if max_rounds hit first)
    labels: DataFrame
    rounds: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)


def _priority(r: int):
    return (F.col("id") * MIS_A + r * MIS_B + MIS_C) % MIS_M


def maximal_independent_set(
    spark: SparkSession,
    edges: DataFrame,
    max_rounds: int = 30,
    num_partitions: int | None = None,
) -> MisResult:
    if num_partitions is None:
        num_partitions = default_partitions(spark, edges)

    verts = vertices(edges).repartition(num_partitions, "id").persist()
    n = verts.count()
    if n == 0:
        verts.unpersist()
        raise ValueError("MIS on an empty graph")
    # symmetric closure built with the repartition BEFORE the dedup:
    # hash(src) satisfies the distinct's (src, dst) clustering, so one
    # exchange replaces undirected_view()'s distinct + the repartition
    # (components.py has the A/B); same set as undirected_view
    raw = edges.select(SRC, DST).unionByName(
        edges.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST))
    )
    sym = (
        raw.where(F.col(SRC) != F.col(DST))
        .repartition(num_partitions, SRC)
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    active = verts.select("id").localCheckpoint(eager=True)
    # winner sets accumulate as a list of per-round checkpointed frames,
    # unioned lazily at the end (the SCC settled_frames pattern) — the
    # running mis table is never consumed inside the loop, so re-unioning
    # + re-checkpointing it every round was one pure-overhead job/round
    mis_frames: list[DataFrame] = []
    metrics: list[dict] = []
    converged = False
    rounds = 0
    for r in range(max_rounds):
        with run_round(spark, "mis", r, "MIS round") as rnd:
            pri = active.select(
                "id", F.struct(_priority(r).alias("p"), "id").alias("key")
            )
            nbr_min = (
                sym.join(pri.select(F.col("id").alias(DST), "key"), DST)
                .groupBy(F.col(SRC).alias("id"))
                .agg(F.min("key").alias("nkey"))
            )
            winners = rnd.checkpoint(
                pri.join(nbr_min, "id", "left")
                .where(F.col("nkey").isNull() | (F.col("key") < F.col("nkey")))
                .select("id"),
                winners=F.count(F.lit(1)),
            )
            mis_frames.append(winners)
            removed = winners.unionByName(
                sym.join(winners.withColumnRenamed("id", SRC), SRC).select(
                    F.col(DST).alias("id")
                )
            ).distinct()
            active = rnd.checkpoint(
                active.join(removed, "id", "left_anti"),
                active_after=F.count(F.lit(1)),
            )
            sym = rnd.checkpoint(
                sym.join(active.withColumnRenamed("id", SRC), SRC, "left_semi")
                .join(active.withColumnRenamed("id", DST), DST, "left_semi")
            )
        rounds = r + 1
        metrics.append({"round": rounds, **rnd})
        if rnd["active_after"] == 0:
            converged = True
            break

    mis = mis_frames[0] if mis_frames else spark.createDataFrame([], "id long")
    for frame in mis_frames[1:]:
        mis = mis.unionByName(frame)
    labels = (
        verts.join(mis.withColumn("__m", F.lit(1)), "id", "left")
        .join(active.withColumn("__a", F.lit(1)), "id", "left")
        .select(
            "id",
            F.when(F.col("__m").isNotNull(), F.lit("mis"))
            .when(F.col("__a").isNotNull(), F.lit("active"))
            .otherwise(F.lit("out"))
            .alias("status"),
        )
    )
    verts.unpersist()
    return MisResult(labels, rounds, converged, metrics)


@dataclass
class ColoringResult:
    colors: DataFrame  # (id, color int); color -1 = uncolored (only when
    # converged is False — max_colors exhausted before the residual emptied)
    n_colors: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)


def greedy_coloring(
    spark: SparkSession,
    edges: DataFrame,
    max_colors: int = 50,
    num_partitions: int | None = None,
) -> ColoringResult:
    """Graph coloring by iterated MIS (Luby/Jones-Plassmann family):
    color c = a maximal independent set of the residual graph, residual =
    edges among still-uncolored vertices. MIS maximality guarantees every
    uncolored vertex loses ≥1 neighbor per color, so vertex v is colored
    by round deg(v)+1 → at most Δ+1 colors. Deterministic end-to-end
    (inherits the LCG priorities).

    The distributed-systems use case: a valid coloring partitions
    vertices into conflict-free waves for asynchronous updates.
    """
    if num_partitions is None:
        num_partitions = default_partitions(spark, edges)
    residual = (
        undirected_view(edges, num_partitions)
        .localCheckpoint(eager=True)
    )
    uncolored = vertices(edges).repartition(num_partitions, "id").persist()
    if uncolored.count() == 0:
        uncolored.unpersist()
        raise ValueError("coloring on an empty graph")
    colored = spark.createDataFrame([], "id long, color int")
    metrics: list[dict] = []
    converged = False
    n_colors = 0
    for c in range(max_colors):
        t0 = time.monotonic()
        if residual.limit(1).count() == 0:
            # remaining vertices are pairwise non-adjacent: one last color
            rest = uncolored.withColumn("color", F.lit(c))
            cnt = rest.count()
            if cnt:
                colored = colored.unionByName(rest).localCheckpoint(eager=True)
                n_colors = c + 1
                metrics.append(
                    {"color": c, "assigned": cnt, "mis_rounds": 0,
                     "wall_sec": time.monotonic() - t0}
                )
            converged = True
            break
        res = maximal_independent_set(
            spark, residual, num_partitions=num_partitions
        )
        wave = res.labels.where(F.col("status") == "mis").select("id")
        # vertices isolated in the residual graph join the wave too
        isolated = uncolored.join(
            residual.select(F.col(SRC).alias("id"))
            .unionByName(residual.select(F.col(DST).alias("id")))
            .distinct(),
            "id",
            "left_anti",
        )
        wave = wave.unionByName(isolated).localCheckpoint(eager=True)
        assigned = wave.count()
        colored = colored.unionByName(
            wave.withColumn("color", F.lit(c))
        ).localCheckpoint(eager=True)
        uncolored2 = uncolored.join(wave, "id", "left_anti").persist()
        uncolored2.count()
        uncolored.unpersist()
        uncolored = uncolored2
        residual = (
            residual.join(uncolored.withColumnRenamed("id", SRC), SRC, "left_semi")
            .join(uncolored.withColumnRenamed("id", DST), DST, "left_semi")
            .localCheckpoint(eager=True)
        )
        n_colors = c + 1
        metrics.append(
            {"color": c, "assigned": assigned, "mis_rounds": res.rounds,
             "wall_sec": time.monotonic() - t0}
        )
    if not converged:
        # max_colors exhausted: emit leftovers with sentinel color -1 so
        # the output is always a COMPLETE vertex assignment (callers can
        # filter color >= 0; silently absent rows hid the truncation)
        colored = colored.unionByName(
            uncolored.withColumn("color", F.lit(-1))
        ).localCheckpoint(eager=True)
    uncolored.unpersist()
    return ColoringResult(colored, n_colors, converged, metrics)
