"""HITS, SALSA, Katz and eigenvector centrality — link-analysis breadth
operators in the PageRank family (reference analog: the same product
surface as RunPageRankBasic.java's score loop; none of these exist in the
reference — they are breadth ops mandated by the link-graph tier).

All four share the iterate shape of pagerank.py:

* the edge table is partitioned ONCE by the join key and persisted; only
  vertex-sized score tables move per iteration,
* each half-step is one equi-join + by-key hash aggregate whose global
  scalar (normalizer / total) rides the eager checkpoint via
  ``observe()`` — no extra pass, no driver-side reduction job — and the
  division by that scalar folds lazily into the next half-step's scan,
* the eager checkpoint truncates lineage so the logical plan stays O(1)
  per iteration (measured in BENCH.md round-3 cadence A/B),
* per-iteration lineage rows carry wall clock + shuffle bytes
  (north-star metrics contract).

Numeric contracts (all L1-style, SQL-portable so the DuckDB oracles can
unroll them as chained CTEs):

* HITS:        a'(v) = SUM_{u->v} h(u) / SUM a',
               h'(u) = SUM_{u->v} a'(v) / SUM h', h0 = 1/n (Kleinberg
               1999; the classical L2 variant differs only by the norm).
               No in-links → authority 0; no out-links → hub 0.
* SALSA:       HITS on the row/column-STOCHASTIC adjacency — each hub
               contribution is divided by the hub's out-degree and each
               authority contribution by the authority's in-degree (Lempel
               & Moran 2000), with the same L1 renorm per half-step so
               dangling leakage cannot drift the total.
* Katz:        c' (v) = beta + alpha * SUM_{u->v} c(u), c0 = beta.
               Convergent for alpha < 1/lambda_max; raw (unnormalized)
               scores are returned — the standard fixed-point.
* eigenvector: x'(v) = SUM_{u->v} x(u) / ||SUM||_1, x0 = 1/n.  Power
  iteration with L1 norm (the L2 variant differs only by the norm and
  is not cross-engine hash-stable; L1 keeps scores exactly comparable).

All run a fixed iteration count (the reference's own PageRank runs a
fixed range, RunPageRankBasic.java:329-331).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .edges import SRC, DST, default_partitions, in_degrees, out_degrees, vertices
from .lineage import run_round


@dataclass
class CentralityResult:
    scores: DataFrame
    iterations: int
    metrics: list[dict] = field(default_factory=list)


def _prepared(spark, edges, num_partitions, stochastic=False):
    """(edge table partitioned by src and persisted, persisted vertex
    table, vertex count). ``stochastic`` adds SALSA's ``inv_od`` =
    1/outdeg(src) and ``inv_id`` = 1/indeg(dst) columns, and takes the
    vertex table from the null-filtered edges (the others keep every
    endpoint of ``edges``)."""
    base = edges.select(SRC, DST).where(
        F.col(SRC).isNotNull() & F.col(DST).isNotNull()
    )
    e = base
    if stochastic:
        e = (
            base.join(out_degrees(base).withColumnRenamed("id", SRC), SRC)
            .join(in_degrees(base).withColumnRenamed("id", DST), DST)
            .select(
                SRC, DST,
                (F.lit(1.0) / F.col("out_degree")).alias("inv_od"),
                (F.lit(1.0) / F.col("in_degree")).alias("inv_id"),
            )
        )
    e = e.repartition(num_partitions, SRC).persist()
    e.count()
    verts = vertices(base if stochastic else edges)
    verts = verts.repartition(num_partitions, "id").persist()
    n = verts.count()
    if n == 0:
        e.unpersist()
        verts.unpersist()
        raise ValueError("centrality on an empty graph")
    return e, verts, n


def _hub_authority(spark, edges, max_iter, num_partitions, op, stochastic):
    """The HITS/SALSA loop: per iteration an authority half-step (in-sums
    of hub scores) then a hub half-step (out-sums of the new authority
    scores), each L1-normalized. With ``stochastic`` each contribution is
    weighted by ``inv_od`` / ``inv_id`` (SALSA), else by 1 (HITS).
    Returns (id, hub, authority)."""
    if max_iter < 1:
        raise ValueError(f"{op.upper()} needs max_iter >= 1")
    if num_partitions is None:
        num_partitions = default_partitions(spark, edges)
    e, verts, n = _prepared(spark, edges, num_partitions, stochastic)
    a_in = F.col("score") * F.col("inv_od") if stochastic else F.col("score")
    h_in = F.col("score") * F.col("inv_id") if stochastic else F.col("score")

    h = verts.withColumn("score", F.lit(1.0 / n)).localCheckpoint(eager=True)
    a = None
    metrics: list[dict] = []
    for it in range(1, max_iter + 1):
        with run_round(spark, op, it, f"{op.upper()} half-steps") as rnd:
            # authority half-step: raw in-sums, normalizer observed on the
            # checkpoint, division applied lazily on the checkpointed rows
            a_raw = rnd.checkpoint(
                e.join(h.select(F.col("id").alias(SRC), "score"), SRC)
                .groupBy(F.col(DST).alias("id"))
                .agg(F.sum(a_in).alias("raw")),
                authority_norm=F.sum("raw"),
            )
            sa = rnd["authority_norm"] = float(rnd["authority_norm"]) or 1.0
            a = verts.join(a_raw, "id", "left").select(
                "id", (F.coalesce("raw", F.lit(0.0)) / F.lit(sa)).alias("score")
            )
            # hub half-step
            h_raw = rnd.checkpoint(
                e.join(a.select(F.col("id").alias(DST), "score"), DST)
                .groupBy(F.col(SRC).alias("id"))
                .agg(F.sum(h_in).alias("raw")),
                hub_norm=F.sum("raw"),
            )
            sh = rnd["hub_norm"] = float(rnd["hub_norm"]) or 1.0
        h = verts.join(h_raw, "id", "left").select(
            "id", (F.coalesce("raw", F.lit(0.0)) / F.lit(sh)).alias("score")
        )
        metrics.append({"iteration": it, **rnd})

    scores = (
        h.select("id", F.col("score").alias("hub"))
        .join(a.select("id", F.col("score").alias("authority")), "id", "left")
        .select("id", "hub", F.coalesce("authority", F.lit(0.0)).alias("authority"))
    )
    e.unpersist()
    verts.unpersist()
    return CentralityResult(scores, max_iter, metrics)


def hits(
    spark: SparkSession,
    edges: DataFrame,
    max_iter: int = 10,
    num_partitions: int | None = None,
) -> CentralityResult:
    """HITS hubs and authorities (Kleinberg 1999), L1-normalized.

    Returns (id, hub, authority).
    """
    return _hub_authority(spark, edges, max_iter, num_partitions, "hits", False)


def katz_centrality(
    spark: SparkSession,
    edges: DataFrame,
    alpha: float = 0.05,
    beta: float = 1.0,
    max_iter: int = 3,
    num_partitions: int | None = None,
) -> CentralityResult:
    """Katz centrality, fixed-iteration fixed point.

    ``alpha`` must be < 1/lambda_max(A) for the series to converge; the
    conservative default 0.05 is safe for any graph with max in-degree
    <= 20/alpha. No normalization — callers rank on raw scores.
    """
    if max_iter < 1:
        raise ValueError("katz_centrality needs max_iter >= 1")
    if num_partitions is None:
        num_partitions = default_partitions(spark, edges)
    e, verts, _n = _prepared(spark, edges, num_partitions)

    c = verts.withColumn("score", F.lit(float(beta))).localCheckpoint(eager=True)
    metrics: list[dict] = []
    for it in range(1, max_iter + 1):
        # ONE job per iteration: unlike eigenvector/HITS, Katz's update
        # uses only the constants alpha/beta — the observed total_recv is
        # a metrics row, not a plan input — so the receive aggregate and
        # the vertex update fuse into a single checkpointed plan (the
        # pagerank.py shape). F.sum skips nulls, so observing the fused
        # left join gives exactly the old recv-table total.
        with run_round(spark, "katz", it, "Katz step") as rnd:
            recv = (
                e.join(c.select(F.col("id").alias(SRC), "score"), SRC)
                .groupBy(F.col(DST).alias("id"))
                .agg(F.sum("score").alias("recv"))
            )
            c = rnd.checkpoint(
                verts.join(recv, "id", "left").select(
                    "id",
                    (
                        F.lit(float(beta))
                        + F.lit(float(alpha)) * F.coalesce("recv", F.lit(0.0))
                    ).alias("score"),
                    F.col("recv"),
                ),
                total_recv=F.sum("recv"),
            ).select("id", "score")
        metrics.append({"iteration": it, **rnd})
    e.unpersist()
    verts.unpersist()
    return CentralityResult(c, max_iter, metrics)


def eigenvector_centrality(
    spark: SparkSession,
    edges: DataFrame,
    max_iter: int = 3,
    num_partitions: int | None = None,
) -> CentralityResult:
    """L1-normalized power iteration on the transpose adjacency.

    Vertices with no in-links have score 0 after the first step. The
    normalizer rides the checkpoint via ``observe()``; the division folds
    lazily into the next step's scan (the HITS pattern).
    """
    if max_iter < 1:
        raise ValueError("eigenvector_centrality needs max_iter >= 1")
    if num_partitions is None:
        num_partitions = default_partitions(spark, edges)
    e, verts, n = _prepared(spark, edges, num_partitions)

    x = verts.withColumn("score", F.lit(1.0 / n)).localCheckpoint(eager=True)
    metrics: list[dict] = []
    for it in range(1, max_iter + 1):
        with run_round(spark, "eigen", it, "eigenvector power step") as rnd:
            raw = rnd.checkpoint(
                e.join(x.select(F.col("id").alias(SRC), "score"), SRC)
                .groupBy(F.col(DST).alias("id"))
                .agg(F.sum("score").alias("raw")),
                l1_norm=F.sum("raw"),
            )
            s = rnd["l1_norm"] = float(rnd["l1_norm"]) or 1.0
        x = verts.join(raw, "id", "left").select(
            "id", (F.coalesce("raw", F.lit(0.0)) / F.lit(s)).alias("score")
        )
        metrics.append({"iteration": it, **rnd})
    e.unpersist()
    verts.unpersist()
    return CentralityResult(x, max_iter, metrics)


def salsa(
    spark: SparkSession,
    edges: DataFrame,
    max_iter: int = 2,
    num_partitions: int | None = None,
) -> CentralityResult:
    """SALSA (Lempel & Moran 2000): HITS over the stochastic adjacency.

    Returns (id, hub, authority). The degree-divided edge table
    ``(src, dst, 1/outdeg(src), 1/indeg(dst))`` is built once and
    persisted — the per-iteration joins then touch only vertex-sized
    score tables, identical shuffle profile to hits().
    """
    return _hub_authority(spark, edges, max_iter, num_partitions, "salsa", True)
