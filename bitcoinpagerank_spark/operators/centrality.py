"""HITS, SALSA, Katz and eigenvector centrality — link-analysis breadth
operators in the PageRank family (reference analog: the same product
surface as RunPageRankBasic.java's score loop; none of these exist in the
reference — they are breadth ops mandated by the link-graph tier).

All four run on the power-iteration kernel of power.py, as PageRank does:

* ``power.prepare`` partitions the edge table ONCE by src and persists
  it; only vertex-sized score tables (and, for the hub half-step, the
  sums by src) move per iteration,
* each half-step is one ``power.spmv`` (equi-join + by-key hash
  aggregate + left join onto the scores) in ``power.loop_session``, a
  clone of the caller's session with AQE off; its global scalar
  (normalizer / total) rides the round's checkpoint via ``observe()`` —
  no extra pass, no driver-side reduction job — and the division by
  that scalar folds lazily into the next half-step's scan,
* the checkpoint truncates lineage so the logical plan stays O(1) per
  iteration,
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

from .edges import SRC, DST, default_partitions
from .lineage import run_round
from .power import loop_session, moved, prepare, spmv


@dataclass
class CentralityResult:
    scores: DataFrame
    iterations: int
    metrics: list[dict] = field(default_factory=list)


def _normalized(frm: str, to: str, weight: str | None, norm: str) -> tuple:
    """A half-step whose sums are L1-normalized: ``norm`` = Σ sums rides
    the checkpoint, and the division folds into the next half-step's
    scan."""
    out = [F.col("id"), F.coalesce(F.col("recv"), F.lit(0.0)).alias("score")]
    return frm, to, weight, out, {norm: F.sum("score")}, norm


def _power(spark, edges, op, desc, max_iter, num_partitions, halves,
           start=None, weights=None) -> tuple[list[DataFrame], list[dict]]:
    """Run ``max_iter`` rounds of the ``halves`` half-steps, each one
    ``spmv`` ended by a checkpoint: ``(frm, to, weight, out, observed,
    norm)``, with ``norm`` the observed key that divides the half-step's
    scores (None: no division). Scores start at ``start`` (None: 1/n).
    Returns each half-step's last (id, score) table, and the metrics
    rows."""
    if max_iter < 1:
        raise ValueError(f"{op} needs max_iter >= 1")
    if num_partitions is None:
        num_partitions = default_partitions(spark, edges)
    loop = loop_session(spark, num_partitions)
    e, verts, n, _ = prepare(moved(edges, loop), num_partitions, op, weights)
    x = verts.withColumn("score", F.lit(1.0 / n if start is None else start))
    steps = [(spmv(e, frm, to, w), *rest) for frm, to, w, *rest in halves]
    id_score = [F.col("id"), F.col("score")]
    last: list[DataFrame] = []
    metrics: list[dict] = []
    for it in range(1, max_iter + 1):
        last = []
        with run_round(spark, op, it, desc) as rnd:
            for step, out, observed, norm in steps:
                cp = rnd.checkpoint(step(x, out), **observed)
                if norm is None:
                    x = cp.select(*id_score)
                else:
                    rnd[norm] = s = float(rnd[norm]) or 1.0
                    x = cp.select("id", (F.col("score") / F.lit(s)).alias("score"))
                last.append(x)
        metrics.append({"iteration": it, **rnd})
    e.unpersist()
    verts.unpersist()
    return [moved(x, spark) for x in last], metrics


def _hub_authority(spark, edges, max_iter, num_partitions, op, weights,
                   w_auth=None, w_hub=None) -> CentralityResult:
    """HITS/SALSA: per iteration an authority half-step (in-sums of hub
    scores) then a hub half-step (out-sums of the new authority scores),
    each L1-normalized. Returns (id, hub, authority)."""
    (a, h), metrics = _power(
        spark, edges, op, f"{op.upper()} half-steps", max_iter,
        num_partitions,
        [_normalized(SRC, DST, w_auth, "authority_norm"),
         _normalized(DST, SRC, w_hub, "hub_norm")],
        weights=weights,
    )
    scores = (
        h.select("id", F.col("score").alias("hub"))
        .join(a.select("id", F.col("score").alias("authority")), "id", "left")
        .select("id", "hub", F.coalesce("authority", F.lit(0.0)).alias("authority"))
    )
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
    return _hub_authority(spark, edges, max_iter, num_partitions, "hits", None)


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
    # one checkpoint per iteration: the update uses only the constants
    # alpha/beta, and the observed total_recv is a metrics row, not a plan
    # input. F.sum skips the NULL recv of vertices that received nothing.
    recv = F.col("recv")
    score = F.lit(float(beta)) + F.lit(float(alpha)) * F.coalesce(recv, F.lit(0.0))
    out = [F.col("id"), score.alias("score"), recv]
    (c,), metrics = _power(
        spark, edges, "katz", "Katz step", max_iter, num_partitions,
        [(SRC, DST, None, out, {"total_recv": F.sum("recv")}, None)],
        start=float(beta),
    )
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
    (x,), metrics = _power(
        spark, edges, "eigen", "eigenvector power step", max_iter,
        num_partitions, [_normalized(SRC, DST, None, "l1_norm")],
    )
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
    return _hub_authority(spark, edges, max_iter, num_partitions, "salsa",
                          "stochastic", "inv_od", "inv_id")
