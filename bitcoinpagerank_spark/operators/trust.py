"""TrustRank and spam mass — the canonical link-spam countermeasures for
a crawled web graph (Gyöngyi, Garcia-Molina, Pedersen, "Combating Web
Spam with TrustRank", VLDB 2004; Gyöngyi et al., "Link Spam Detection
Based on Mass Estimation", VLDB 2006).

Not in the reference (link-graph breadth in the PageRank family —
nearest analog is RunPageRankBasic.java's damped iterate loop, whose
§2.12 semantics these reuse verbatim). Spark-first composition, no new
iterative machinery:

- ``trustrank``: biased PageRank whose teleport AND dangling-mass
  redistribution target a trusted seed set — exactly
  ``personalized_pagerank`` (operators/pagerank.py): PageRank's single
  loop run with the teleport vector t in place of 1/N,
  r' = α·t + (1-α)(Pᵀr + missing·t), so TrustRank rounds share its
  one-job observe-fused shape, job groups and shuffle-byte lineage.
- ``inverse_pagerank_seeds``: the paper's seed-selection heuristic —
  PageRank over the REVERSED edge table ranks pages by how much of the
  web they can reach (good trust propagators); top-k with total-order
  tie-break. One extra select on the edge table, same loop.
- ``spam_mass``: SM(v) = (PR(v) − TR(v)) / PR(v) — the estimated
  fraction of v's PageRank coming from spam; one vertex-keyed join of
  the two rank tables. PR ≥ α/n > 0, so the ratio is total.

All three are fixed-iteration SQL-replayable (catalog g_trustrank_iter2,
g_spam_mass, g_inverse_pagerank_seeds reuse the unrolled-CTE PageRank
oracle) and scale exactly as PageRank does: the only additions are a
reversed-edge projection (map-only) and a final co-partitioned join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .edges import DST, SRC
from .pagerank import (
    ALPHA,
    DEFAULT_TOL,
    PageRankResult,
    pagerank,
    personalized_pagerank,
)


def trustrank(
    spark: SparkSession,
    edges: DataFrame,
    seeds: DataFrame | list,
    alpha: float = ALPHA,
    tol: float = DEFAULT_TOL,
    max_iter: int = 100,
    num_partitions: int | None = None,
) -> PageRankResult:
    """Trust propagation from a vetted seed set: biased PageRank with the
    teleport vector uniform over ``seeds`` (zero elsewhere). Pages with
    low TrustRank but high PageRank are spam candidates (see
    ``spam_mass``)."""
    return personalized_pagerank(
        spark, edges, seeds, alpha=alpha, tol=tol, max_iter=max_iter,
        num_partitions=num_partitions,
    )


def inverse_pagerank_seeds(
    spark: SparkSession,
    edges: DataFrame,
    k: int = 20,
    alpha: float = ALPHA,
    tol: float = DEFAULT_TOL,
    max_iter: int = 100,
    num_partitions: int | None = None,
) -> DataFrame:
    """Seed-candidate selection: PageRank on the reversed graph scores
    each page by its OUTBOUND coverage of the web — the pages whose trust
    reaches furthest. Returns (id, score, rank) for the top ``k``, ties
    broken by lower id (deterministic total order)."""
    rev = edges.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST))
    res = pagerank(
        spark, rev, alpha=alpha, tol=tol, max_iter=max_iter,
        num_partitions=num_partitions,
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("score"), F.asc("id"))
    return (
        res.ranks.select("id", F.round("score", 9).alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def spam_mass(
    spark: SparkSession,
    edges: DataFrame,
    seeds: DataFrame | list,
    alpha: float = ALPHA,
    tol: float = DEFAULT_TOL,
    max_iter: int = 100,
    num_partitions: int | None = None,
) -> DataFrame:
    """(id, pagerank, trustrank, spam_mass) with
    SM(v) = (PR(v) − TR(v)) / PR(v): the fraction of v's PageRank not
    backed by trust flow — ≈1 for pages ranked by spam farms, ≤0 for
    pages the seed set boosts above their organic rank. Two PageRank
    runs + one id-keyed join. The ratio is computed from UNROUNDED
    scores and rounded at 6: it divides a tiny difference by a small
    denominator, so pre-rounded inputs would amplify float-sum-order
    flutter across a rounding boundary (the g_spam_mass oracle mirrors
    this exactly)."""
    pr = pagerank(
        spark, edges, alpha=alpha, tol=tol, max_iter=max_iter,
        num_partitions=num_partitions,
    ).ranks.select("id", F.col("score").alias("pr_raw"))
    tr = trustrank(
        spark, edges, seeds, alpha=alpha, tol=tol, max_iter=max_iter,
        num_partitions=num_partitions,
    ).ranks.select("id", F.col("score").alias("tr_raw"))
    return pr.join(tr, "id").select(
        "id",
        F.round("pr_raw", 9).alias("pagerank"),
        F.round("tr_raw", 9).alias("trustrank"),
        F.round(
            (F.col("pr_raw") - F.col("tr_raw")) / F.col("pr_raw"), 6
        ).alias("spam_mass"),
    )
