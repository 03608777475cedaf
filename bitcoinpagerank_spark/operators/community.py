"""Louvain-style greedy modularity moves — single level and multi-level.

Not in the reference; community-detection breadth next to label
propagation (`labelprop.py`) and the host-partition modularity score
(`g_host_modularity`). This implements the Louvain algorithm's MOVE
PHASE synchronously plus the full Blondel-et-al. HIERARCHY: run move
rounds to a fixpoint, contract communities into a weighted quotient
graph (edge weight = number of underlying edges — still integers), and
repeat on the quotient until a level produces no merge.

Move phase (from the singleton partition of the current level): every
vertex i evaluates, for each neighbor community c, the modularity gain

    ΔQ(i→c) = ( k_{i,c} − k_i·Σ'_c / (2m) ) / m

and adopts the argmax if positive, where k/Σ/m are WEIGHTED degrees and
totals. Because contraction weights are edge counts, all quantities stay
integers and the scaled score 2m·k_{i,c} − k_i·Σ'_c is exact — which is
what makes fixed-round entries SQL-replayable and the converged runs
python-replayable.

Plan per round: two hash aggs (community degree sums, i→community edge
weights) + one bounded per-vertex window argmax; per level one quotient
contraction (two mapping joins + a group-pair agg, the quotient_graph
shape). Simultaneous moves may chain (i→j while j→k) — standard for
parallel Louvain; the next level's re-aggregation resolves chains.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from .edges import SRC, DST, undirected_view


def louvain_move_round(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """(id, community, moved, delta_q) after one synchronous move phase
    from singletons. ``community`` is the chosen neighbor's id (or the
    vertex's own id when no positive-gain move exists)."""
    sym = undirected_view(edges)
    deg = sym.groupBy(F.col(SRC).alias("id")).agg(F.count(F.lit(1)).alias("k"))
    m_row = sym.agg((F.count(F.lit(1)) / 2).cast("long").alias("m"))
    nbr = (
        sym.join(deg.select(F.col("id").alias(SRC), F.col("k").alias("k_i")), SRC)
        .join(deg.select(F.col("id").alias(DST), F.col("k").alias("k_j")), DST)
        .select(
            F.col(SRC).alias("id"), F.col(DST).alias("j"), "k_i", "k_j"
        )
    )
    w = Window.partitionBy("id").orderBy(F.asc("k_j"), F.asc("j"))
    best = (
        nbr.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .crossJoin(F.broadcast(m_row))
    )
    gain = (1.0 - F.col("k_i") * F.col("k_j") / (2.0 * F.col("m"))) / F.col("m")
    return best.select(
        "id",
        F.when(F.col("k_i") * F.col("k_j") < 2 * F.col("m"), F.col("j"))
        .otherwise(F.col("id"))
        .alias("community"),
        (F.col("k_i") * F.col("k_j") < 2 * F.col("m")).alias("moved"),
        F.round(
            F.when(F.col("k_i") * F.col("k_j") < 2 * F.col("m"), gain).otherwise(
                0.0
            ),
            9,
        ).alias("delta_q"),
    )


@dataclass
class LouvainResult:
    communities: DataFrame  # (id, community)
    rounds: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)


def _weighted_move_loop(
    spark: SparkSession,
    sym_w: DataFrame,
    max_rounds: int,
    num_partitions: int,
    tag: str = "louvain",
) -> LouvainResult:
    """The synchronous move loop over a symmetric WEIGHTED adjacency
    ``(src_id, dst_id, w)`` with integer weights; self-loop rows must
    arrive pre-doubled — (u, u, 2·internal_weight) — so the degree agg
    counts them twice per the standard Louvain accounting. Self-loops are
    excluded from k_{i,c} (they move WITH the vertex, adding equally to
    every candidate's gain, so they cancel out of the argmax).

    Per round every vertex i picks, over its neighbor communities ∪ its
    current one, the community maximizing

        score2(i, c) = 2m·k_{i,c} − k_i·Σ'_c        (× 2m of the Q gain)

    with Σ'_c = Σ_c − k_i when c is i's current community (i removed
    before evaluating). score2 is pure INTEGER arithmetic — argmax ties
    broken toward staying, then the lower community id — so every round
    is deterministic and exactly replayable by the SQL oracle and the
    pytest python replay.

    Pure synchronous sweeps oscillate (two vertices can swap communities
    forever), so each round only HALF the vertices are move-eligible —
    those with (id + round) % 2 == 0 — the standard parallel-Louvain
    symmetry-breaking (a 2-coloring of the update schedule); the other
    half keeps its community that round. Convergence = two consecutive
    rounds with zero moves. Per round: two hash aggs + one bounded argmax
    window; move counts ride observe() on the round's checkpoint."""
    from .lineage import checkpoint, run_round

    sym = checkpoint(
        sym_w.select(SRC, DST, F.col("w").cast("long").alias("w"))
        .repartition(num_partitions, SRC)
    )
    # m rides the degree checkpoint via observe() — Σk = Σw over the
    # symmetric rows, so m = Σk/2 exactly (weights appear once per
    # direction; self-loop rows arrive pre-doubled), replacing the
    # separate full-sym aggregation job. `or 0` guards the empty set
    # (F.sum over zero rows is NULL — same guard as louvain_levels,
    # ADVICE r4 #1).
    obs_m = Observation()
    deg = (
        sym.groupBy(F.col(SRC).alias("id"))
        .agg(F.sum("w").alias("k"))
        .observe(obs_m, F.sum("k").alias("total_k"))
        .localCheckpoint(eager=True)
    )
    m = int(obs_m.get["total_k"] or 0) // 2
    # the initial singleton assignment is a pure projection of the degree
    # checkpoint — no need for its own materialization job
    comm = deg.select("id", F.col("id").alias("community"))
    metrics: list[dict] = []
    converged = False
    rounds = 0
    for r in range(max_rounds):
        with run_round(spark, tag, r, "Louvain move round") as rnd:
            csum = comm.join(deg, "id").groupBy("community").agg(
                F.sum("k").alias("ctot")
            )
            # k_{i,c}: edge weight from i into each neighbor community
            # (self-loops excluded — they relocate with i and cancel out)
            kic = (
                sym.where(F.col(SRC) != F.col(DST))
                .join(
                    comm.select(F.col("id").alias(DST), F.col("community").alias("c")),
                    DST,
                )
                .groupBy(F.col(SRC).alias("id"), "c")
                .agg(F.sum("w").alias("kic"))
            )
            cur = comm.select("id", F.col("community").alias("cur"))
            # candidate set = neighbor communities ∪ current (kic=0 if absent)
            kc = kic.join(cur, "id")  # (id, c, kic, cur)
            have_cur = kc.where(F.col("c") == F.col("cur")).select("id")
            stay = cur.join(have_cur, "id", "left_anti").select(
                "id",
                F.col("cur").alias("c"),
                F.lit(0).cast("long").alias("kic"),
                "cur",
            )
            cand = kc.unionByName(stay)
            scored = (
                cand.join(deg, "id")
                .join(csum.select(F.col("community").alias("c"), "ctot"), "c")
                .select(
                    "id",
                    "c",
                    "cur",
                    (
                        2 * m * F.col("kic")
                        - F.col("k")
                        * (
                            F.col("ctot")
                            - F.when(F.col("c") == F.col("cur"), F.col("k")).otherwise(0)
                        )
                    ).alias("score2"),
                )
            )
            w = Window.partitionBy("id").orderBy(
                F.desc("score2"),
                F.when(F.col("c") == F.col("cur"), 0).otherwise(1),
                F.asc("c"),
            )
            eligible = (F.col("id") + r) % 2 == 0
            comm = rnd.checkpoint(
                scored.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1)
                .select(
                    "id",
                    F.when(eligible, F.col("c"))
                    .otherwise(F.col("cur"))
                    .alias("community"),
                    (eligible & (F.col("c") != F.col("cur")))
                    .cast("int")
                    .alias("moved"),
                ),
                moved=F.sum("moved"),
            ).select("id", "community")
        rounds = r + 1
        metrics.append({"round": rounds, **rnd})
        if rnd["moved"] == 0 and r > 0 and metrics[-2]["moved"] == 0:
            converged = True
            break
    return LouvainResult(comm, rounds, converged, metrics)


def louvain_communities(
    spark: SparkSession,
    edges: DataFrame,
    max_rounds: int = 10,
    num_partitions: int | None = None,
) -> LouvainResult:
    """Single-level synchronous Louvain (move phase to a fixpoint over the
    unweighted simple graph — unit weights make this bit-identical to the
    pre-refactor loop, preserving the g_louvain_move1/g_louvain_r2 oracle
    contracts); ``louvain_levels`` composes it with quotient contraction
    into the full hierarchy."""
    from .edges import default_partitions

    if num_partitions is None:
        num_partitions = default_partitions(spark, edges)
    sym_w = undirected_view(edges).withColumn("w", F.lit(1).cast("long"))
    return _weighted_move_loop(spark, sym_w, max_rounds, num_partitions)


@dataclass
class LouvainLevelsResult:
    communities: DataFrame  # (id, community) — original ids → final community
    levels: int
    level_metrics: list[dict] = field(default_factory=list)


def louvain_levels(
    spark: SparkSession,
    edges: DataFrame,
    max_levels: int = 5,
    max_rounds: int = 10,
    num_partitions: int | None = None,
    stop_early: bool = True,
) -> LouvainLevelsResult:
    """Multi-level Louvain: move phase → contract communities into a
    weighted quotient (weight = underlying edge count; intra-community
    edges become self-loops) → repeat on the quotient, until a level
    merges nothing or ``max_levels`` is hit. Returns the composed
    original-vertex → final-community mapping plus per-level metrics
    including the partition's modularity Q (computed on the contracted
    graph where it is a two-aggregate job: Q = Σ_loops w/m − Σ_c
    (k_c/2m)²) — non-decreasing across levels by construction of the
    positive-gain move rule.

    Scale shape: each level's graph is at most as large as the previous
    (usually orders of magnitude smaller after level 1 on web graphs), so
    the whole hierarchy costs ~one extra move-loop on a shrunken graph —
    the contraction reuses the quotient_graph join shape
    (`edges.py:quotient_graph`)."""
    from .edges import default_partitions
    from .lineage import checkpoint

    if num_partitions is None:
        num_partitions = default_partitions(spark, edges)

    # canonical undirected weighted edge list: (src≤dst, w); level 0 is
    # the simple graph — unit weights, no self-loops
    und = (
        edges.select(
            F.least(SRC, DST).alias(SRC), F.greatest(SRC, DST).alias(DST)
        )
        .where(F.col(SRC) != F.col(DST))
        .where(F.col(SRC).isNotNull() & F.col(DST).isNotNull())
        .distinct()
        .withColumn("w", F.lit(1).cast("long"))
        .repartition(num_partitions, SRC)
        .localCheckpoint(eager=True)
    )
    m = int(und.agg(F.sum("w").alias("m")).collect()[0]["m"] or 0)

    def expand(cund: DataFrame) -> DataFrame:
        """Canonical (a≤b, w) → symmetric adjacency; self-loop rows are
        doubled so the degree agg counts them twice (Louvain k_u
        includes 2·W(u,u))."""
        off = cund.where(F.col(SRC) != F.col(DST))
        return (
            off.unionByName(
                off.select(
                    F.col(DST).alias(SRC), F.col(SRC).alias(DST), "w"
                )
            )
            .unionByName(
                cund.where(F.col(SRC) == F.col(DST)).select(
                    SRC, DST, (F.col("w") * 2).alias("w")
                )
            )
        )

    mapping = und.select(F.col(SRC).alias("id")).unionByName(
        und.select(F.col(DST).alias("id"))
    ).distinct().select("id", F.col("id").alias("grp")).localCheckpoint(eager=True)

    level_metrics: list[dict] = []
    levels = 0
    for level in range(max_levels):
        t0 = time.monotonic()
        res = _weighted_move_loop(
            spark, expand(und), max_rounds, num_partitions, tag=f"louvain_l{level}"
        )
        n_vertices = res.communities.count()
        n_comm = res.communities.select("community").distinct().count()
        # compose the global mapping through this level's communities
        mapping = (
            mapping.join(
                res.communities.withColumnRenamed("id", "grp"), "grp"
            )
            .select("id", F.col("community").alias("grp"))
        )
        mapping = checkpoint(mapping)
        # contract: canonical group-pair rollup (intra edges → self-loops)
        ca = res.communities.select(F.col("id").alias(SRC), F.col("community").alias("ca"))
        cb = res.communities.select(F.col("id").alias(DST), F.col("community").alias("cb"))
        und = (
            und.join(ca, SRC)
            .join(cb, DST)
            .select(
                F.least("ca", "cb").alias(SRC),
                F.greatest("ca", "cb").alias(DST),
                "w",
            )
            .groupBy(SRC, DST)
            .agg(F.sum("w").alias("w"))
            .repartition(num_partitions, SRC)
        )
        und = checkpoint(und)
        # modularity of the current global partition, from the quotient:
        # Q = Σ_selfloops w / m  −  Σ_c (k_c / 2m)²
        kq = expand(und).groupBy(F.col(SRC).alias("c")).agg(F.sum("w").alias("kc"))
        intra = und.where(F.col(SRC) == F.col(DST)).agg(
            F.coalesce(F.sum("w"), F.lit(0)).alias("iw")
        )
        q = (
            kq.agg(F.sum((F.col("kc") / (2.0 * m)) ** 2).alias("dq"))
            .crossJoin(F.broadcast(intra))
            .select((F.col("iw") / m - F.col("dq")).alias("q"))
            .collect()[0]["q"]
        )
        levels = level + 1
        level_metrics.append(
            {
                "level": levels,
                "rounds": res.rounds,
                "moves": sum(mt["moved"] for mt in res.metrics),
                "n_vertices": n_vertices,
                "n_communities": n_comm,
                "modularity": float(q),
                "wall_sec": time.monotonic() - t0,
            }
        )
        # nothing merged — hierarchy is done; ``stop_early=False`` runs all
        # max_levels unconditionally (fixed work, exactly SQL-replayable —
        # the g_louvain_levels_l2 oracle contract)
        if stop_early and n_comm == n_vertices:
            break
    return LouvainLevelsResult(
        mapping.select("id", F.col("grp").alias("community")),
        levels,
        level_metrics,
    )
