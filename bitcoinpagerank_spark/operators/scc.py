"""Strongly connected components via forward-backward min-label peeling.

Not in the reference (link-graph breadth; the reference's graph jobs are
all undirected-or-flow style). Algorithm (FW-BW coloring, the standard
distributed SCC shape):

  repeat until no vertices remain:
    TRIM: iteratively peel vertices with zero in-degree or zero
    out-degree in the remaining subgraph — each is a singleton SCC (a
    vertex with no incoming edge cannot lie on a cycle), and removing
    one can expose the next, so the peel cascades to a fixpoint. This
    is the standard FW-BW-Trim pre-pass: on crawl frontiers most
    vertices are trivial SCCs and never pay for a closure round.
    f(v) = min vertex id that can REACH v   (forward min-label closure)
    b(v) = min vertex id v can reach        (backward closure)
    every v with f(v) == b(v) is settled: its SCC id is that label
    (f(v) == b(v) == m means v and m reach each other, and every vertex
    of SCC(m) shares the pair, so whole SCCs settle atomically)
    drop settled vertices and their edges

Each closure is iterative min-label propagation along edge direction —
O(directed diameter) rounds, one job per round (convergence signature
observe()-fused on the eager localCheckpoint, the components.py
pattern). Star-contraction tricks do not apply to DIRECTED reachability
(they merge across undirected paths), and pointer-doubling squares the
edge set; plain propagation is the scale-sane default. Outer rounds:
each settles at least every reach-minimal SCC — 2 rounds on the doc
graph; worst case (a condensation chain) is O(#SCCs), bounded by
``max_rounds``.

Oracle: DuckDB mutual-reachability closure (catalog g_scc) + Tarjan in
tests/oracles.py.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .edges import SRC, DST
from .lineage import checkpoint, run_round


@dataclass
class SccResult:
    labels: DataFrame  # (id, scc) — scc = min vertex id of the component
    rounds: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)


# a trim peel round that removes fewer than this share of the remaining
# vertices stops the cascade without peeling (see the trim loop)
TRIM_MIN_FRAC = 0.01

# below this many remaining vertices the per-round label table is hinted
# broadcast (≲32 MB of (id, lab) longs): the closure join then ships labels
# instead of shuffling the edge table every round. Above it — and always at
# web scale, where labels are vertex-sized — the shuffle-hash plan is the
# only one that works, and the hint self-disables.
BROADCAST_LABELS_MAX = 2_000_000


def _min_label_closure(
    spark: SparkSession,
    edges: DataFrame,
    verts: DataFrame,
    tag: str,
    max_iter: int,
    metrics: list[dict],
    n_verts: int | None = None,
) -> DataFrame:
    """Fixpoint of lab(v) = min(lab(v), min over in-neighbors u of
    lab(u)) starting from lab(v) = v; one job per propagation round.

    ``n_verts`` (when known) drives a deterministic broadcast hint on the
    label side: each round's checkpoint estimates its size at the
    ``spark.sql.defaultSizeInBytes`` default, which never qualifies the
    (actually tiny) label table for auto-broadcast — the r5 2×2 A/B
    measured the shuffle plan as a ×1.4 loss on R-MAT."""
    small = n_verts is not None and n_verts <= BROADCAST_LABELS_MAX
    lab = verts.select("id", F.col("id").alias("lab")).localCheckpoint(eager=True)
    for it in range(max_iter):
        with run_round(spark, f"scc_{tag}", it, f"SCC {tag} closure round") as rnd:
            lab_side = lab.select(F.col("id").alias(SRC), "lab")
            pushed = (
                edges.join(F.broadcast(lab_side) if small else lab_side, SRC)
                .groupBy(F.col(DST).alias("id"))
                .agg(F.min("lab").alias("in_min"))
            )
            if small:
                pushed = F.broadcast(pushed)
            # Path-halving shortcut (same trick as pointer jumping on the
            # LABEL table, which is vertex-sized — NOT the edge-squaring
            # pointer doubling the module docstring rejects): lab(v) = u
            # means u is a known reacher of v, and lab(u) = w means w
            # reaches u, hence w reaches v — so min'ing in lab(lab(v)) is
            # sound, keeps the invariant (labels are always true reachers),
            # and leaves the fixpoint unchanged while collapsing chain
            # propagation from O(diameter) to O(log diameter) rounds
            # (measured on the sf0.1 doc graph: fwd 24 -> 7 rounds).
            hop = lab.select(F.col("id").alias("lab"), F.col("lab").alias("lab2"))
            if small:
                hop = F.broadcast(hop)
            new_lab = (
                lab.join(pushed, "id", "left")
                .join(hop, "lab", "left")
                .select(
                    "id",
                    F.least(
                        F.col("lab"),
                        F.coalesce(F.col("in_min"), F.col("lab")),
                        F.coalesce(F.col("lab2"), F.col("lab")),
                    ).alias("lab"),
                    F.col("lab").alias("old"),
                )
            )
            lab = rnd.checkpoint(
                new_lab,
                changed=F.sum((F.col("lab") != F.col("old")).cast("long")),
            ).select("id", "lab")
        metrics.append({"closure": tag, "iteration": it + 1, **rnd})
        if rnd["changed"] == 0:
            break
    return lab


def strongly_connected_components(
    spark: SparkSession,
    edges: DataFrame,
    max_rounds: int = 50,
    max_closure_iter: int = 200,
    num_partitions: int | None = None,
) -> SccResult:
    """The FW-BW-Trim pre-pass is ADAPTIVE: a peel round that removes
    fewer than ``TRIM_MIN_FRAC`` of the remaining vertices stops the
    cascade without peeling — on trivial-poor graphs (dense cyclic cores
    like the doc graph, bow-tie COREs) the peel's full edge semi-join
    re-checkpoint costs more than letting the closure settle those few
    vertices; on crawl frontiers (R-MAT shape, ~half the vertices
    trivial) the cascade proceeds as before."""
    if num_partitions is None:
        from .edges import default_partitions

        num_partitions = default_partitions(spark, edges)

    # repartition before the dedup: hash(src) satisfies the distinct's
    # (src, dst) clustering, so one exchange replaces the old
    # distinct().repartition() pair (components.py has the A/B)
    e = (
        edges.select(SRC, DST)
        .where(F.col(SRC).isNotNull() & F.col(DST).isNotNull())
        .where(F.col(SRC) != F.col(DST))
        .repartition(num_partitions, SRC)
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    verts = (
        e.select(F.col(SRC).alias("id"))
        .unionByName(e.select(F.col(DST).alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    settled_frames: list[DataFrame] = []
    metrics: list[dict] = []
    converged = False
    rounds = 0
    # one vertex-sized count up front: feeds the adaptive trim threshold
    # AND the closure's broadcast-hint decision every round thereafter
    n_verts = verts.count()
    while rounds < max_rounds:
        rounds += 1
        # FW-BW-Trim: cascade-peel trivial SCCs before paying for closures
        trim_it = 0
        while n_verts > 0:
            trim_it += 1
            t0 = time.monotonic()
            both = checkpoint(
                e.select(F.col(SRC).alias("id")).distinct()
                .join(e.select(F.col(DST).alias("id")).distinct(), "id")
            )
            # count first, checkpoint the peeled set only when non-empty:
            # on trivial-free graphs (dense cores) each trim check costs
            # one job, not a wasted checkpoint + job
            n_trivial = verts.join(both, "id", "left_anti").count()
            metrics.append(
                {"closure": f"trim{rounds}", "iteration": trim_it,
                 "changed": n_trivial, "wall_sec": time.monotonic() - t0,
                 "shuffle_read_bytes": 0, "shuffle_write_bytes": 0}
            )
            if n_trivial == 0:
                break
            if n_trivial < TRIM_MIN_FRAC * n_verts:
                # adaptive bail: peeling this sliver costs a full edge
                # semi-join re-checkpoint; the closure settles it anyway
                metrics[-1]["closure"] = f"trim{rounds}_bail"
                break
            trivial = verts.join(both, "id", "left_anti").localCheckpoint(
                eager=True
            )
            settled_frames.append(
                trivial.select("id", F.col("id").alias("scc"))
            )
            verts = both
            n_verts -= n_trivial
            e = checkpoint(
                e.join(both.withColumnRenamed("id", SRC), SRC, "left_semi")
                .join(both.withColumnRenamed("id", DST), DST, "left_semi")
            )
        if verts.isEmpty():
            converged = True
            break
        rev = e.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST))
        # The forward and backward closures are INDEPENDENT iterate loops
        # over the same checkpointed edge set — run them concurrently from
        # two driver threads (guide §2.6: overlap independent jobs so one
        # loop's per-round stragglers/driver round-trips back-fill the
        # other's idle cores; sequential closures were 9.7 vs 7.1 s on
        # g_scc and 14.6 vs 11.9 s on bowtie, local[4], medians of 10
        # interleaved pairs). Each thread owns its job groups/Observations
        # (both are thread-local / uniquely named), and per-closure metrics
        # go to private lists merged in a deterministic order afterwards.
        # In pinned-thread mode (the PySpark default) the wrapper makes
        # each thread inherit the JVM thread-locals. With
        # PYSPARK_PIN_THREAD=false inheritable_thread_target(session)
        # returns the session itself and the bare function runs: a py4j
        # call may then land on any JVM thread, so the two closures' job
        # groups — and their rounds' shuffle bytes — can mix. Labels do
        # not depend on it.
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        wrapper = inheritable_thread_target(spark)
        target = wrapper(_min_label_closure) if callable(wrapper) else _min_label_closure
        f_metrics: list[dict] = []
        b_metrics: list[dict] = []
        with ThreadPoolExecutor(max_workers=2) as pool:
            f_fut = pool.submit(target, spark, e, verts, f"fwd{rounds}",
                                max_closure_iter, f_metrics, n_verts)
            b_fut = pool.submit(target, spark, rev, verts, f"bwd{rounds}",
                                max_closure_iter, b_metrics, n_verts)
            f = f_fut.result()
            b = b_fut.result()
        metrics.extend(f_metrics)
        metrics.extend(b_metrics)
        joined = f.join(
            b.select(F.col("id").alias("bid"), F.col("lab").alias("blab")),
            F.col("id") == F.col("bid"),
        ).select("id", "lab", "blab")
        settled = (
            joined.where(F.col("lab") == F.col("blab"))
            .select("id", F.col("lab").alias("scc"))
            .localCheckpoint(eager=True)
        )
        settled_frames.append(settled)
        remaining = (
            joined.where(F.col("lab") != F.col("blab"))
            .select("id")
            .localCheckpoint(eager=True)
        )
        n_verts = remaining.count()  # feeds the next round's adaptive trim
        if n_verts == 0:
            converged = True
            break
        verts = remaining
        e = checkpoint(
            e.join(remaining.withColumnRenamed("id", SRC), SRC, "left_semi")
            .join(remaining.withColumnRenamed("id", DST), DST, "left_semi")
        )
    if settled_frames:
        out = settled_frames[0]
        for frame in settled_frames[1:]:
            out = out.unionByName(frame)
    else:  # empty graph: trim had nothing and no closure ever ran
        out = spark.createDataFrame([], "id long, scc long")
    return SccResult(out, rounds, converged, metrics)
