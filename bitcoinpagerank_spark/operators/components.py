r"""Weakly-connected components via alternating large-star / small-star
contraction (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC'14) — O(log n) shuffle rounds instead of O(diameter).

The reference computes component counts only in its sequential JUNG oracle
(SequentialPageRank.java:65-68, ``WeakComponentClusterer``); the north_rule
promotes WCC to a first-class distributed operator with the iterative-min
output contract: component label = min vertex id of the component, exactly
matching a union-find oracle.

Why not min-label exchange: each exchange round moves a label one hop, so
a web-crawl chain of length 10^4 costs 10^4 shuffles. Star contraction
rewires every vertex toward its neighborhood minimum each round, halving
tree heights — convergence in O(log n) rounds regardless of diameter.

Per round (2 half-steps, each one groupBy-min + streamed equi-join — the
min aggregate is map-side-combined so the shuffle carries one row per
(vertex, map partition); no neighbor list is ever materialized, so heavy
hubs cannot OOM an executor the way a collect_set formulation would):

  large-star(u): m = min(Γ(u) ∪ {u});   emit (v, m) for v ∈ Γ(u), v > u
  small-star(u): pairs oriented a > b;  m = min(N(u));
                 emit (u, m) and (v, m) for v ∈ N(u) \ {m}

Both steps preserve connectivity and the invariant a > b; the pair set is
a star forest rooted at component minima at the fixpoint. Convergence is
detected with ZERO extra jobs: (count, XOR of xxhash64(a,b)) of the new
pair set ride the per-round eager localCheckpoint via observe() — the
pattern lineage.run_round provides — and an unchanged signature means
the set reached its fixpoint (bit_xor is order-independent and cannot
overflow, unlike a hash SUM under ANSI mode; pairs are distinct so XOR
cancellation cannot hide a change of two identical rows).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .edges import SRC, DST, vertices
from .lineage import run_round


@dataclass
class ComponentsResult:
    labels: DataFrame  # (id: long, component: long)
    iterations: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)

    def num_components(self) -> int:
        return self.labels.select("component").distinct().count()


def _star_round() -> Callable[[DataFrame], DataFrame]:
    """``pairs -> small_star(large_star(pairs))``: one contraction round.

    Every Column of the round is built here, once per loop: PySpark pays
    py4j round trips for each Column it builds, so a round builds only
    its DataFrame ops."""
    a, b, m = F.col("a"), F.col("b"), F.col("m")
    ab = [a, b]
    ba = [b.alias("a"), a.alias("b")]
    min_b_mn = F.min(b).alias("mn")
    a_m = [a, F.least(F.col("mn"), a).alias("m")]
    above = b > a
    bm = [b.alias("a"), m.alias("b")]
    min_b_m = F.min(b).alias("m")
    not_self = a != b
    am = [a, m.alias("b")]

    def large_star(pairs: DataFrame) -> DataFrame:
        """(v, m) for every symmetric neighbor v > u, m = min(Γ(u) ∪
        {u}). Output keeps the a > b orientation (v > u ≥ m).

        The output is NOT deduplicated: with canonical input the emit
        side has exactly one row per input pair (only the smaller
        endpoint of a pair has the larger as a > neighbor), so the
        pre-dedup size is |pairs| — never larger than the dedup'd set —
        and the consumer (``small_star``) is duplicate-insensitive: its
        min aggregate ignores multiplicity and its final ``distinct``
        canonicalizes the round's output. Dropping the intermediate
        distinct removes one |pairs|-scale Exchange + aggregate pair per
        round (plan: cc_round_step_before/after.txt, 5 -> 4 exchanges)."""
        sym = pairs.select(*ab).unionByName(pairs.select(*ba))
        mins = sym.groupBy(a).agg(min_b_mn).select(*a_m)
        return sym.where(above).join(mins, "a").select(*bm)

    def small_star(pairs: DataFrame) -> DataFrame:
        """With pairs oriented a > b: every small neighbor (and a
        itself) re-links to m = min(N(a)). Orientation is preserved
        (v ≥ m, v = m dropped; a > all of N(a) ≥ m)."""
        mins = pairs.groupBy(a).agg(min_b_m)
        relink = pairs.join(mins, "a").select(*bm).where(not_self)
        return relink.unionByName(mins.select(*am)).distinct()

    return lambda pairs: small_star(large_star(pairs))


def connected_components(
    spark: SparkSession,
    edges: DataFrame,
    max_iter: int = 50,
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 10,
    start_iteration: int = 0,
    start_pairs: DataFrame | None = None,
    prior_metrics: list[dict] | None = None,
    start_sig: tuple | None = None,
    input_sig: tuple | None = None,
) -> ComponentsResult:
    """Resumability (north_rule: any run resumes mid-iteration): pass
    ``checkpoint_dir`` to snapshot the oriented pair set (the loop's
    whole state) every ``checkpoint_interval`` rounds through TableStore
    (Iceberg commit or parquet + JSON manifest, same machinery as
    PageRank's). The star-contraction fixpoint depends only on the pair
    set, so a resumed run's labels are bit-identical to an uninterrupted
    one — asserted in tests/test_checkpoint.py."""
    if num_partitions is None:
        from .edges import default_partitions

        num_partitions = default_partitions(spark, edges)

    if start_pairs is not None:  # resume path: already canonical
        pairs = (
            start_pairs.select("a", "b")
            .repartition(num_partitions, "a")
            .localCheckpoint(eager=True)
        )
        verts = vertices(edges)
    else:
        # canonical oriented pair set: (larger, smaller) end.
        # repartition BEFORE the dedup: hash(a) satisfies the distinct
        # aggregate's (a, b) clustering (equal pairs share a), so one
        # exchange does both — the old distinct().repartition() paid a
        # second full-|E| exchange for the same set (0.85x A/B).
        # Self-loops and edges with a null end stay in the checkpoint
        # ({a, b} is {src, dst} on every row), so the labels' vertex set
        # is read from it too and a lazy edge plan runs once; the rounds
        # see only a > b.
        hi = F.col(SRC) >= F.col(DST)
        canon = (
            edges.select(
                F.when(hi, F.col(SRC)).otherwise(F.col(DST)).alias("a"),
                F.when(hi, F.col(DST)).otherwise(F.col(SRC)).alias("b"),
            )
            .repartition(num_partitions, "a")
            .dropDuplicates()
            .localCheckpoint(eager=True)
        )
        pairs = canon.where(F.col("a") != F.col("b"))
        verts = (
            canon.select(F.col("a").alias("id"))
            .unionByName(canon.select(F.col("b").alias("id")))
            .distinct()
        )
        if checkpoint_dir and input_sig is None:
            # fingerprint of the INPUT pair set, recorded in every
            # manifest so a resume against a different --input fails
            # loudly instead of silently joining yesterday's pair
            # snapshot with today's graph (the bit-identical guarantee
            # only holds for the same edge set). One agg on the already
            # cached pairs — cheap next to the rounds it guards.
            input_sig = _pairs_sig(pairs)

    star_round = _star_round()
    # the convergence signature is built once and rides each checkpoint
    observed = {
        "pairs": F.count(F.lit(1)),
        "hxor": F.bit_xor(F.xxhash64("a", "b")),
    }
    converged = False
    it = start_iteration
    prev_sig: tuple | None = tuple(start_sig) if start_sig else None
    metrics: list[dict] = list(prior_metrics or [])
    while it < max_iter:
        with run_round(spark, "cc", it, "connected-components round") as rnd:
            pairs = rnd.checkpoint(star_round(pairs), **observed)
        sig = (rnd["pairs"], rnd.pop("hxor"))
        it += 1
        metrics.append({"iteration": it, **rnd})
        converged = sig == prev_sig
        prev_sig = sig
        if converged or it == max_iter:
            break  # the final snapshot below covers this round
        if checkpoint_dir and (it - start_iteration) % checkpoint_interval == 0:
            _write_cc_snapshot(pairs, metrics, it, sig, checkpoint_dir,
                               input_sig=input_sig)
    if checkpoint_dir:
        _write_cc_snapshot(pairs, metrics, it, prev_sig, checkpoint_dir,
                           final=True, input_sig=input_sig)

    # at the fixpoint each non-root vertex appears exactly once as `a`
    # (star forest); the groupBy-min also makes a max_iter cutoff safe
    roots = pairs.groupBy(F.col("a").alias("id")).agg(
        F.min("b").alias("root")
    )
    labels = verts.join(roots, "id", "left").select(
        "id", F.coalesce("root", F.col("id")).alias("component")
    )
    return ComponentsResult(labels, it, converged, metrics)


def _pairs_sig(pairs: DataFrame) -> tuple:
    """(count, xxhash64-XOR) fingerprint of a canonical pair set —
    order-insensitive, so it is stable across partitionings."""
    row = pairs.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.bit_xor(F.xxhash64("a", "b")).alias("hxor"),
    ).collect()[0]
    return (int(row["cnt"] or 0), row["hxor"])


def _write_cc_snapshot(
    pairs: DataFrame,
    metrics: list[dict],
    iteration: int,
    sig: tuple | None,
    checkpoint_dir: str,
    final: bool = False,
    input_sig: tuple | None = None,
) -> None:
    from ..sources.tablestore import TableStore

    TableStore(pairs.sparkSession, checkpoint_dir).write_snapshot(
        pairs.select("a", "b"), f"cc_iter{iteration:04d}", "pairs_path",
        kind="components",
        iteration=iteration,
        final=final,
        sig=list(sig) if sig else None,
        input_sig=list(input_sig) if input_sig else None,
        metrics=metrics,
    )


def resume_components(
    spark: SparkSession,
    edges: DataFrame,
    checkpoint_dir: str,
    **kwargs,
) -> ComponentsResult:
    """Continue a checkpointed CC run from its latest pair-set snapshot;
    falls back to a fresh run when no snapshot exists. Bit-identical to
    an uninterrupted run (the star-contraction fixpoint is a function of
    the pair set alone)."""
    from ..sources.tablestore import TableStore

    store = TableStore(spark, checkpoint_dir)
    manifest = store.read_manifest()
    if manifest is None:
        return connected_components(
            spark, edges, checkpoint_dir=checkpoint_dir, **kwargs
        )
    if manifest.get("kind") != "components":
        raise ValueError(
            f"{checkpoint_dir} holds a {manifest.get('kind') or 'pagerank'} "
            "snapshot, not a components one"
        )
    input_sig = None
    if manifest.get("input_sig"):
        # the pair-set snapshot is only a sound resume point for the
        # SAME edge set — verify today's --input against the recorded
        # fingerprint before touching the snapshot (one agg job).
        input_sig = tuple(manifest["input_sig"])
        today = _pairs_sig(
            edges.select(
                F.greatest(F.col(SRC), F.col(DST)).alias("a"),
                F.least(F.col(SRC), F.col(DST)).alias("b"),
            )
            .where(F.col("a") != F.col("b"))
            .distinct()
        )
        if today != input_sig:
            raise ValueError(
                f"{checkpoint_dir} was written for a different edge set "
                f"(snapshot input fingerprint {input_sig}, current edges "
                f"{today}) — resuming would silently mix yesterday's "
                "pair snapshot with today's graph; run a fresh "
                "connected_components (or incremental_components for a "
                "delta) instead"
            )
    store = TableStore(spark, checkpoint_dir, backend=manifest.get("backend"))
    pairs = store.read_table(manifest["pairs_path"])
    sig = tuple(manifest["sig"]) if manifest.get("sig") else None
    return connected_components(
        spark,
        edges,
        checkpoint_dir=checkpoint_dir,
        start_iteration=manifest["iteration"],
        start_pairs=pairs,
        prior_metrics=manifest.get("metrics") or [],
        start_sig=sig,
        input_sig=input_sig,
        **kwargs,
    )


def warm_start_components(
    spark: SparkSession,
    edges: DataFrame,
    prior_labels: DataFrame,
    prior_edges: DataFrame | None = None,
    max_iter: int = 50,
    num_partitions: int | None = None,
) -> ComponentsResult:
    """Incremental CC for the ADDITIONS-ONLY crawl case: yesterday's
    (id, component) labels are injected as extra (id → component) edges,
    which pre-collapses every already-known component to a star around
    its label before the first large-star/small-star round — re-crawl
    cost scales with the NEW edges, not the whole graph.

    Soundness: a prior label edge (v, c) connects v to c, and yesterday
    c was reachable from v; if today's edge set is a SUPERSET of
    yesterday's (additions only — the crawl-growth regime), that
    connectivity still holds, so the augmented graph has exactly the
    same components as today's graph, and the min-id label contract is
    unchanged (c was the min id of v's old component, so c is in the
    component anyway). After edge DELETIONS prior labels may merge
    separated components — run the cold start instead (same function,
    no prior_labels).

    Pass ``prior_edges`` (yesterday's edge table) to ENFORCE the
    additions-only contract at runtime: raises ``ValueError`` if any
    prior edge (as an undirected pair) is absent from today's edges —
    the case where warm-start labels can silently merge components that
    deletions have separated. The check is one normalized anti-join,
    cheap next to the CC rounds it guards."""
    if prior_edges is not None:
        deleted = _canon_pairs(prior_edges).join(
            _canon_pairs(edges), ["a", "b"], "left_anti"
        )
        n_deleted = deleted.limit(1).count()
        if n_deleted > 0:
            sample = deleted.limit(5).collect()
            raise ValueError(
                "warm_start_components requires additions-only growth: "
                f"prior edges missing from today's edge set, e.g. "
                f"{[(r['a'], r['b']) for r in sample]} — run the cold "
                "start (connected_components) after deletions"
            )
    label_edges = prior_labels.where(
        F.col("id") != F.col("component")
    ).select(
        F.col("id").alias("src_id"), F.col("component").alias("dst_id")
    )
    return connected_components(
        spark,
        edges.select("src_id", "dst_id").unionByName(label_edges),
        max_iter=max_iter,
        num_partitions=num_partitions,
    )


def _canon_pairs(df: DataFrame) -> DataFrame:
    return (
        df.select(
            F.least("src_id", "dst_id").alias("a"),
            F.greatest("src_id", "dst_id").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def incremental_components(
    spark: SparkSession,
    edges: DataFrame,
    prior_labels: DataFrame,
    prior_edges: DataFrame,
    max_iter: int = 50,
    num_partitions: int | None = None,
    fallback_frac: float = 0.5,
) -> ComponentsResult:
    """Incremental CC for arbitrary edge DELTAS — additions AND deletions
    (``warm_start_components`` raises on deletions by contract).

    Derives the delta as undirected pairs — additions = today − yesterday,
    deletions = yesterday − today — and runs
    ``incremental_components_from_delta`` on it. The two set differences
    are Θ(|E|) joins, so when a crawl pipeline already has the delta, call
    ``incremental_components_from_delta`` directly.

    ``prior_labels`` must be the CC output for ``prior_edges``. The
    result covers every vertex of ``edges`` (a vertex whose only edge is
    a self-loop labels itself) and equals ``connected_components(edges)``
    exactly — asserted by the g_components_incremental catalog oracle and
    randomized pytest."""
    cur = _canon_pairs(edges)
    prev = _canon_pairs(prior_edges)

    def minus(x: DataFrame, y: DataFrame) -> DataFrame:
        return x.join(y, ["a", "b"], "left_anti").select(
            F.col("a").alias(SRC), F.col("b").alias(DST)
        )

    res = incremental_components_from_delta(
        spark, prior_edges, prior_labels, minus(cur, prev), minus(prev, cur),
        max_iter=max_iter, num_partitions=num_partitions,
        fallback_frac=fallback_frac,
    )
    labels = (
        vertices(edges)
        .join(res.labels, "id", "left")
        .select("id", F.coalesce("component", F.col("id")).alias("component"))
    )
    return ComponentsResult(labels, res.iterations, res.converged, res.metrics)


def incremental_components_from_delta(
    spark: SparkSession,
    prior_edges: DataFrame,
    prior_labels: DataFrame,
    additions: DataFrame,
    deletions: DataFrame,
    max_iter: int = 50,
    num_partitions: int | None = None,
    fallback_frac: float = 0.5,
) -> ComponentsResult:
    """Incremental CC when the edge DELTA is already known — the API a
    daily crawl pipeline actually has (its differ emits added/deleted
    edge lists; it does not need yesterday's and today's full edge
    tables anti-joined to rediscover them).

    Soundness: every deleted edge was intra-component yesterday, so the
    components a deletion can break are exactly the prior components
    holding a deleted-edge endpoint — the DIRTY set. A CLEAN component
    keeps all its edges, so its prior label star (id → component) still
    witnesses its connectivity, and its old edges can be left out of the
    recompute. Every analysis join is DELTA- or DIRTY-scale:

    - old_kept  = prior anti-join deletions  (deletions broadcast-gated)
    - dirty     = deletion endpoints -> prior labels -> components
    - retained  = old_kept edges with >= 1 endpoint in a dirty component
                  (two semi-joins vs the dirty vertex set, broadcast
                  under BROADCAST_HINT_MAX)
    - input     = retained + additions + clean label stars (|V_clean|)

    Additions never dirty anything: an added edge can only merge
    components, and it is fed to the contraction verbatim; brand-new
    vertices ride their added edges. With no deletions the dirty set is
    empty and the input is just the additions plus every label star.

    Degenerate-delta fallback: on a giant-component graph ONE interior
    deletion dirties the whole component, so the reduced recompute is as
    large as a cold run and the delta analysis is pure overhead (R-MAT-18:
    2.4x slower than cold; BENCH.md "Incremental CC scale-stress"). When
    the dirty components hold more than ``fallback_frac`` of yesterday's
    vertices, the cold recompute runs on the composed edge set directly.
    Result equals ``connected_components(prior - deletions + additions)``
    exactly (randomized pytest equivalence)."""
    from .edges import BROADCAST_HINT_MAX

    prev = _canon_pairs(prior_edges)
    dele = _canon_pairs(deletions).localCheckpoint(eager=True)
    add = _canon_pairs(additions)

    n_del = dele.count()
    del_side = F.broadcast(dele) if n_del <= BROADCAST_HINT_MAX else dele
    old_kept = prev.join(del_side, ["a", "b"], "left_anti")
    today = old_kept.unionByName(add)

    dirty = (
        dele.select(F.col("a").alias("id"))
        .unionByName(dele.select(F.col("b").alias("id")))
        .distinct()
        .join(prior_labels, "id")
        .select("component")
        .distinct()
    ).localCheckpoint(eager=True)
    n_dirty = dirty.count()
    dirty_side = F.broadcast(dirty) if n_dirty <= BROADCAST_HINT_MAX else dirty

    dirty_vs = (
        prior_labels.join(dirty_side, "component", "left_semi")
        .select("id")
        .localCheckpoint(eager=True)
    )
    dirty_mass = dirty_vs.count()
    if (
        fallback_frac is not None
        and dirty_mass > 0
        and dirty_mass > fallback_frac * prior_labels.count()
    ):
        return connected_components(
            spark,
            today.select(F.col("a").alias(SRC), F.col("b").alias(DST)),
            max_iter=max_iter,
            num_partitions=num_partitions,
        )

    dv_side = (
        F.broadcast(dirty_vs) if dirty_mass <= BROADCAST_HINT_MAX else dirty_vs
    )
    retained_old = (
        old_kept.join(dv_side.select(F.col("id").alias("a")), "a", "left_semi")
        .unionByName(
            old_kept.join(
                dv_side.select(F.col("id").alias("b")), "b", "left_semi"
            )
        )
        .distinct()
    )
    clean_labels = prior_labels.join(dirty_side, "component", "left_anti")
    label_edges = clean_labels.where(F.col("id") != F.col("component")).select(
        F.col("id").alias(SRC), F.col("component").alias(DST)
    )
    cc_input = (
        retained_old.unionByName(add)
        .select(F.col("a").alias(SRC), F.col("b").alias(DST))
        .unionByName(label_edges)
    )
    res = connected_components(
        spark, cc_input, max_iter=max_iter, num_partitions=num_partitions
    )
    labels = (
        vertices(today.select(F.col("a").alias(SRC), F.col("b").alias(DST)))
        .join(res.labels, "id", "left")
        .select("id", F.coalesce("component", F.col("id")).alias("component"))
    )
    return ComponentsResult(labels, res.iterations, res.converged, res.metrics)
