"""Edge-table construction and graph-shape derivations.

Reference semantics being re-expressed (SURVEY.md §2):
- edge dedup via group-by + HashSet (BuildTextGraph.java:82-113)  → ``distinct()``
- blacklist filter on the literal ``unknown`` address
  (BuildTextGraph.java:50,71-77)                                  → ``filter``
- dst-only ("remaining") vertex discovery via a modified left-outer
  join that keeps only right-null rows, i.e. a left-anti join
  (PrepareRemainingNodesJoin.java:151-167)                         → ``left_anti``
- distinct out-addresses (PrepareDistinctOutAddresses.java:45-72)  → ``distinct``

Everything here is declarative Catalyst (column pruning + predicate
pushdown are free); the only shuffles are the ones the semantics force
(distinct on the edge pair, groupBy for degrees).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SRC = "src_id"
DST = "dst_id"

# ~edges per partition before adding more partitions; at cluster scale the
# caller pins num_partitions explicitly (a property of the stored graph),
# this heuristic only right-sizes local/small runs where per-task scheduling
# overhead dominates (SURVEY.md §4.1 split-size tuning analog).
EDGES_PER_PARTITION = 100_000
MIN_PARTITIONS = 8


def auto_partitions(spark, n_edges: int) -> int:
    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(MIN_PARTITIONS, min(n_edges // EDGES_PER_PARTITION + 1, default))


# iterative operators hint F.broadcast on bounded per-round tables
# (frontiers, settled sets, label tables) whose row count the loop already
# tracks: plain localCheckpoints carry inflated size ESTIMATES that
# silently disqualify genuinely-small tables from auto-broadcast (measured
# ×1.5 on SCC, BENCH.md r5 2×2). Above this bound — and always at web
# scale, where these tables are vertex-sized — the hint self-disables and
# the shuffle plan is the right one.
BROADCAST_HINT_MAX = 2_000_000

# rough on-disk/in-cache cost of one (src_id, dst_id) edge row; only feeds
# the bounded partition-count heuristic below, so ±4x error is harmless
# (the result is clamped to [8, shuffle.partitions] either way)
_BYTES_PER_EDGE = 16
_UNKNOWN_SIZE = (1 << 63) - 1  # spark.sql.defaultSizeInBytes sentinel


def plan_input_bytes(df: DataFrame) -> int | None:
    """Sum of leaf-relation sizes from the optimized logical plan (file
    scan statistics for parquet/CSV relations, cached sizes for
    checkpointed RDDs). Returns None when any leaf reports the unknown
    sentinel so callers can fall back to counting. Driver-side plan
    inspection only — touches zero data."""
    try:
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        total = 0
        for i in range(leaves.size()):
            size = int(str(leaves.apply(i).stats().sizeInBytes()))
            if size >= _UNKNOWN_SIZE:
                return None
            total += size
        return total
    except Exception:  # py4j / analysis failure — caller falls back
        return None


def default_partitions(spark, edges: DataFrame) -> int:
    """Partition-count default WITHOUT scanning the data: estimate the
    edge count from leaf-relation plan statistics; ``edges.count()`` only
    as a last resort. At cluster scale callers pin ``num_partitions``
    explicitly — this keeps the *default* from starting every operator
    with a full edge-table read just to size its shuffles. With
    ``spark.sql.shuffle.partitions`` at or below ``MIN_PARTITIONS`` no
    edge count can change the answer, so neither the plan nor the data
    is looked at."""
    if int(spark.conf.get("spark.sql.shuffle.partitions")) <= MIN_PARTITIONS:
        return MIN_PARTITIONS
    n_bytes = plan_input_bytes(edges)
    if n_bytes is not None:
        return auto_partitions(spark, max(1, n_bytes // _BYTES_PER_EDGE))
    return auto_partitions(spark, edges.count())


def dedup_edges(edges: DataFrame, drop_self_loops: bool = True) -> DataFrame:
    """Deduplicate parallel edges; optionally drop self-loops.

    Analog of the HashSet dedup in BuildTextGraph.java:92-103, done
    *before* adjacency assembly so downstream operators see a simple graph.
    """
    out = edges.select(SRC, DST).where(F.col(SRC).isNotNull() & F.col(DST).isNotNull())
    if drop_self_loops:
        out = out.where(F.col(SRC) != F.col(DST))
    return out.distinct()


def vertices(edges: DataFrame) -> DataFrame:
    """All vertex ids appearing as src or dst → one column ``id``."""
    return (
        edges.select(F.col(SRC).alias("id"))
        .unionByName(edges.select(F.col(DST).alias("id")))
        .distinct()
    )


def out_degrees(edges: DataFrame) -> DataFrame:
    """(id, out_degree) for vertices with at least one out-edge."""
    return edges.groupBy(F.col(SRC).alias("id")).agg(F.count("*").alias("out_degree"))


def in_degrees(edges: DataFrame) -> DataFrame:
    return edges.groupBy(F.col(DST).alias("id")).agg(F.count("*").alias("in_degree"))


def dangling_vertices(edges: DataFrame) -> DataFrame:
    """Vertices that appear only as destinations (graph sinks).

    Reference: PrepareRemainingNodesJoin.java:151-167 — a left-outer join
    deliberately modified to emit only rows with an empty right list,
    which is exactly a left-anti join.
    """
    dsts = edges.select(F.col(DST).alias("id")).distinct()
    srcs = edges.select(F.col(SRC).alias("id")).distinct()
    return dsts.join(srcs, "id", "left_anti")


def undirected_view(
    edges: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """Symmetric closure with dedup — input to CC / LPA / triangles.

    ``num_partitions`` places the repartition BEFORE the dedup: hash(src)
    satisfies the distinct aggregate's (src, dst) clustering, so one
    exchange yields the deduplicated set already partitioned by src —
    callers that chained ``.repartition(P, SRC)`` after the distinct paid
    a second full-table exchange for the same layout."""
    sym = edges.select(SRC, DST).unionByName(
        edges.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST))
    )
    sym = sym.where(F.col(SRC) != F.col(DST))
    if num_partitions:
        return sym.repartition(num_partitions, SRC).dropDuplicates()
    return sym.distinct()


def partition_lineage(edges: DataFrame, num_partitions: int) -> DataFrame:
    """(part, edge_count) — per-partition edge counts under the engine's
    pmod(src_id, P) layout, at most P rows in no particular order.
    Recorded once per run into the lineage metrics (north_rule:
    per-partition lineage); the per-iteration delta/mass rows
    are in ``PageRankResult.metrics``. The reference's analog is Hadoop's
    per-task counters (RunPageRankBasic.java:34-36)."""
    return (
        edges.groupBy(
            F.pmod(F.col(SRC), F.lit(num_partitions)).cast("int").alias("part")
        )
        .agg(F.count("*").alias("edge_count"))
    )


def adjacency_lists(edges: DataFrame, dedup: bool = True) -> DataFrame:
    """(id, dsts array<long> sorted) — the reference's adjacency assembly:
    group-by-src with HashSet dedup (BuildTextGraph.java:82-113, A2) or
    multigraph keep-duplicates (BuildTextMultigraph.java:76-92, A3).
    Sorted for deterministic output; sink vertices are absent (the
    reference appends them via the remaining-nodes file union, S9/U1 —
    callers union ``dangling_vertices`` when they need every vertex)."""
    collect = F.collect_set(DST) if dedup else F.collect_list(DST)
    return edges.groupBy(F.col(SRC).alias("id")).agg(
        F.sort_array(collect).alias("dsts")
    )


def contributions_table(
    edges: DataFrame,
    num_partitions: int | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Per-edge PageRank weight table: (src_id, dst_id, weight).

    Unweighted (default): weight = 1/out_degree. With ``weight_col``: an
    explicit per-edge weight w, normalized per source to w/Σw(src) so
    each vertex still emits exactly its score.

    Precomputed once per PageRank run (the reference recomputes ``p - log d``
    per message per iteration, RunPageRankBasic.java:79-88). Partitioned by
    ``src_id`` so the per-iteration score join co-locates without
    re-shuffling the (large) edge side.
    """
    if weight_col is None:
        deg = out_degrees(edges)
        contrib = edges.join(deg, edges[SRC] == deg["id"], "inner").select(
            F.col(SRC),
            F.col(DST),
            (F.lit(1.0) / F.col("out_degree").cast("double")).alias("weight"),
        )
    else:
        # a null or non-positive weight would make w/Σw null (F.sum then
        # silently drops that mass and total rank drifts below 1) — fail
        # loudly instead; with all weights > 0 every per-source sum is > 0,
        # so no zero-sum source can slip past the dangling-mass accounting
        w = F.col(weight_col).cast("double")
        bad = edges.where(w.isNull() | (w <= 0) | F.isnan(w)).limit(1).count()
        if bad:
            raise ValueError(
                f"weight_col {weight_col!r} contains null/NaN/non-positive "
                "values; PageRank mass conservation requires weights > 0"
            )
        tw = edges.groupBy(F.col(SRC).alias("id")).agg(
            F.sum(F.col(weight_col).cast("double")).alias("tw")
        )
        contrib = edges.join(tw, edges[SRC] == tw["id"], "inner").select(
            F.col(SRC),
            F.col(DST),
            (F.col(weight_col).cast("double") / F.col("tw")).alias("weight"),
        )
    if num_partitions:
        contrib = contrib.repartition(num_partitions, SRC)
    return contrib


def quotient_graph(
    edges: DataFrame,
    mapping: DataFrame,
    keep_internal: bool = True,
) -> DataFrame:
    """Contract the page graph along a vertex→group mapping: the host- or
    domain-level rollup of a Common-Crawl link graph (pages → hosts),
    (src_group, dst_group, weight) with weight = number of underlying
    page edges. ``mapping`` is (id, grp); vertices absent from the
    mapping drop out (their edges carry no group). ``keep_internal=False``
    drops intra-group edges (self-loops of the quotient).

    Plan: two hash joins against the (small) mapping — Catalyst
    broadcasts it when it fits — plus one aggregate keyed on the group
    pair. At 10^12 pages the mapping (one row per page) is NOT small, but
    it is partitioned on id like everything else and the joins co-locate;
    the output has one row per (host, host) pair, orders of magnitude
    smaller than the input.
    """
    src_m = mapping.select(F.col("id").alias(SRC), F.col("grp").alias("src_grp"))
    dst_m = mapping.select(F.col("id").alias(DST), F.col("grp").alias("dst_grp"))
    q = edges.join(src_m, SRC).join(dst_m, DST)
    if not keep_internal:
        q = q.where(F.col("src_grp") != F.col("dst_grp"))
    return q.groupBy("src_grp", "dst_grp").agg(F.count(F.lit(1)).alias("weight"))


def reciprocity(edges: DataFrame) -> DataFrame:
    """1-row (reciprocal_edges, total_edges, reciprocity) over the
    directed simple graph: the fraction of edges u→v whose reverse v→u
    also exists. High reciprocity distinguishes social/link-exchange
    subgraphs from the mostly one-way citation shape of a web crawl.

    Plan: one self-join on the reversed key + one 1-row aggregate.
    The reverse side of a deduplicated simple graph is itself distinct,
    so the left join cannot fan out — |join| == |E| exactly, and the
    join keys are the edge pair itself (fixed-width, skew-free)."""
    e = dedup_edges(edges)
    rev = e.select(
        F.col(DST).alias(SRC), F.col(SRC).alias(DST), F.lit(1).alias("has_rev")
    )
    return (
        e.join(rev, [SRC, DST], "left")
        .agg(
            F.sum(F.coalesce("has_rev", F.lit(0))).alias("reciprocal_edges"),
            F.count(F.lit(1)).alias("total_edges"),
        )
        .select(
            "reciprocal_edges",
            "total_edges",
            F.when(
                F.col("total_edges") > 0,
                F.col("reciprocal_edges").cast("double") / F.col("total_edges"),
            )
            .otherwise(0.0)
            .alias("reciprocity"),
        )
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """1-row (assortativity) — Pearson correlation of the undirected
    degrees at the two endpoints of each edge, over the symmetric view so
    the statistic is orientation-free (the standard Newman r). Positive:
    hubs link to hubs; web crawl graphs are typically disassortative.

    Plan: degree agg + two joins + one corr aggregate; no driver-side
    iteration, a single reduce to one row.
    """
    sym = undirected_view(edges)
    deg = sym.groupBy(F.col(SRC).alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    joined = (
        sym.join(deg.select(F.col("id").alias(SRC), F.col("deg").alias("deg_s")), SRC)
        .join(deg.select(F.col("id").alias(DST), F.col("deg").alias("deg_d")), DST)
    )
    return joined.agg(
        F.corr(F.col("deg_s").cast("double"), F.col("deg_d").cast("double")).alias(
            "assortativity"
        )
    )
