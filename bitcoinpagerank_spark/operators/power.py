"""The power-iteration kernel of the PageRank family.

PageRank (uniform, personalized, weighted), HITS, SALSA, Katz and
eigenvector centrality iterate one half-step, a sparse aggregate over
one join (LMFAO, "A Layered Aggregate Engine for Analytics Workloads",
SIGMOD 2019):

    x'(v) = update(x(v), Σ_{u→v} w(u, v)·x(u))

This module owns what they share:

* ``loop_session``: the session their rounds run in, a clone of the
  caller's with AQE off and the loop's partition count as its shuffle
  partitions. The caller's conf is never written.
* ``prepare``: the edge table with its weight columns, hash-partitioned
  by src and persisted, and the vertex table, by id.
* ``spmv``: the half-step.

The operators keep only what differs: the update expression, the
aggregates observed on each round's checkpoint, PageRank's convergence
test and snapshots, and HITS/SALSA's second half-step.
"""

from __future__ import annotations

from typing import Callable

from pyspark import RDD
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .edges import SRC, DST, in_degrees, out_degrees, vertices


def loop_session(spark: SparkSession, num_partitions: int) -> SparkSession:
    """A clone of ``spark`` for an iterate loop's rounds: AQE off, and
    ``num_partitions`` shuffle partitions.

    The clone shares the SparkContext, the cache and every other conf
    value, so the caller's session is untouched and other queries on it
    keep their plans. Frames cross between the two with ``moved``.

    The shuffle partitions match the partitioning of the loop's tables,
    so a half-step's sums land on the layout of the vertex table they
    are joined to; with another count the update join shuffles the sums
    a second time.

    Why AQE off (PageRank, ``crawl_edges(5000)``, 15 iterations,
    ``local[4]``, 8 partitions, 10 interleaved pairs): with AQE on, a
    round runs 4-5 jobs instead of 1, broadcasts the received sums, and
    reshuffles the ranks every round, because a ``localCheckpoint``'s
    ``LogicalRDD`` reports ``UnknownPartitioning(0)`` under AQE even when
    its plan was hash-partitioned by id; the loop ran 5.30 s against
    4.65 s. AQE off as the session default instead made perfbench's
    ``crawl_graph`` faster but ``neardup_docs`` slower (7.00 -> 8.52 s),
    so sessions keep it on and only loop rounds run without it."""
    jss = spark._jsparkSession.cloneSession()  # noqa: SLF001
    conf = jss.conf()
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.shuffle.partitions", str(num_partitions))
    # the constructor points every rdd.toDF() at the newest session
    to_df = RDD.toDF
    loop = type(spark)(spark.sparkContext, jss)
    RDD.toDF = to_df
    return loop


def moved(df: DataFrame, session: SparkSession) -> DataFrame:
    """``df``'s analyzed plan as a frame of ``session``."""
    dataset = getattr(session._jvm, "org.apache.spark.sql.classic.Dataset")  # noqa: SLF001
    jdf = dataset.ofRows(session._jsparkSession, df._jdf.logicalPlan())  # noqa: SLF001
    return DataFrame(jdf, session)


def prepare(
    edges: DataFrame, num_partitions: int, op: str,
    weights: str | None = None, weight_col: str | None = None,
    sources: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, int, int]:
    """(edge table, vertex table, vertex count, edge count) of the
    non-null edges of ``edges``. The edge table is hash-partitioned by
    src and the vertex table by id, both persisted, so a round moves only
    vertex-sized tables (and the sums of a half-step whose ``frm`` is
    dst).

    ``weights`` picks the edge table's columns:

    * None: (src_id, dst_id);
    * ``"pagerank"``: + ``weight`` = 1/outdeg(src), or w/Σw(src) of
      ``weight_col``, so each vertex sends exactly its score. The vertex
      table carries ``dangling`` (no out-edge) and, with ``sources``,
      ``is_src``;
    * ``"stochastic"``: + ``inv_od`` = 1/outdeg(src) and ``inv_id`` =
      1/indeg(dst) (SALSA).

    Raises ValueError on a graph with no non-null edge, or with a
    ``weight_col`` value that is null, NaN or not positive."""
    e = edges.where(F.col(SRC).isNotNull() & F.col(DST).isNotNull())
    verts = vertices(e)
    if weights == "pagerank":
        if weight_col is None:
            w, total = F.lit(1.0), F.count("*")
        else:
            # a null or non-positive weight would make w/Σw null (F.sum
            # then silently drops that mass and total rank drifts below
            # 1); with all weights > 0 every per-source sum is > 0
            w = F.col(weight_col).cast("double")
            if e.where(w.isNull() | (w <= 0) | F.isnan(w)).limit(1).count():
                raise ValueError(
                    f"weight_col {weight_col!r} contains null/NaN/non-positive "
                    "values; PageRank mass conservation requires weights > 0"
                )
            total = F.sum(w)
        out = e.groupBy(F.col(SRC).alias("id")).agg(total.alias("total"))
        e = e.join(out, e[SRC] == out["id"]).select(
            SRC, DST, (w / F.col("total").cast("double")).alias("weight")
        )
        flags = [F.col("total").isNull().alias("dangling")]
        verts = verts.join(out, "id", "left")
        if sources is not None:
            is_src = sources.select("id").distinct().withColumn("is_src", F.lit(True))
            verts = verts.join(is_src, "id", "left")
            flags.append(F.coalesce("is_src", F.lit(False)).alias("is_src"))
        verts = verts.select("id", *flags)
    elif weights == "stochastic":
        e = (
            e.join(out_degrees(e).withColumnRenamed("id", SRC), SRC)
            .join(in_degrees(e).withColumnRenamed("id", DST), DST)
            .select(
                SRC, DST,
                (F.lit(1.0) / F.col("out_degree")).alias("inv_od"),
                (F.lit(1.0) / F.col("in_degree")).alias("inv_id"),
            )
        )
    else:
        e = e.select(SRC, DST)
    e = e.repartition(num_partitions, SRC).persist()
    n_edges = e.count()
    verts = verts.repartition(num_partitions, "id").persist()
    n = verts.count()
    if n == 0:
        e.unpersist()
        verts.unpersist()
        raise ValueError(f"{op} on an empty graph: edge table has no non-null edges")
    return e, verts, n, n_edges


def spmv(
    e: DataFrame, frm: str, to: str, weight: str | None = None,
) -> Callable[[DataFrame, list[Column]], DataFrame]:
    """The half-step ``(x, out) -> x'``: with x a vertex table (id,
    score, ...) partitioned by id,

        recv(v) = Σ_{e: frm=u, to=v} x.score(u)·e.weight

    then ``x ⟕ recv`` on id projected to ``out``, which may read x's
    columns and ``recv`` (NULL where v received nothing).

    Both joins are shuffled hash joins, pinned by hint: the vertex side
    builds the table, so the edge side, already partitioned by src, is
    streamed, and the update join sorts neither side. With ``frm`` =
    src the only Exchange of the half-step is the one of the sums by
    ``to``. Spark combines the sums map-side before that Exchange:
    measured on 48M edges (16 pinned cores, interleaved A/B), this
    partial + final aggregate beat an explicit repartition by ``to`` plus
    one complete aggregate by ~10 % per iteration. Broadcasting x instead
    was slower too (SURVEY.md §4.2 item 3): it changes every round.

    Every Column is built here, once per loop: PySpark pays py4j round
    trips for each Column it builds (a dozen for ``F.col``), so a round
    builds only its DataFrame ops and whatever ``out`` changes per round."""
    on_frm = e[frm] == F.col("id")
    key = F.col(to)
    score = F.col("score")
    mass = [key, (score * F.col(weight) if weight else score).alias("mass")]
    recv = F.sum("mass").alias("recv")
    id_score = [F.col("id"), score]
    on_to = F.col("id") == key

    def step(x: DataFrame, out: list[Column]) -> DataFrame:
        sums = (
            e.join(x.select(*id_score).hint("SHUFFLE_HASH"), on_frm)
            .select(*mass)
            .groupBy(key)
            .agg(recv)
        )
        return x.join(sums.hint("SHUFFLE_HASH"), on_to, "left").select(*out)

    return step
