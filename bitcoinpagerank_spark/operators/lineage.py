"""The round kernel shared by every iterate loop.

Each loop round runs inside ``run_round``: its jobs carry one unique job
group, its convergence aggregates ride the round's checkpoint via
``observe()`` (zero extra stages), and its shuffle read/write bytes are
read back from the app status store (the same data the UI/REST API
serves — available with the UI server disabled), fulfilling the
north-star's "per-partition lineage (edge counts, delta-L1, shuffle
bytes)" wording without an extra listener or event-log pass.

Every round ends in ``checkpoint``: one eager ``localCheckpoint`` (one
job) whose carried size estimate is dropped, so the estimate a round
plans with does not grow with the round count.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import Column, DataFrame, Observation, SparkSession

# unique job-group token per round, so getJobIdsForGroup never picks up a
# previous run's jobs in the same session; locked because concurrent
# driver threads (e.g. SCC's overlapped fwd/bwd closures) draw tokens
# from the same counter
_SEQ = [0]
_SEQ_LOCK = threading.Lock()


def checkpoint(df: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint`` of ``df`` with a fresh size estimate.

    ``localCheckpoint`` carries the plan's ESTIMATED statistics into the
    resulting ``LogicalRDD`` (``LogicalRDD.fromDataset``), and the
    size-only estimator multiplies child sizes at every join
    (``SizeInBytesOnlyStatsPlanVisitor``). A round plan that references
    the previous checkpoint k times therefore multiplies the estimate's
    DIGIT COUNT by k per round: Louvain level-2 planning once pinned a
    driver core for minutes on a 155-vertex graph (945 digits after 6
    rounds).

    The checkpoint's ``LogicalRDD`` is re-wrapped with
    ``originStats=None`` through ``LogicalRDD.copy``, keeping its output,
    rdd, partitioning, ordering and constraints, so the estimate is the
    19-digit ``spark.sql.defaultSizeInBytes`` every round and no job runs
    beyond the checkpoint's own. Rebuilding the frame from its rdd and
    schema instead would drop ``outputPartitioning`` and put a new
    Exchange into every PageRank round."""
    cp = df.localCheckpoint(eager=True)
    spark = cp.sparkSession
    jvm, jss = spark._jvm, spark._jsparkSession  # noqa: SLF001
    node = cp._jdf.logicalPlan()  # noqa: SLF001
    # a class by its full name is one py4j lookup, not one per package
    opt = getattr(jvm, "scala.Option")
    fresh = node.copy(
        node.output(), node.rdd(), node.outputPartitioning(),
        node.outputOrdering(), node.isStreaming(), node.stream(), jss,
        opt.empty(), opt.apply(node.constraints()),
    )
    dataset = getattr(jvm, "org.apache.spark.sql.classic.Dataset")
    return type(cp)(dataset.ofRows(jss, fresh), spark)


def group_shuffle_bytes(spark: SparkSession, group: str) -> tuple[int, int]:
    """(shuffle_read_bytes, shuffle_write_bytes) summed over all stages of
    the jobs tagged with ``group``; (0, 0) if the status surface is
    unavailable (the lineage row is then still written, just without
    byte counts)."""
    try:
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()  # noqa: SLF001 — public status data
        read = write = 0
        for jid in tracker.getJobIdsForGroup(group):
            jinfo = tracker.getJobInfo(jid)
            if jinfo is None:
                continue
            for sid in list(jinfo.stageIds):
                try:
                    sd = store.lastStageAttempt(int(sid))
                except Exception:
                    continue  # evicted or still pending
                read += int(sd.shuffleReadBytes())
                write += int(sd.shuffleWriteBytes())
        return read, write
    except Exception:
        return 0, 0


def _named(aggs: dict[str, Column]) -> list[Column]:
    """``aggs`` as columns named by their keys. Named on the JVM side:
    ``Column.alias`` also ships the Python call site for error messages,
    about ten py4j round trips per column and round."""
    return [type(c)(getattr(c._jc, "as")(k)) for k, c in aggs.items()]  # noqa: SLF001


class Round(dict):
    """Metrics row of one loop round: the observed aggregates (NULL read
    as 0) as each checkpoint lands, then ``wall_sec``,
    ``shuffle_read_bytes`` and ``shuffle_write_bytes`` once the round's
    ``with`` block exits."""

    def __init__(self) -> None:
        super().__init__()
        self._inner: list[tuple[Observation, list[str]]] = []

    def observe(self, df: DataFrame, **aggs: Column) -> DataFrame:
        """Observe ``aggs`` on an inner node of the round's plan; read at
        the next ``checkpoint``. An inner node whose whole subtree
        produced zero rows can be skipped by AQE (no task ever runs the
        stage), leaving its metrics row empty — zero executed rows means
        the aggregates are 0."""
        obs = Observation()
        self._inner.append((obs, list(aggs)))
        return df.observe(obs, *_named(aggs))

    def checkpoint(self, df: DataFrame, **aggs: Column) -> DataFrame:
        """``checkpoint(df)`` with ``aggs`` observed on it: one job."""
        if aggs:
            obs = Observation()
            df = df.observe(obs, *_named(aggs))
        df = checkpoint(df)
        if aggs:
            self.update({k: v or 0 for k, v in obs.get.items()})
        for inner, keys in self._inner:
            try:
                got = inner.get
            except Exception:
                got = {}
            self.update({k: got.get(k) or 0 for k in keys})
        self._inner.clear()
        return df


@contextmanager
def run_round(spark: SparkSession, op: str, iteration: int,
              desc: str) -> Iterator[Round]:
    """One iterate-loop round: every job inside runs under the job group
    ``{op}_{seq}_it{iteration}``; the yielded ``Round`` is the round's
    metrics row."""
    t0 = time.monotonic()
    with _SEQ_LOCK:
        _SEQ[0] += 1
        group = f"{op}_{_SEQ[0]}_it{iteration}"
    rnd = Round()
    spark.sparkContext.setJobGroup(group, desc)
    try:
        yield rnd
    finally:
        spark.sparkContext.setJobGroup(None, None)
    srb, swb = group_shuffle_bytes(spark, group)
    rnd.update(wall_sec=time.monotonic() - t0,
               shuffle_read_bytes=srb, shuffle_write_bytes=swb)
