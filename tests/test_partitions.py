"""Partition-count defaults derived from plan statistics (VERDICT r4
"What's wrong #2"): operators must not run a full edge scan purely to
pick a shuffle width — leaf-relation sizes from the optimized plan feed
the heuristic, with count() only as a last resort."""

from __future__ import annotations

import pytest

from bitcoinpagerank_spark.operators.edges import (
    MIN_PARTITIONS,
    auto_partitions,
    default_partitions,
    plan_input_bytes,
)
from tests.conftest import edges_df


def test_plan_input_bytes_unknown_leaf_is_none(spark):
    # python createDataFrame yields a LogicalRDD with the Long.Max unknown
    # sentinel — the helper must report None so callers fall back to count
    e = edges_df(spark, [(1, 2), (2, 3), (3, 1)])
    assert plan_input_bytes(e) is None


def test_plan_input_bytes_parquet(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n = plan_input_bytes(docs.select("doc_id"))
    assert n is not None and n > 0


def test_default_partitions_bounds(spark):
    e = edges_df(spark, [(1, 2), (2, 3)])
    p = default_partitions(spark, e)
    hi = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert 8 <= p <= max(8, hi)
    # matches the row-count heuristic's clamp behavior on tiny inputs
    assert p == auto_partitions(spark, 2)


def test_default_partitions_runs_no_job_at_min_partitions(spark):
    """At or below MIN_PARTITIONS shuffle partitions every edge count
    gives MIN_PARTITIONS, so a frame with unknown leaf statistics is not
    counted."""
    e = edges_df(spark, [(1, 2), (2, 3), (3, 1)])
    assert plan_input_bytes(e) is None
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) <= MIN_PARTITIONS
    sc = spark.sparkContext._jsc.sc()  # noqa: SLF001
    before = sc.dagScheduler().nextJobId()
    assert default_partitions(spark, e) == MIN_PARTITIONS
    assert sc.dagScheduler().nextJobId() == before


def test_bowtie_raises_on_truncated_sweep(spark):
    # directed diameter 5 > max_iter 2: a silent truncation would
    # misclassify regions vs the unbounded oracle closure (ADVICE r4 #2)
    from bitcoinpagerank_spark.operators.bowtie import bowtie

    path = edges_df(spark, [(i, i + 1) for i in range(1, 7)])
    with pytest.raises(ValueError, match="truncated"):
        bowtie(spark, path, max_iter=2)
