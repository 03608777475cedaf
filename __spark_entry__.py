"""Driver contract for the PySpark engine.

``entry(spark)`` runs the flagship query (PageRank to convergence on the
deterministic documents-derived link graph at sf0.001, top-20 by score).
``queries()`` / ``oracle_sql()`` expose the full operator catalog
(bitcoinpagerank_spark/plans/catalog.py): 144 DuckDB-verifiable operators
plus 5 rows-only entries for the non-SQL-expressible approximate/iterative
ops (each of those is oracle-tested in pytest instead).

The driver value-checks only the first 50 entries of ``queries()`` per
round and records each round in ``CORRECTNESS_r*.json`` beside this file.
This module, not the catalog, reads those records: it orders previously
red entries first, then oracled entries the driver has never checked,
then driver-green ones, and rows-only entries last, so the bounded window
rotates through the whole catalog across rounds. Every entry, wherever it
sits, stays value-checked every session by tests/test_catalog_oracles.py.
"""

from __future__ import annotations

import json
import re
import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

ROOT = Path(__file__).resolve().parent
sys.path.insert(0, str(ROOT))

from bitcoinpagerank_spark.plans import catalog  # noqa: E402
from bitcoinpagerank_spark.session import ship_package  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: PageRank (damped, dangling-aware, L1 ≤ 1e-6) on the
    sf0.001 documents-derived edge table → top-20 (id, score)."""
    from pyspark.sql import functions as F

    from bitcoinpagerank_spark.operators.pagerank import pagerank, top_k

    ship_package(spark)
    edges = catalog.doc_edges(spark, "/root/testdata/sf0.001")
    res = pagerank(spark, edges, tol=1e-6, max_iter=100)
    return top_k(res.ranks, 20).select("id", F.round("score", 9).alias("score"))


def _driver_history() -> tuple[set, set]:
    """(checked, red) catalog names from the CORRECTNESS_r*.json records:
    ``checked`` = a VALUE-checked driver row ever (a rows-only
    ``no_oracle`` row doesn't count — an entry later upgraded with an
    oracle re-enters the never-checked class); ``red`` = the most recent
    row was a failure (value-hash/rows/schema mismatch or a real error)."""
    checked: set = set()
    red: set = set()

    def round_no(p: Path) -> int:
        # numeric order, not lexicographic: r100 after r99, r4 == r04
        m = re.search(r"r(\d+)", p.name)
        return int(m.group(1)) if m else -1

    for p in sorted(ROOT.glob("CORRECTNESS_r*.json"), key=round_no):
        try:
            rows = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if row.get("err") != "no_oracle":
                checked.add(name)
            ok = (
                row.get("err") in (None, "no_oracle")
                and row.get("rows_match") is not False
                and row.get("schema_match") is not False
                and row.get("hash_match") is not False
            )
            red.discard(name) if ok else red.add(name)
    return checked, red


def _ordered_names() -> list[str]:
    """Catalog names in window order: (0) previously red, (1) oracled
    and never driver-checked, (2) driver-green, (3) rows-only; stable
    (registration order) within each class. Recomputed on every call, so
    a record written mid-process takes effect at the next call."""
    checked, red = _driver_history()
    oracled = catalog.oracle_sql()

    def prio(name: str) -> int:
        if name not in oracled:
            return 3
        if name in red:
            return 0
        if name not in checked:
            return 1
        return 2

    return sorted(catalog.queries(), key=prio)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 + pipeline ops."""
    cat = catalog.queries()
    wrapped = {}
    for name in _ordered_names():
        def make(f):
            def run(spark: SparkSession, sf_dir: str) -> DataFrame:
                ship_package(spark)
                return f(spark, sf_dir)
            return run
        wrapped[name] = make(cat[name])
    return wrapped


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalents (same column names/aliases)."""
    sql = catalog.oracle_sql()
    return {name: sql[name] for name in _ordered_names() if name in sql}
