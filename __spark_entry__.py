"""Driver contract for the spark-graft builder (PySpark target).

Thin adapter over shared_etl_pipelines_spark.queries.REGISTRY — the
engine's named-query registry where every implemented operator from
SURVEY.md §2 lives alongside its DuckDB oracle SQL.

``queries()`` and ``oracle_sql()`` list the registry in gate order, derived
once per process when either is first called
(shared_etl_pipelines_spark/fingerprint.py): the queries whose latest
verdict in ``CORRECTNESS_r*.json`` is not green, or whose code changed
since the fingerprint pinned for that verdict, come first, oldest passing
verdict first; then the fresh queries; then the queries without oracle
SQL. ``REGISTRY`` itself stays in definition order.
"""

from __future__ import annotations

import functools
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from shared_etl_pipelines_spark import queries as Q  # noqa: E402

SMOKE_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (G4 zonal statistics) on sf0.001; driver checks rows>0."""
    return Q.REGISTRY["zonal_stats"].fn(spark, SMOKE_DIR)


def _fresh(fn: Callable[[SparkSession, str], DataFrame]):
    """Unpersist leftover RDD-level storage before building each query
    (engine.sweep_persistent_rdds has the full rationale).

    Contract: the gate evaluates queries SEQUENTIALLY (build one,
    collect it, move to the next) — which both the external driver and
    tools/check_correctness.py do. A harness that interleaves (builds
    several DataFrames, then collects them later) must call the raw
    builders from queries.REGISTRY instead: the sweep would release
    localCheckpoint blocks an earlier, still-unevaluated DataFrame
    depends on, and truncated lineage cannot recompute them.
    """

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        from shared_etl_pipelines_spark.engine import sweep_persistent_rdds

        sweep_persistent_rdds(spark)
        return fn(spark, sf_dir)

    return wrapped


@functools.cache
def _gate_order() -> tuple[str, ...]:
    """Derived once per process: ``queries()`` and ``oracle_sql()`` share
    one walk over the package source."""
    from shared_etl_pipelines_spark.fingerprint import gate_order

    return tuple(gate_order(Q.REGISTRY))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in gate order."""
    return {name: _fresh(Q.REGISTRY[name].fn) for name in _gate_order()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL per query (omitted => rows-only check),
    in gate order."""
    return {n: Q.REGISTRY[n].sql for n in _gate_order() if Q.REGISTRY[n].sql is not None}
