"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All query definitions live in
``deltalake_datafusion_spark/queries/`` — each QuerySpec pairs the
Spark DataFrame builder with its DuckDB oracle SQL so the two can't
drift apart.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def _ship_package(spark: SparkSession) -> None:
    """Make the package importable on executor Python workers.

    A driver-provided session may have been launched from any cwd
    with no PYTHONPATH; the handful of Arrow-batched stages
    (mapInPandas in the Delta write path, multimodal decode, Bloom
    probe) pickle functions that import this package on the worker.
    addPyFile distributes a zip of the package once per context —
    idempotent via a context attribute, ~1 s, driver-side data files
    (e.g. the PSL snapshot) are still read from the repo path."""
    sc = spark.sparkContext
    if getattr(sc, "_ddfs_pkg_shipped", False):
        return
    import tempfile
    import zipfile

    pkg = os.path.join(_REPO, "deltalake_datafusion_spark")
    fd, zpath = tempfile.mkstemp(
        prefix="ddfs_pkg_", suffix=".zip"
    )
    os.close(fd)
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, _REPO))
    sc.addPyFile(zpath)
    sc._ddfs_pkg_shipped = True


def _configure(spark: SparkSession) -> SparkSession:
    """Apply engine-required session confs to a driver-provided session."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # runtime-immutable in some builds; load_tables copes
    try:
        # perf-only: let AQE re-plan inside cached subplans (operations
        # persist the frames they share; see session.get_spark)
        spark.conf.set(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
    except Exception:
        pass
    try:
        # perf-only: Delta scans pass exact leaf-file lists, so the
        # 32-path cutoff's distributed listing job is pure overhead
        # (see session.get_spark)
        spark.conf.set(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            os.environ.get("SPARK_GRAFT_LISTING_JOB_THRESHOLD", "10000"),
        )
    except Exception:
        pass
    try:
        _ship_package(spark)
    except Exception:
        pass  # already importable via the driver's own PYTHONPATH
    return spark


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from deltalake_datafusion_spark.queries.relational import q1_pricing_summary

    return q1_pricing_summary(_configure(spark), "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from deltalake_datafusion_spark.queries import all_query_specs

    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for spec in all_query_specs():
        out[spec.name] = (
            lambda spark, sf_dir, _b=spec.build: _b(_configure(spark), sf_dir)
        )
    return out


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL for each hash-checkable query."""
    from deltalake_datafusion_spark.queries import all_query_specs

    return {s.name: s.oracle for s in all_query_specs() if s.oracle is not None}
