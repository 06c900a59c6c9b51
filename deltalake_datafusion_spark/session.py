"""SparkSession construction + namespaced engine config.

Mirrors the reference's session extension and config surface
(reference: ``crates/datafusion/src/session.rs:240-311``,
``crates/datafusion/src/config.rs:5-57``): the reference registers a
``lakehouse.*``-namespaced config extension on the DataFusion session;
here the same keys live in ``spark.conf`` and are read through a typed
accessor.

Scale notes: every default below is chosen for cluster execution —
AQE on (runtime re-planning, skew-join splitting, partition
coalescing), adaptive broadcast thresholds, and UTC session time so
Delta TIMESTAMP (UTC-adjusted micros) semantics match the kernel's
(reference: ``crates/datafusion/src/engine/expressions/to_datafusion.rs:47-50``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import SparkSession

# Config keys — same names as the reference's extension options
# (reference: crates/datafusion/src/config.rs:5-57).
CONF_UNITY_URI = "lakehouse.unity.uri"
CONF_UNITY_TOKEN = "lakehouse.unity.token"
CONF_ENABLE_CACHING = "lakehouse.delta.enable_caching"
CONF_RETENTION_CHECK = "lakehouse.delta.retention_duration_check.enabled"
# Opt-in: executors write DV files directly to the table path on a
# NON-local master (requires genuinely shared storage — NFS/fuse).
# Local masters always executor-write; clusters default to shipping
# blobs to the driver. Verified driver-side before the first commit.
CONF_DV_EXECUTOR_WRITE = "lakehouse.delta.dv.executor_write"

_DEFAULTS = {
    CONF_ENABLE_CACHING: "false",
    CONF_RETENTION_CHECK: "true",
    CONF_DV_EXECUTOR_WRITE: "false",
}


def get_spark(
    app_name: str = "deltalake-datafusion-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession tuned for this engine.

    local[N] in tests; on a real cluster the master/conf come from
    spark-submit and only the semantic confs below matter.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE re-plan (broadcast conversion, partition coalescing)
        # INSIDE cached subplans: operations persist the frames they
        # share (see materialize.py) and without this a persist
        # freezes the pre-AQE plan — a cached tiny join
        # stays sort-merge over the static shuffle-partition count.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # TIMESTAMP(NANOS) parquet (e.g. the events table) is read as
        # LongType and converted to µs timestamps JVM-side; Spark has
        # no native ns timestamp type.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Delta scans pass the EXACT leaf-file list from the log (no
        # directory recursion), so the default 32-path cutoff launches
        # a whole Spark job just to re-stat files whose sizes the log
        # already records — one redundant job on every read of a
        # >32-file table (observed: 137-task listing job per
        # delta_zorder_multi read). Raising the cutoff lists serially
        # driver-side (one stat per file — trivial on local/HDFS; for
        # object-store deployments with >10k-file tables, lower it
        # back via this env var).
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            os.environ.get("SPARK_GRAFT_LISTING_JOB_THRESHOLD", "10000"),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


@dataclass
class EngineConfig:
    """Typed accessor over the ``lakehouse.*`` conf namespace."""

    unity_uri: str | None
    unity_token: str | None
    enable_caching: bool
    retention_duration_check_enabled: bool

    @classmethod
    def from_spark(cls, spark: SparkSession) -> "EngineConfig":
        def get(key: str, default: str | None = None) -> str | None:
            try:
                return spark.conf.get(key, default)
            except Exception:
                return default

        return cls(
            unity_uri=get(CONF_UNITY_URI),
            unity_token=get(CONF_UNITY_TOKEN),
            enable_caching=(get(CONF_ENABLE_CACHING, "false") or "").lower()
            == "true",
            retention_duration_check_enabled=(
                get(CONF_RETENTION_CHECK, "true") or ""
            ).lower()
            == "true",
        )
