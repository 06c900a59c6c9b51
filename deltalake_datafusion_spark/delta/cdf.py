"""Change Data Feed: row-level change capture + ``table_changes``.

Implements the Delta CDF protocol surface (beyond the read-only
reference, like the rest of the write path): when
``delta.enableChangeDataFeed=true``,

- **insert-only commits** (appends) write no extra data — readers
  synthesize ``insert`` rows from the commit's add actions;
- **DML commits** (DELETE / UPDATE / MERGE / overwrite) stage the
  changed rows under ``_change_data/`` with a ``_change_type`` column
  (``delete`` / ``update_preimage`` / ``update_postimage`` /
  ``insert``) and reference them with ``cdc`` actions in the same
  atomic commit — per spec, a commit carrying any cdc action is read
  exclusively through its cdc files;
- **remove-only commits** synthesize ``delete`` rows by scanning the
  removed files (DV-aware: rows already deleted earlier are not
  re-reported).

``table_changes(spark, path, starting_version[, ending_version])``
returns the table's logical columns plus ``_change_type``,
``_commit_version``, ``_commit_timestamp`` — the standard CDF reader
schema. Scale shape: per-commit work is a parquet scan of exactly the
changed bytes; the commit walk itself is metadata-only.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CHANGE_TYPE_COL = "_change_type"
CDF_ENABLED_KEY = "delta.enableChangeDataFeed"
CDF_DIR = "_change_data"


class ChangeDataFeedError(Exception):
    pass


def cdf_enabled(configuration: dict[str, str]) -> bool:
    return (configuration or {}).get(CDF_ENABLED_KEY, "").lower() == "true"


def _physical_names(snap) -> dict[str, str]:
    from deltalake_datafusion_spark.delta.scan import _logical_to_physical_map

    return _logical_to_physical_map(snap.schema)


def stage_cdc(spark, snap, cdc_df: DataFrame) -> list[dict]:
    """Write ``cdc_df`` (logical data columns + ``_change_type``) as
    parquet under ``_change_data/`` through the writer's one stager
    (``writer._stage_and_move``) and return the cdc actions for the
    commit. Data I/O is executor-side; the driver moves file names."""
    from deltalake_datafusion_spark.delta.writer import _stage_and_move

    if snap.column_mapping_mode != "none":
        l2p = _physical_names(snap)
        cdc_df = cdc_df.select(
            *[
                F.col(f"`{c}`").alias(l2p.get(c, c))
                for c in cdc_df.columns
                if c != CHANGE_TYPE_COL
            ],
            F.col(CHANGE_TYPE_COL),
        )
    moved = _stage_and_move(
        spark, cdc_df, snap.table_path, f"{CDF_DIR}/_stage_",
        part_dir=CDF_DIR,
        name=lambda _i, _n: f"cdc-{uuid.uuid4().hex}.snappy.parquet",
    )
    # size from the pre-move listing (rename preserves it) — never a
    # local stat of the moved object, so HDFS/S3 work via HadoopFS too
    return [
        {"cdc": {"path": rel, "partitionValues": {}, "size": size,
                 "dataChange": False}}
        for rel, _pv, size, _mt in moved
    ]


def _with_commit_meta(df: DataFrame, version: int, ts_ms: int) -> DataFrame:
    return df.withColumn("_commit_version", F.lit(version).cast("long")).withColumn(
        "_commit_timestamp",
        F.timestamp_millis(F.lit(ts_ms)),
    )


def _files_as_adds(bodies: list[dict]):
    """add/remove action bodies → AddFile records for the scan helper."""
    import urllib.parse as up

    from deltalake_datafusion_spark.delta.snapshot import AddFile, _parse_dv

    out = []
    for b in bodies:
        out.append(
            AddFile(
                path=up.unquote(b["path"]),
                size=b.get("size", 0),
                modification_time=b.get("modificationTime", 0),
                partition_values=dict(b.get("partitionValues") or {}),
                stats=b.get("stats"),
                dv=_parse_dv(b.get("deletionVector")),
            )
        )
    return out


def _ts_to_ms(raw: int | str) -> int:
    try:
        return int(raw)
    except (TypeError, ValueError):
        import datetime as _dt

        return int(
            _dt.datetime.fromisoformat(str(raw))
            .replace(tzinfo=_dt.timezone.utc)
            .timestamp() * 1000
        )


def table_changes_by_timestamp(
    spark,
    table_path: str,
    starting_timestamp: int | str,
    ending_timestamp: int | str | None = None,
) -> DataFrame:
    """Row-level changes between two timestamps (epoch millis or ISO
    strings; delta-spark ``table_changes_by_timestamp``): the start
    resolves to the first commit at/after it, the end to the last
    commit at/before it."""
    from deltalake_datafusion_spark.delta.fs import fs_for
    from deltalake_datafusion_spark.delta.snapshot import (
        DeltaNotFoundError,
        _commit_timestamp,
        resolve_version_at_timestamp,
        strip_scheme,
    )
    from deltalake_datafusion_spark.delta.writer import _commit_path

    table_path = strip_scheme(table_path)
    ts0 = _ts_to_ms(starting_timestamp)
    try:
        at = resolve_version_at_timestamp(table_path, ts0, spark)
        exact = _commit_timestamp(
            _commit_path(table_path, at), fs_for(table_path, spark)
        )
        lo = at if exact == ts0 else at + 1
    except DeltaNotFoundError:
        lo = 0  # start predates the table
    hi = None
    if ending_timestamp is not None:
        hi = resolve_version_at_timestamp(
            table_path, _ts_to_ms(ending_timestamp), spark
        )
        if hi < lo:
            raise ChangeDataFeedError(
                f"ending timestamp resolves to version {hi}, before the "
                f"starting timestamp's version {lo}"
            )
    return table_changes(spark, table_path, lo, hi)


def _incompatible_schema_change(md: dict, end_schema) -> str | None:
    """Why a mid-range metaData action breaks the feed under the end
    schema — None when the change is purely additive (every field of
    the commit's schema still exists, same type, in the end schema)."""
    import json as _json

    try:
        fields = _json.loads(md.get("schemaString") or "{}").get("fields", [])
    except ValueError:
        return None
    end = {f.name: f.dataType.jsonValue() for f in end_schema.fields}
    for f in fields:
        name = f.get("name")
        if name not in end:
            return f"column {name!r} no longer exists"
        if f.get("type") != end[name]:
            return f"column {name!r} changed type"
    return None


def table_changes(
    spark,
    table_path: str,
    starting_version: int,
    ending_version: int | None = None,
) -> DataFrame:
    """Row-level changes in [starting_version, ending_version]."""
    from deltalake_datafusion_spark.delta.fs import fs_for
    from deltalake_datafusion_spark.delta.ops import _scan_with_rowmeta
    from deltalake_datafusion_spark.delta.snapshot import (
        _iter_commit_actions,
        list_log_files,
        load_snapshot,
        strip_scheme,
    )

    table_path = strip_scheme(table_path)
    snap = load_snapshot(table_path, spark=spark)
    if not cdf_enabled(snap.metadata.configuration):
        raise ChangeDataFeedError(
            f"{CDF_ENABLED_KEY} is not set on the table at {table_path}"
        )
    fs = fs_for(table_path, spark)
    commits, _ = list_log_files(table_path, spark)
    # The requested range must be FULLY covered by retained commits —
    # silently skipping versions aged out by log cleanup (or beyond
    # the tip) would hand consumers a feed with holes (matches Delta's
    # out-of-range CDF error).
    present = {v for v, _ in commits}
    tip = max(present)
    if starting_version > tip:
        raise ChangeDataFeedError(
            f"starting_version {starting_version} is beyond the latest "
            f"table version {tip} at {table_path}"
        )
    if ending_version is not None and ending_version < starting_version:
        raise ChangeDataFeedError(
            f"ending_version {ending_version} < starting_version "
            f"{starting_version}"
        )
    end = tip if ending_version is None else min(ending_version, tip)
    missing = sorted(
        v for v in range(max(starting_version, 0), end + 1) if v not in present
    )
    if missing:
        raise ChangeDataFeedError(
            f"versions {missing} in the requested change range "
            f"[{starting_version}, {end}] are no longer in the "
            f"_delta_log at {table_path} (log cleanup); start from "
            f"version {min(present)} or later"
        )
    # The feed is shaped by the schema AT THE END of the range
    # (delta-spark semantics): a bounded range ending before a later
    # REPLACE/retype reads under the schema its commits were written
    # with, not today's.
    if end != snap.version:
        snap = load_snapshot(table_path, version=end, spark=spark)
    # The schema in effect when the range STARTS must also be
    # additively compatible with the end schema: in-range commits may
    # remove (delete-image) rows written under it.
    start_v = max(starting_version, 0)
    if start_v != snap.version:
        start_snap = load_snapshot(
            table_path, version=start_v, spark=spark, with_files=False
        )
        err = _incompatible_schema_change(
            {"schemaString": json.dumps(start_snap.schema.jsonValue())},
            snap.schema,
        )
        if err:
            raise ChangeDataFeedError(
                f"the table schema at version {start_v} is incompatible "
                f"with the schema at version {end} ({err}) — a REPLACE "
                "TABLE / DROP COLUMN / retype sits inside the range; "
                "split the read at that boundary"
            )
    logical_cols = snap.schema.fieldNames()
    l2p = _physical_names(snap)
    p2l = {v: k for k, v in l2p.items()}

    def finalize(df: DataFrame) -> DataFrame:
        return df.select(
            *logical_cols,
            CHANGE_TYPE_COL,
            "_commit_version",
            "_commit_timestamp",
        )

    parts: list[DataFrame] = []
    for v, p in commits:
        if v < starting_version or (ending_version is not None and v > ending_version):
            continue
        actions = _iter_commit_actions(p, fs)
        ts_ms = 0
        for a in actions:
            if a.get("commitInfo"):
                ts_ms = a["commitInfo"].get("timestamp", 0)
                break
        # A schema change inside the range: additive evolution (new
        # nullable columns) reads fine under the END schema (old
        # changes backfill null); anything else — REPLACE TABLE, a
        # dropped column, a retype — would silently mis-shape earlier
        # changes, so refuse loudly (delta-spark's incompatible-
        # data-schema CDF error).
        for a in actions:
            md = a.get("metaData")
            if not md:
                continue
            err = _incompatible_schema_change(md, snap.schema)
            if err:
                raise ChangeDataFeedError(
                    f"commit {v} changed the table schema incompatibly "
                    f"({err}); CDF cannot span it — end before version "
                    f"{v} or start at/after it"
                )
        cdcs = [a["cdc"] for a in actions if a.get("cdc")]
        if cdcs:
            paths = [os.path.join(table_path, c["path"]) for c in cdcs]
            df = spark.read.parquet(*paths)
            df = df.select(
                *[F.col(f"`{c}`").alias(p2l.get(c, c)) for c in df.columns]
            )
            # columns added to the table AFTER this commit: backfill
            # null so the feed carries the end schema
            for f in snap.schema.fields:
                if f.name not in df.columns:
                    df = df.withColumn(
                        f.name, F.lit(None).cast(f.dataType)
                    )
            parts.append(finalize(_with_commit_meta(df, v, ts_ms)))
            continue
        adds = [a["add"] for a in actions if a.get("add") and a["add"].get("dataChange")]
        removes = [
            a["remove"]
            for a in actions
            if a.get("remove") and a["remove"].get("dataChange", True)
        ]
        if adds and removes:
            raise ChangeDataFeedError(
                f"commit {v} mixes adds and removes without cdc actions "
                "(an overwrite/REPLACE written without CDF, or a replace "
                "boundary); start table_changes after it"
            )
        for bodies, ctype in ((adds, "insert"), (removes, "delete")):
            if not bodies:
                continue
            files = _files_as_adds(bodies)
            df = (
                _scan_with_rowmeta(spark, snap, None, files=files)
                .drop("__row_index", "__file_path")
                .withColumn(CHANGE_TYPE_COL, F.lit(ctype))
            )
            parts.append(finalize(_with_commit_meta(df, v, ts_ms)))

    if not parts:
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
            TimestampType,
        )

        empty_schema = StructType(
            list(snap.schema.fields)
            + [
                StructField(CHANGE_TYPE_COL, StringType()),
                StructField("_commit_version", LongType()),
                StructField("_commit_timestamp", TimestampType()),
            ]
        )
        return spark.createDataFrame([], empty_schema)
    out = parts[0]
    for df in parts[1:]:
        out = out.unionByName(df)
    return out
