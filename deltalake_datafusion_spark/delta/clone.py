"""CLONE (shallow + deep) + commit history.

``clone_delta(shallow=True)`` creates a zero-copy table: a new
``_delta_log`` whose add actions reference the source's data files by
absolute path and whose deletion-vector descriptors are rewritten to
absolute (``p``-storage) form. Pure metadata — cloning a 100 TB table
costs one log write, the standard shallow-clone shape. Caveat (same
as Delta's): VACUUM on the *source* can remove files the clone still
references; VACUUM on the clone itself is safe (it only lists the
clone's own root, where no data lives).

``clone_delta(shallow=False)`` additionally copies every data and DV
file src→dst via ``foreachPartition`` on the executors — copy
bandwidth scales with the cluster — and commits root-relative paths,
producing a fully independent table.

``history_df`` surfaces commitInfo per version (DESCRIBE HISTORY):
driver-side metadata reads only.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame


class CloneError(Exception):
    pass


def _is_remote(p: str) -> bool:
    """Anything with a non-file scheme goes through the JVM Hadoop
    FileSystems (module-level so tests can force the branch)."""
    return "://" in p and not p.startswith("file://")


def _abs_dv(dv, src_root: str) -> dict | None:
    """DvDescriptor → JSON with table-root-independent addressing."""
    from deltalake_datafusion_spark.delta.deletion_vectors import (
        dv_relative_path,
    )

    if dv is None:
        return None
    if dv.storage_type == "i":  # inline: already self-contained
        return {
            "storageType": "i",
            "pathOrInlineDv": dv.path_or_inline,
            "sizeInBytes": dv.size_in_bytes,
            "cardinality": dv.cardinality,
        }
    if dv.storage_type == "u":
        abs_path = os.path.join(src_root, dv_relative_path(dv.path_or_inline))
    else:  # already absolute
        abs_path = dv.path_or_inline
    return {
        "storageType": "p",
        "pathOrInlineDv": abs_path,
        "offset": dv.offset,
        "sizeInBytes": dv.size_in_bytes,
        "cardinality": dv.cardinality,
    }


def clone_delta(
    spark, src_path: str, dst_path: str, shallow: bool = True,
    version: int | None = None, timestamp_as_of: int | str | None = None,
) -> dict:
    """Clone ``src_path`` into a new table at ``dst_path`` — at its
    latest version, or a time-travel point via ``version`` /
    ``timestamp_as_of`` (delta-spark ``SHALLOW CLONE src VERSION AS
    OF n``). Returns {files, version, source_version}."""
    from deltalake_datafusion_spark.delta.snapshot import (
        DeltaNotFoundError,
        load_snapshot,
        resolve_version_at_timestamp,
        strip_scheme,
    )
    from deltalake_datafusion_spark.delta.writer import (
        _metadata_action,
        _url_encode_path,
        commit,
        state_actions,
    )

    src_root = strip_scheme(src_path)
    dst_root = strip_scheme(dst_path)
    try:
        load_snapshot(dst_root, spark=spark)
        raise CloneError(f"destination already exists: {dst_path}")
    except DeltaNotFoundError:
        pass
    if timestamp_as_of is not None:
        if version is not None:
            raise ValueError("pass either version or timestamp_as_of")
        if isinstance(timestamp_as_of, str):
            import datetime as _dt

            ts = _dt.datetime.fromisoformat(timestamp_as_of)
            if ts.tzinfo is None:
                ts = ts.replace(tzinfo=_dt.timezone.utc)
            timestamp_as_of = int(ts.timestamp() * 1000)
        version = resolve_version_at_timestamp(
            src_root, timestamp_as_of, spark
        )
    snap = load_snapshot(src_root, version=version, spark=spark)

    proto = state_actions(snap)[0]
    md = _metadata_action(
        snap.schema,
        snap.partition_columns,
        dict(snap.metadata.configuration),
        str(uuid.uuid4()),
        snap.metadata.name,
    )
    md["metaData"]["description"] = snap.metadata.description
    if not shallow:
        # Deep clone: copy every data file (and DV file) src→dst — on
        # the EXECUTORS for local paths (one foreachPartition over the
        # file list, so copy bandwidth scales with the cluster), via
        # the JVM Hadoop FileSystems when either side is remote.
        pairs = []
        for f in snap.files:
            pairs.append((os.path.join(src_root, f.path), f.path))
            if f.dv and f.dv.storage_type in ("u", "p"):
                from deltalake_datafusion_spark.delta.deletion_vectors import (
                    dv_relative_path,
                )

                rel = (
                    dv_relative_path(f.dv.path_or_inline)
                    if f.dv.storage_type == "u"
                    else os.path.basename(f.dv.path_or_inline)
                )
                src_dv = (
                    os.path.join(src_root, rel)
                    if f.dv.storage_type == "u"
                    else f.dv.path_or_inline
                )
                pairs.append((src_dv, rel))

        def _copy_partition(rows):
            import os as _os
            import shutil as _sh

            for src, rel in rows:
                dst = _os.path.join(dst_root, rel)
                _os.makedirs(_os.path.dirname(dst) or dst_root, exist_ok=True)
                _sh.copyfile(src, dst)

        if _is_remote(src_root) or _is_remote(dst_root):
            # Object-store clone: stream each file JVM-side through the
            # Hadoop FileSystems (never a local shutil, never the bytes
            # through Python). Driver-coordinated — for a multi-TB
            # remote clone prefer storage-native bulk copy, but the
            # bytes move JVM→JVM here, correctly, on any scheme.
            jvm = spark._jvm
            hconf = spark._jsc.hadoopConfiguration()
            HPath = jvm.org.apache.hadoop.fs.Path
            FileUtil = jvm.org.apache.hadoop.fs.FileUtil
            dst_fs = HPath(dst_root).getFileSystem(hconf)
            dst_fs.mkdirs(HPath(dst_root))
            for src, rel in pairs:
                sp = HPath(src)
                dp = HPath(os.path.join(dst_root, rel))
                FileUtil.copy(
                    sp.getFileSystem(hconf), sp, dst_fs, dp,
                    False, True, hconf,
                )
        else:
            os.makedirs(dst_root, exist_ok=True)
            if pairs:
                spark.sparkContext.parallelize(
                    pairs, min(len(pairs), spark.sparkContext.defaultParallelism)
                ).foreachPartition(_copy_partition)

    actions = [proto, md]
    # Row tracking (and any other domain) state must survive the
    # clone: without the delta.rowTracking high-water mark, the first
    # append to the clone would re-mint id blocks from -1.
    for domain in sorted(snap.domain_metadata):
        actions.append(
            {
                "domainMetadata": {
                    "domain": domain,
                    "configuration": snap.domain_metadata[domain],
                    "removed": False,
                }
            }
        )
    for f in snap.files:
        if shallow:
            path = _url_encode_path(os.path.join(src_root, f.path))
            dvj = _abs_dv(f.dv, src_root)
        else:
            path = _url_encode_path(f.path)
            dvj = None
            if f.dv is not None:
                if f.dv.storage_type in ("i", "u"):
                    # inline is self-contained; 'u' is root-relative and
                    # the DV file was copied to the same relative spot
                    from deltalake_datafusion_spark.delta.writer import (
                        _dv_to_json,
                    )

                    dvj = _dv_to_json(f.dv)
                else:  # 'p': repoint at the copied file under dst
                    dvj = {
                        "storageType": "p",
                        "pathOrInlineDv": os.path.join(
                            dst_root, os.path.basename(f.dv.path_or_inline)
                        ),
                        "offset": f.dv.offset,
                        "sizeInBytes": f.dv.size_in_bytes,
                        "cardinality": f.dv.cardinality,
                    }
        actions.append(
            {
                "add": {
                    "path": path,
                    "partitionValues": f.partition_values,
                    "size": f.size,
                    "modificationTime": f.modification_time,
                    "dataChange": True,
                    "stats": f.stats,
                    **({"deletionVector": dvj} if dvj else {}),
                    **(
                        {"baseRowId": f.base_row_id,
                         "defaultRowCommitVersion":
                             f.default_row_commit_version}
                        if f.base_row_id is not None else {}
                    ),
                    **({"tags": f.tags} if f.tags else {}),
                }
            }
        )
    os.makedirs(dst_root, exist_ok=True)
    commit(
        dst_root, 0, actions, "CLONE", spark,
        configuration=snap.metadata.configuration,
    )
    return {
        "files": len(snap.files),
        "version": 0,
        "source_version": snap.version,
    }


def history_df(spark, table_path: str) -> DataFrame:
    """One row per commit: version, timestamp, operation, engineInfo
    (DESCRIBE HISTORY surface; commitInfo is best-effort per spec, so
    missing fields are null)."""
    from deltalake_datafusion_spark.delta.fs import fs_for
    from deltalake_datafusion_spark.delta.snapshot import (
        _iter_commit_actions,
        list_log_files,
        strip_scheme,
    )

    table_path = strip_scheme(table_path)
    fs = fs_for(table_path, spark)
    commits, _ = list_log_files(table_path, spark)
    rows = []
    for v, p in commits:
        info = {}
        for a in _iter_commit_actions(p, fs):
            if a.get("commitInfo"):
                info = a["commitInfo"]
                break
        rows.append(
            (
                v,
                info.get("inCommitTimestamp", info.get("timestamp")),
                info.get("operation"),
                {
                    k: str(v2)
                    for k, v2 in (
                        info.get("operationParameters") or {}
                    ).items()
                },
                {
                    k: str(v2)
                    for k, v2 in (info.get("operationMetrics") or {}).items()
                },
                info.get("engineInfo"),
            )
        )
    return spark.createDataFrame(
        sorted(rows, key=lambda r: r[0], reverse=True),
        "version long, timestamp long, operation string, "
        "operationParameters map<string,string>, "
        "operationMetrics map<string,string>, engineInfo string",
    )
