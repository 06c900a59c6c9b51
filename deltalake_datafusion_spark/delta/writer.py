"""Delta write path: append / overwrite commits + checkpoints.

The reference *declares* the insert path but leaves it unimplemented
(``crates/datafusion/src/table_provider/delta/mod.rs:171-178`` returns
``not_impl_err!``); its atomic-commit primitive exists as the JSON
writer with ``PutMode::Create``
(``crates/datafusion/src/engine/file_format.rs:215-249``). This module
completes that surface Spark-first:

- data lands via ``df.write.parquet`` (all heavy I/O is executor-side,
  any partition layout / size),
- per-file stats come from parquet footers (metadata-only),
- the commit is a single atomic create of ``_delta_log/N.json``
  (create-if-absent), with optimistic retry on version conflicts,
- checkpoints every ``delta.checkpointInterval`` commits.

Column mapping ('name' mode) is supported at table creation:
physical column names (``col-N``) are written to files and recorded in
field metadata, exercising the dual logical/physical schema machinery
(reference ``table_format.rs:35-56``).
"""

from __future__ import annotations

import json
import logging
import os
import time
import uuid

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    MapType,
    StructField,
    StructType,
)

from deltalake_datafusion_spark.delta.fs import (
    AlreadyExistsError,
    fs_for,
    strip_scheme,
)
from deltalake_datafusion_spark.delta.snapshot import (
    DeltaNotFoundError,
    Protocol,
    Snapshot,
    load_snapshot,
)
from deltalake_datafusion_spark.delta.stats import collect_stats_batch

_log = logging.getLogger(__name__)


class DeltaWriteError(Exception):
    pass


class ConcurrentWriteError(DeltaWriteError):
    pass


class TxnPartialOverlapError(ConcurrentWriteError):
    """A concurrent commit recorded a strict subset of this write's
    idempotence txns — blindly retrying would re-append rows already
    loaded under those appIds. The caller must rebuild its batch from
    a fresh snapshot (COPY INTO re-lists and re-filters)."""


def _commit_path(table_path: str, version: int) -> str:
    return os.path.join(table_path, "_delta_log", f"{version:020d}.json")


# ------------------------------------------------------------------ #
# Column mapping                                                      #
# ------------------------------------------------------------------ #


def _assign_physical_names(schema: StructType) -> StructType:
    """'name'-mode column mapping: deterministic physical names col-N,
    field IDs in metadata, recursing through nested types."""
    counter = [0]

    def walk_field(f: StructField) -> StructField:
        counter[0] += 1
        fid = counter[0]
        meta = dict(f.metadata or {})
        meta["delta.columnMapping.id"] = fid
        meta["delta.columnMapping.physicalName"] = f"col-{fid}"
        return StructField(f.name, walk_type(f.dataType), f.nullable, meta)

    def walk_type(t):
        if isinstance(t, StructType):
            return StructType([walk_field(f) for f in t.fields])
        if isinstance(t, ArrayType):
            return ArrayType(walk_type(t.elementType), t.containsNull)
        if isinstance(t, MapType):
            return MapType(
                walk_type(t.keyType), walk_type(t.valueType), t.valueContainsNull
            )
        return t

    return StructType([walk_field(f) for f in schema.fields])


def pin_mapping_to_logical(schema: StructType):
    """Enable column mapping on an EXISTING table (delta-spark ALTER
    TBLPROPERTIES upgrade): every field gets a mapping id and
    ``physicalName`` = its CURRENT logical name — the name already in
    the parquet files — so no file rewrites, and a later RENAME keeps
    resolving the old data through the pinned physical name. Fields
    that already carry mapping metadata keep it. Returns
    (schema, max_column_id)."""
    counter = [0]

    def walk_field(f: StructField) -> StructField:
        counter[0] += 1
        meta = dict(f.metadata or {})
        meta.setdefault("delta.columnMapping.id", counter[0])
        meta.setdefault("delta.columnMapping.physicalName", f.name)
        return StructField(f.name, walk_type(f.dataType), f.nullable, meta)

    def walk_type(t):
        if isinstance(t, StructType):
            return StructType([walk_field(f) for f in t.fields])
        if isinstance(t, ArrayType):
            return ArrayType(walk_type(t.elementType), t.containsNull)
        if isinstance(t, MapType):
            return MapType(
                walk_type(t.keyType), walk_type(t.valueType),
                t.valueContainsNull,
            )
        return t

    out = StructType([walk_field(f) for f in schema.fields])
    return out, counter[0]


def physical_schema(schema: StructType) -> StructType:
    """Logical schema → physical (file) schema under column mapping:
    rename every field to its physicalName, recursively. Identity when
    no mapping metadata is present."""

    def walk_field(f: StructField) -> StructField:
        name = (f.metadata or {}).get("delta.columnMapping.physicalName", f.name)
        return StructField(name, walk_type(f.dataType), f.nullable)

    def walk_type(t):
        if isinstance(t, StructType):
            return StructType([walk_field(f) for f in t.fields])
        if isinstance(t, ArrayType):
            return ArrayType(walk_type(t.elementType), t.containsNull)
        if isinstance(t, MapType):
            return MapType(
                walk_type(t.keyType), walk_type(t.valueType), t.valueContainsNull
            )
        return t

    return StructType([walk_field(f) for f in schema.fields])


def physical_schema_field_ids(schema: StructType) -> StructType:
    """Physical (file) schema annotated with ``parquet.field.id``
    metadata taken from each field's ``delta.columnMapping.id`` — the
    read schema for column-mapping mode ``id`` tables (Iceberg-
    converted / foreign), where parquet columns resolve by FIELD ID
    via Spark's parquet fieldId reader, not by name (the file's column
    names can be anything)."""

    def walk_field(f: StructField) -> StructField:
        md = f.metadata or {}
        name = md.get("delta.columnMapping.physicalName", f.name)
        out_md = {}
        if "delta.columnMapping.id" in md:
            out_md["parquet.field.id"] = int(md["delta.columnMapping.id"])
        return StructField(name, walk_type(f.dataType), f.nullable, out_md)

    def walk_type(t):
        if isinstance(t, StructType):
            return StructType([walk_field(f) for f in t.fields])
        if isinstance(t, ArrayType):
            return ArrayType(walk_type(t.elementType), t.containsNull)
        if isinstance(t, MapType):
            return MapType(
                walk_type(t.keyType),
                walk_type(t.valueType),
                t.valueContainsNull,
            )
        return t

    return StructType([walk_field(f) for f in schema.fields])


def _rename_to_physical(
    df: DataFrame, logical: StructType,
    extra_cols: list[str] | None = None,
    field_ids: bool = False,
) -> DataFrame:
    """Project a logical-schema DataFrame into physical column names
    (recursive struct rebuild), for writing column-mapped files.
    ``extra_cols`` pass through unrenamed (already-physical columns
    such as the materialized row-id column).

    ``field_ids=True`` (column-mapping mode ``id``) additionally
    stamps every field's ``parquet.field.id`` metadata so Spark's
    parquet writer emits PARQUET field ids
    (``spark.sql.parquet.fieldId.write.enabled``, default on) — new
    files then resolve by id like the table's existing ones. Nested
    ids ride the ``df.to`` struct-rebuild cast; top-level columns
    additionally need an explicit Alias-with-metadata because a
    pass-through attribute keeps its ORIGINAL (empty) metadata in the
    physical plan — the ``.to`` schema alone silently drops top-level
    ids at write time (verified against Spark 4.1)."""
    from pyspark.sql import functions as F

    def conv(col, t, phys_t):
        if isinstance(t, StructType):
            parts = [
                conv(col.getField(f.name), f.dataType, pf.dataType).alias(pf.name)
                for f, pf in zip(t.fields, phys_t.fields)
            ]
            return F.when(col.isNull(), F.lit(None).cast(phys_t)).otherwise(
                F.struct(*parts)
            )
        if isinstance(t, ArrayType):
            return F.transform(col, lambda x: conv(x, t.elementType, phys_t.elementType))
        if isinstance(t, MapType) and isinstance(t.valueType, (StructType, ArrayType, MapType)):
            return F.map_from_arrays(
                F.map_keys(col),
                F.transform(
                    F.map_values(col),
                    lambda v: conv(v, t.valueType, phys_t.valueType),
                ),
            )
        return col

    phys = physical_schema(logical)
    cols = []
    for f, pf in zip(logical.fields, phys.fields):
        cols.append(conv(F.col(f.name), f.dataType, pf.dataType).alias(pf.name))
    for e in extra_cols or []:
        cols.append(F.col(f"`{e}`"))
    out = df.select(*cols)
    return stamp_field_ids(out, logical) if field_ids else out


def stamp_field_ids(df: DataFrame, logical: StructType) -> DataFrame:
    """Stamp ``parquet.field.id`` metadata onto a physically-named
    DataFrame so the parquet writer emits field ids (column-mapping
    mode ``id``). Columns not in the mapped schema (e.g. materialized
    row-tracking columns, read by NAME per the Delta spec) pass
    through without an id. See the ``_rename_to_physical`` docstring
    for why both the ``.to`` cast (nested ids) and the top-level
    Alias-with-metadata are required."""
    from pyspark.sql import functions as F

    def _relax(dt):
        # nullability relaxed recursively: ``.to`` refuses a nullable
        # column where the target is non-nullable, and DML projections
        # (CASE chains) are nullable even over non-null data — the
        # stamp only needs names + field-id metadata; the Delta log
        # schema, not parquet optionality, governs readers
        if isinstance(dt, StructType):
            return StructType(
                [
                    StructField(f.name, _relax(f.dataType), True,
                                dict(f.metadata or {}))
                    for f in dt.fields
                ]
            )
        if isinstance(dt, ArrayType):
            return ArrayType(_relax(dt.elementType), True)
        if isinstance(dt, MapType):
            return MapType(_relax(dt.keyType), _relax(dt.valueType), True)
        return dt

    by_phys = {f.name: f for f in physical_schema_field_ids(logical).fields}
    target_fields = [
        StructField(f.name, _relax(f.dataType), True, dict(f.metadata or {}))
        for f in (by_phys.get(c, df.schema[c]) for c in df.columns)
    ]
    out = df.to(StructType(target_fields))
    return out.select(*[
        F.col(f"`{f.name}`").alias(f.name, metadata=dict(f.metadata or {}))
        for f in target_fields
    ])


# ------------------------------------------------------------------ #
# Commit machinery                                                    #
# ------------------------------------------------------------------ #


def _now_ms() -> int:
    return int(time.time() * 1000)


def _protocol_action(enable_dv: bool, column_mapping: bool) -> dict:
    if enable_dv or column_mapping:
        features = ["vacuumProtocolCheck"]
        if enable_dv:
            features.append("deletionVectors")
        if column_mapping:
            features.append("columnMapping")
        return {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": sorted(features),
                "writerFeatures": sorted(features),
            }
        }
    return {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}


def _schema_type_features(schema: StructType | None) -> set[str]:
    """Table features implied by column TYPES, recursively:
    ``timestamp_ntz`` → ``timestampNtz``, ``variant`` →
    ``variantType`` (the Delta spec's type-gated features — a reader
    without them must not attempt the table)."""
    if schema is None:
        return set()
    from pyspark.sql.types import ArrayType as _At
    from pyspark.sql.types import MapType as _Mt
    from pyspark.sql.types import StructType as _St
    from pyspark.sql.types import TimestampNTZType as _Ntz

    try:
        from pyspark.sql.types import VariantType as _Vt
    except ImportError:  # pre-variant Spark
        _Vt = None

    out: set[str] = set()

    def walk(t):
        if isinstance(t, _St):
            for f in t.fields:
                walk(f.dataType)
        elif isinstance(t, _At):
            walk(t.elementType)
        elif isinstance(t, _Mt):
            walk(t.keyType)
            walk(t.valueType)
        elif isinstance(t, _Ntz):
            out.add("timestampNtz")
        elif _Vt is not None and isinstance(t, _Vt):
            out.add("variantType")

    walk(schema)
    return out


def _creation_protocol(
    column_mapping: bool,
    configuration: dict[str, str],
    schema: StructType | None = None,
) -> dict:
    """Protocol for a new table: legacy (1,2) unless the requested
    configuration/schema needs table features (column mapping, CDF,
    constraints, appendOnly, generated columns)."""
    features: set[str] = set()
    conf0 = configuration or {}
    if column_mapping or (
        conf0.get("delta.columnMapping.mode", "none") != "none"
    ):
        features.add("columnMapping")
    if schema is not None and any(
        f.metadata and "delta.generationExpression" in f.metadata
        for f in schema.fields
    ):
        features.add("generatedColumns")
    conf = configuration or {}
    if conf.get("delta.enableDeletionVectors", "").lower() == "true":
        # delta-spark grants the feature at creation, before the first
        # DELETE writes a DV (the DML path also upgrades lazily for
        # tables that enabled the property later)
        features.add("deletionVectors")
    if conf.get("delta.enableChangeDataFeed", "").lower() == "true":
        features.add("changeDataFeed")
    if conf.get("delta.appendOnly", "").lower() == "true":
        features.add("appendOnly")
    if conf.get("delta.enableInCommitTimestamps", "").lower() == "true":
        features.add("inCommitTimestamp")
    if conf.get("delta.checkpointPolicy", "").lower() == "v2":
        features.add("v2Checkpoint")
    if conf.get("delta.enableRowTracking", "").lower() == "true":
        features |= {"rowTracking", "domainMetadata"}
    if schema is not None and any(
        f.metadata and "CURRENT_DEFAULT" in f.metadata for f in schema.fields
    ):
        features.add("allowColumnDefaults")
    if schema is not None and any(
        f.metadata and "delta.identity.start" in f.metadata
        for f in schema.fields
    ):
        features.add("identityColumns")
    if any(k.startswith("delta.constraints.") for k in conf):
        features.add("checkConstraints")
    features |= _schema_type_features(schema)
    features |= feature_props(conf)
    if not features:
        return {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
    features.add("vacuumProtocolCheck")
    reader = sorted(f for f in features if f in _READER_IMPACTING)
    body: dict = {"minWriterVersion": 7, "writerFeatures": sorted(features)}
    if reader:
        body["minReaderVersion"] = 3
        body["readerFeatures"] = reader
    else:
        body["minReaderVersion"] = 1
    return {"protocol": body}


# Legacy protocol versions imply feature sets (Delta spec's table-
# features migration table); used when upgrading a legacy protocol to
# the explicit-features form so no implied capability is dropped.
_LEGACY_WRITER_FEATURES = {
    2: {"appendOnly", "invariants"},
    3: {"checkConstraints"},
    4: {"changeDataFeed", "generatedColumns"},
    5: {"columnMapping"},
    6: {"identityColumns"},
}
# Writer features that also gate readers.
_READER_IMPACTING = {
    "deletionVectors", "columnMapping", "timestampNtz", "v2Checkpoint",
    "typeWidening", "variantType",
}


def check_writable(snapshot) -> None:
    """Refuse to commit to a table whose protocol demands writer
    features this engine doesn't implement — writing while ignoring an
    unknown feature's invariants would corrupt the table for the
    engine that set it (delta-spark's writer-version gate). Reads are
    unaffected (reader gating lives in the snapshot loader)."""
    from deltalake_datafusion_spark.delta.log_schema import (
        MAX_WRITER_VERSION,
        SUPPORTED_WRITER_FEATURES,
    )

    p = snapshot.protocol
    if p.min_writer_version > MAX_WRITER_VERSION:
        raise DeltaWriteError(
            f"table requires writer version {p.min_writer_version}, "
            f"this engine supports ≤{MAX_WRITER_VERSION} — the table "
            "stays readable, but writes are refused"
        )
    unsupported = sorted(
        set(p.writer_features or []) - SUPPORTED_WRITER_FEATURES
    )
    if unsupported:
        raise DeltaWriteError(
            f"table requires writer features {unsupported} this engine "
            "does not implement — writing would violate their "
            "invariants; the table stays readable"
        )


def protocol_upgrade_action(protocol, needed_features: set[str]) -> dict | None:
    """Protocol action adding ``needed_features`` (None when the table
    already has them). Upgrading a legacy protocol re-expresses its
    version-implied features explicitly so nothing is lost."""
    have_w = set(protocol.writer_features or [])
    for v, feats in _LEGACY_WRITER_FEATURES.items():
        if protocol.min_writer_version >= v and protocol.min_writer_version < 7:
            have_w |= feats
    if needed_features <= have_w:
        return None  # already permitted (explicitly or version-implied)
    all_w = sorted(have_w | needed_features | {"vacuumProtocolCheck"})
    all_r = sorted(
        set(protocol.reader_features or [])
        | {f for f in all_w if f in _READER_IMPACTING}
    )
    body: dict = {"minWriterVersion": 7, "writerFeatures": all_w}
    if all_r or protocol.min_reader_version >= 3:
        body["minReaderVersion"] = 3
        body["readerFeatures"] = all_r
    else:
        body["minReaderVersion"] = protocol.min_reader_version
    return {"protocol": body}


def merge_schema_fields(
    existing, incoming_fields
) -> tuple[StructType, dict[str, str], bool]:
    """Schema-evolution core shared by append (``schema_mode='merge'``)
    and MERGE (``schema_evolution=True``): fields present in
    ``incoming_fields`` but not in the table are appended **nullable**
    (existing files back-fill null through the schema adapter). On a
    column-mapped table each new field gets the next mapping id and a
    fresh physical name, and ``delta.columnMapping.maxColumnId``
    advances.

    Returns ``(evolved_schema, configuration, changed)`` —
    ``configuration`` is the table's configuration (with the advanced
    maxColumnId when mapping); when ``changed`` is False the schema is
    returned untouched."""
    existing_names = set(existing.schema.fieldNames())
    new_fields = [f for f in incoming_fields if f.name not in existing_names]
    configuration = dict(existing.metadata.configuration)
    if not new_fields:
        return existing.schema, configuration, False
    if existing.column_mapping_mode != "none":
        next_id = int(
            existing.get_property("delta.columnMapping.maxColumnId", "0")
            or "0"
        )
        mapped = []
        for f in new_fields:
            next_id += 1
            meta = dict(f.metadata or {})
            meta["delta.columnMapping.id"] = next_id
            meta["delta.columnMapping.physicalName"] = f"col-{next_id}"
            mapped.append(StructField(f.name, f.dataType, True, meta))
        new_fields = mapped
        configuration["delta.columnMapping.maxColumnId"] = str(next_id)
    evolved = StructType(
        list(existing.schema.fields)
        + [
            StructField(f.name, f.dataType, True, f.metadata)
            for f in new_fields
        ]
    )
    return evolved, configuration, True


def feature_props(configuration: dict[str, str] | None) -> set[str]:
    """Features named by ``delta.feature.<name> = supported`` keys —
    protocol enablement only, the key itself is never stored
    (delta-spark semantics). Unknown names / other values rejected."""
    out: set[str] = set()
    for key, val in (configuration or {}).items():
        if not key.lower().startswith("delta.feature."):
            continue
        from deltalake_datafusion_spark.delta.features import KNOWN_FEATURES

        if str(val).lower() not in ("supported", "enabled"):
            raise DeltaWriteError(f"{key} must be 'supported' (got {val!r})")
        name = key[len("delta.feature."):]
        by_lower = {f.lower(): f for f in KNOWN_FEATURES}
        feat = by_lower.get(name.lower())
        if feat is None:
            raise DeltaWriteError(
                f"unknown table feature {name!r}; known: "
                f"{sorted(KNOWN_FEATURES)}"
            )
        out.add(feat)
    return out


def _metadata_action(
    schema: StructType,
    partition_by: list[str],
    configuration: dict[str, str],
    table_id: str,
    name: str | None,
) -> dict:
    return {
        "metaData": {
            "id": table_id,
            "name": name,
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema.jsonValue()),
            "partitionColumns": partition_by,
            "configuration": {
                k: v
                for k, v in configuration.items()
                if not k.lower().startswith("delta.feature.")
            },
            "createdTime": _now_ms(),
        }
    }


def ict_enabled(configuration: dict[str, str] | None) -> bool:
    return (
        (configuration or {})
        .get("delta.enableInCommitTimestamps", "false")
        .lower()
        == "true"
    )


def _prev_ict(table_path: str, version: int, fs) -> int | None:
    """inCommitTimestamp (or plain timestamp) of commit version-1; None
    when that commit is gone (log cleanup) — the spec only requires
    monotonicity across retained commits."""
    if version <= 0:
        return None
    try:
        raw = fs.read_bytes(_commit_path(table_path, version - 1))
    except (FileNotFoundError, OSError):
        return None
    for line in raw.decode("utf-8").splitlines():
        if not line.strip():
            continue
        a = json.loads(line)
        if a.get("commitInfo"):
            ci = a["commitInfo"]
            return ci.get("inCommitTimestamp", ci.get("timestamp"))
        break
    return None


ROW_TRACKING_DOMAIN = "delta.rowTracking"


def row_tracking_enabled(configuration: dict[str, str] | None) -> bool:
    return (
        (configuration or {}).get("delta.enableRowTracking", "").lower()
        == "true"
    )


MATERIALIZED_ROW_ID_PROP = "delta.rowTracking.materializedRowIdColumnName"
MATERIALIZED_ROW_VER_PROP = (
    "delta.rowTracking.materializedRowCommitVersionColumnName"
)


def ensure_row_tracking_conf(configuration: dict[str, str]) -> dict[str, str]:
    """When row tracking is being enabled, reserve the materialized
    row-id / row-commit-version column names (Delta spec: file
    rewrites persist each row's stable id — and, for rows the rewrite
    did not modify, its last-modified commit version — under these
    physical columns; readers compute ``coalesce(materialized,
    default)``). Random suffix so the names can never collide with a
    user column."""
    if row_tracking_enabled(configuration):
        configuration = dict(configuration)
        configuration.setdefault(
            MATERIALIZED_ROW_ID_PROP,
            f"_row_id_col_{uuid.uuid4().hex[:8]}",
        )
        configuration.setdefault(
            MATERIALIZED_ROW_VER_PROP,
            f"_row_commit_version_col_{uuid.uuid4().hex[:8]}",
        )
    return configuration


def _prev_row_hwm(table_path: str, version: int, fs) -> int:
    """``rowIdHighWaterMark`` as of ``version - 1``: walk commits
    downward reading only file heads (this writer serializes the
    domainMetadata action immediately after commitInfo), falling back
    to a metadata-only snapshot load past a cleaned/checkpointed
    boundary. Returns -1 when no rows were ever tracked."""
    from deltalake_datafusion_spark.delta.snapshot import (
        _iter_commit_actions,
    )

    for v in range(version - 1, -1, -1):
        path = _commit_path(table_path, v)
        if not fs.exists(path):
            break  # log cleaned below here — ask the snapshot
        head = fs.read_bytes(path, 0, 65536)
        truncated = len(head) == 65536
        for line in head.split(b"\n"):
            if not line.strip():
                continue
            try:
                a = json.loads(line)
            except ValueError:
                break  # truncated mid-line; rest unreadable from head
            dm = a.get("domainMetadata")
            if dm and dm.get("domain") == ROW_TRACKING_DOMAIN:
                if dm.get("removed"):
                    return -1
                conf = json.loads(dm.get("configuration") or "{}")
                return int(conf.get("rowIdHighWaterMark", -1))
        if truncated:
            # Oversized commit (or another engine that didn't front-
            # load the domain action): a head-only miss is NOT a
            # verdict — descending now could return a STALE high-water
            # mark and mint duplicate baseRowId blocks. Parse the full
            # commit before walking down.
            for a in _iter_commit_actions(path, fs):
                dm = a.get("domainMetadata")
                if dm and dm.get("domain") == ROW_TRACKING_DOMAIN:
                    if dm.get("removed"):
                        return -1
                    conf = json.loads(dm.get("configuration") or "{}")
                    return int(conf.get("rowIdHighWaterMark", -1))
    from deltalake_datafusion_spark.delta.snapshot import load_snapshot

    try:
        snap = load_snapshot(table_path, version=version - 1, with_files=False)
    except Exception:
        return -1
    conf = json.loads(
        snap.domain_metadata.get(ROW_TRACKING_DOMAIN) or "{}"
    )
    return int(conf.get("rowIdHighWaterMark", -1))


def _assign_row_ids(
    table_path: str, version: int, actions: list[dict], fs
) -> list[dict]:
    """Row-tracking assignment (Delta ``rowTracking`` writer feature):
    every add WITHOUT a baseRowId gets the next fresh block
    (hwm+1 … hwm+numRecords) plus ``defaultRowCommitVersion``; a
    domainMetadata action records the advanced high-water mark.
    Re-added files (DV updates, RESTORE) keep their existing ids.
    Runs INSIDE commit(), so a ConcurrentWriteError retry re-mints
    from the fresh tip — concurrent writers can never hand out the
    same block. Caller dicts are never mutated (copies only), so a
    retry loop reusing its action list stays correct."""
    from deltalake_datafusion_spark.delta.stats import parse_stats

    fresh = [
        i for i, a in enumerate(actions)
        if a.get("add") and a["add"].get("baseRowId") is None
    ]
    if not fresh:
        return actions
    hwm = _prev_row_hwm(table_path, version, fs)
    out = list(actions)
    for i in fresh:
        add = dict(out[i]["add"])
        stats = parse_stats(add.get("stats"))
        n = stats.get("numRecords") if stats else None
        if n is None:
            raise DeltaWriteError(
                "row tracking requires numRecords stats on every new "
                f"add (missing for {add.get('path')!r})"
            )
        add["baseRowId"] = hwm + 1
        add["defaultRowCommitVersion"] = version
        hwm += int(n)
        out[i] = {"add": add}
    dm = {
        "domainMetadata": {
            "domain": ROW_TRACKING_DOMAIN,
            "configuration": json.dumps({"rowIdHighWaterMark": hwm}),
            "removed": False,
        }
    }
    # the domain action leads so _prev_row_hwm's head read finds it
    return [dm] + out


def _auto_operation_metrics(actions: list[dict]) -> dict[str, str]:
    """delta-spark-style ``operationMetrics`` derivable from the
    actions alone (values serialized as strings, per the protocol):
    add/remove file+byte counts, cdc file count, DVs added, and —
    when every add carries numRecords — numOutputRows. Op-specific
    row metrics (numDeletedRows, …) are supplied by the operations
    through ``operation_metrics``."""
    from deltalake_datafusion_spark.delta.stats import parse_stats

    m = {
        "numAddedFiles": 0,
        "numRemovedFiles": 0,
        "numAddedBytes": 0,
        "numRemovedBytes": 0,
        "numAddedChangeFiles": 0,
        "numDeletionVectorsAdded": 0,
    }
    out_rows, rows_known = 0, True
    for a in actions:
        ad = a.get("add")
        if ad:
            m["numAddedFiles"] += 1
            m["numAddedBytes"] += ad.get("size", 0) or 0
            if ad.get("deletionVector"):
                m["numDeletionVectorsAdded"] += 1
            st = parse_stats(ad.get("stats"))
            n = st.get("numRecords") if st else None
            if n is None:
                rows_known = False
            else:
                out_rows += int(n)
        rm = a.get("remove")
        if rm:
            m["numRemovedFiles"] += 1
            m["numRemovedBytes"] += rm.get("size", 0) or 0
        if a.get("cdc"):
            m["numAddedChangeFiles"] += 1
    if not (
        m["numAddedFiles"] or m["numRemovedFiles"] or m["numAddedChangeFiles"]
    ):
        return {}  # metadata-only commit: no file metrics
    if rows_known:
        m["numOutputRows"] = out_rows
    return {k: str(v) for k, v in m.items()}


def commit(
    table_path: str,
    version: int,
    actions: list[dict],
    operation: str,
    spark=None,
    configuration: dict[str, str] | None = None,
    operation_parameters: dict[str, str] | None = None,
    operation_metrics: dict[str, str] | None = None,
) -> None:
    """Atomically write ``_delta_log/<version>.json`` (create-if-absent;
    reference ``PutMode::Create`` — file_format.rs:230-242).

    With ``delta.enableInCommitTimestamps`` in ``configuration``, the
    commitInfo carries an ``inCommitTimestamp`` that is strictly
    greater than the previous commit's (Delta's inCommitTimestamp
    writer feature: commit time comes from the log, not from file
    mtimes an object store may rewrite). With
    ``delta.enableRowTracking``, fresh adds get baseRowId blocks
    (``_assign_row_ids``)."""
    fs = fs_for(table_path, spark)
    if row_tracking_enabled(configuration):
        actions = _assign_row_ids(table_path, version, actions, fs)
    metrics = {
        **_auto_operation_metrics(actions),
        **{k: str(v) for k, v in (operation_metrics or {}).items()},
    }
    info = {
        "timestamp": _now_ms(),
        "operation": operation,
        "engineInfo": "deltalake-datafusion-spark/0.1.0",
        "txnId": str(uuid.uuid4()),
        **(
            {"operationParameters": operation_parameters}
            if operation_parameters else {}
        ),
        **({"operationMetrics": metrics} if metrics else {}),
    }
    if ict_enabled(configuration):
        prev = _prev_ict(table_path, version, fs)
        info["inCommitTimestamp"] = max(
            info["timestamp"], (prev + 1) if prev is not None else 0
        )
    header = {"commitInfo": info}
    payload = "\n".join(json.dumps(a) for a in [header] + actions) + "\n"
    try:
        fs.write_atomic(_commit_path(table_path, version), payload.encode("utf-8"))
    except AlreadyExistsError as e:
        raise ConcurrentWriteError(
            f"version {version} already committed at {table_path}"
        ) from e


class ConcurrentModificationError(Exception):
    """A concurrent commit touched the same files (or the table
    metadata) this transaction read — retrying would be unsound."""


def commit_with_retries(
    spark,
    table_path: str,
    base_snapshot,
    actions: list[dict],
    operation: str,
    touched_paths: set[str],
    max_attempts: int = 10,
    read_predicate: str | None = None,
    operation_metrics: dict[str, str] | None = None,
    conflict_txn_appids: frozenset[str] | set[str] = frozenset(),
) -> int:
    """Optimistic-concurrency commit with real conflict validation
    (the missing half of blind retry): when the target version is
    taken, every intervening commit is replayed and the transaction
    fails if any of them added/removed a file this transaction read
    (``touched_paths``, table-relative), changed table metadata or
    protocol, or — when ``read_predicate`` is set — **added** data
    files whose stats/partition values may satisfy the predicate this
    transaction read under (Delta's ConcurrentAppendException: a
    DELETE racing an append of matching rows must not retry cleanly,
    even at WriteSerializable). ``read_predicate=None`` means the
    transaction read nothing (blind append); ``"true"`` means it read
    the whole table. Disjoint commits (appends outside the predicate,
    DML on other files) retry cleanly at the new tip.

    ``conflict_txn_appids``: SetTransaction appIds this transaction's
    validity depends on (MV watermark guards, idempotent-write
    markers). A concurrent commit carrying a ``txn`` action for one
    of them — even a data-less watermark-only commit the add/remove
    checks cannot see — is a read conflict (ADVICE r11: the rebase
    loop must not silently jump a guarded watermark; the caller
    re-validates its guard against the advanced ledger and decides
    skip / recompute / retry).
    """
    import urllib.parse as _up

    from deltalake_datafusion_spark.delta.snapshot import (
        _iter_commit_actions,
        list_log_files,
    )

    pred_ir = unparseable_pred = None
    if read_predicate is not None:
        from deltalake_datafusion_spark.delta.predicates import (
            StatsEvaluator,
            try_parse_predicate,
        )
        from deltalake_datafusion_spark.delta.scan import (
            _logical_to_physical_map,
        )

        pred_ir = try_parse_predicate(read_predicate)
        # outside the prunable subset → conservatively treat EVERY
        # concurrent data add as a potential read conflict
        unparseable_pred = pred_ir is None
        evaluator = StatsEvaluator(
            base_snapshot.schema,
            base_snapshot.partition_columns,
            _logical_to_physical_map(base_snapshot.schema),
        )

    fs = fs_for(table_path, spark)
    # the configuration deciding in-commit-timestamp behavior: a
    # metaData action in this very commit wins over the base snapshot
    commit_conf = base_snapshot.metadata.configuration
    for a in actions:
        if a.get("metaData"):
            commit_conf = a["metaData"].get("configuration", commit_conf)
    version = base_snapshot.version + 1
    checked_through = base_snapshot.version
    for _ in range(max_attempts):
        try:
            commit(
                table_path, version, actions, operation, spark,
                configuration=commit_conf,
                operation_metrics=operation_metrics,
            )
            return version
        except ConcurrentWriteError:
            commits, _ = list_log_files(table_path, spark)
            tip = max(v for v, _ in commits)
            for v, p in commits:
                if v <= checked_through or v > tip:
                    continue
                for a in _iter_commit_actions(p, fs):
                    txn_body = a.get("txn")
                    if (
                        txn_body
                        and txn_body.get("appId") in conflict_txn_appids
                    ):
                        raise ConcurrentModificationError(
                            f"{operation}: SetTransaction "
                            f"{txn_body['appId']!r} advanced by "
                            f"concurrent commit {v}"
                        )
                    if ("metaData" in a and a["metaData"]) or (
                        "protocol" in a and a["protocol"]
                    ):
                        what = (
                            "metadata" if a.get("metaData") else "protocol"
                        )
                        raise ConcurrentModificationError(
                            f"{operation}: table {what} changed by "
                            f"concurrent commit {v}"
                        )
                    for key in ("add", "remove"):
                        body = a.get(key)
                        if not body:
                            continue
                        path = _up.unquote(body["path"])
                        if path in touched_paths:
                            raise ConcurrentModificationError(
                                f"{operation}: file {path!r} modified by "
                                f"concurrent commit {v}"
                            )
                        if (
                            key == "add"
                            and read_predicate is not None
                            and body.get("dataChange", True)
                            and (
                                unparseable_pred
                                or evaluator.may_match(
                                    _add_body_as_file(body, path), pred_ir
                                )
                            )
                        ):
                            raise ConcurrentModificationError(
                                f"{operation}: concurrent commit {v} "
                                f"appended file {path!r} that may match "
                                f"this transaction's read predicate "
                                f"({read_predicate!r})"
                            )
            checked_through = tip
            version = tip + 1
    raise ConcurrentWriteError(
        f"gave up after {max_attempts} conflicting commits at {table_path}"
    )


def _add_body_as_file(body: dict, decoded_path: str):
    """Wrap a raw ``add`` action body as the AddFile shape
    StatsEvaluator consumes (stats JSON + partition values)."""
    from deltalake_datafusion_spark.delta.snapshot import AddFile

    return AddFile(
        path=decoded_path,
        size=body.get("size", 0),
        modification_time=body.get("modificationTime", 0),
        partition_values=body.get("partitionValues") or {},
        stats=body.get("stats"),
    )


OPTIMIZE_WRITE_PROP = "delta.autoOptimize.optimizeWrite"


def _part_name(_i: int, _n: int) -> str:
    return f"part-{uuid.uuid4().hex}.snappy.parquet"


def _stage_and_move(
    spark,
    df: DataFrame,
    root: str,
    staging_prefix: str = "_staging_",
    *,
    name=_part_name,
    part_dir: str = "",
    partition_by: list[str] | None = None,
    max_records_per_file: int | None = None,
) -> list[tuple[str, dict[str, str | None], int, int]]:
    """THE write-out step of every staged Delta file — data, CDC and
    checkpoint parts: write ``df`` as parquet into a unique staging
    dir ``root/<staging_prefix><uuid>``, rename each part file to its
    final name under ``root``, then remove the staging skeleton.
    Nothing is visible to readers until a log commit references the
    moved files.

    Final names: ``name(i, n)`` for the i-th of n part files (in
    listing order), placed under ``part_dir`` when given, else under
    the hive directories ``partition_by`` wrote. Returns
    ``[(rel, partitionValues, size, mtime_ms)]`` with ``rel`` relative
    to ``root`` and partitionValues parsed from the hive directories
    (physical names). size/mtime come from the pre-move listing
    (rename preserves them), so callers never re-stat: no per-file
    os.stat (breaks on object stores) and no extra HEAD round-trip per
    file at 100k-file scale."""
    import urllib.parse as up

    from deltalake_datafusion_spark.delta.fs import fs_for as _fs_for

    fs = _fs_for(root, spark)
    stage_name = f"{staging_prefix}{uuid.uuid4().hex}"
    staging = os.path.join(root, stage_name)
    writer = df.write.mode("overwrite")
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    moved: list[tuple[str, dict[str, str | None], int, int]] = []
    try:
        writer.parquet(staging)
        parts = [
            st for st in fs.list_recursive(staging)
            if not st.is_dir and st.path.endswith(".parquet")
        ]
        if part_dir:
            fs.mkdirs(os.path.join(root, part_dir))
        for i, st in enumerate(parts):
            # path below the staging dir; split on the unique dir name
            # so a scheme-qualified listing (HadoopFS) parses the same
            segs = st.path.split(stage_name + "/", 1)[1].split("/")[:-1]
            pv: dict[str, str | None] = {}
            for seg in segs:
                if "=" in seg:
                    k, v = seg.split("=", 1)
                    pv[k] = (
                        None if v == "__HIVE_DEFAULT_PARTITION__"
                        else up.unquote(v)
                    )
            rel = os.path.join(part_dir or "/".join(segs), name(i, len(parts)))
            fs.rename(st.path, os.path.join(root, rel))
            moved.append((rel, pv, st.size, st.mtime_ms))
    finally:
        for st in sorted(
            fs.list_recursive(staging), key=lambda s: -len(s.path)
        ):
            fs.delete(st.path)
        fs.delete(staging)
    return moved


def write_data_files(
    spark,
    df: DataFrame,
    table_path: str,
    schema: StructType,
    partition_cols: list[str],
    configuration: dict[str, str],
    mapping_mode: str = "none",
    *,
    extra_cols: list[str] | None = None,
    data_change: bool = True,
    tags: dict[str, str] | None = None,
    partition_values: dict[str, str | None] | None = None,
    max_records_per_file: int | None = None,
) -> list[dict]:
    """Write new data files for ``df`` and return their ``add``
    actions — the one data-file writer of append / overwrite, UPDATE,
    MERGE and OPTIMIZE. Nothing is committed; the caller commits the
    adds (or, on a failed attempt, deletes them through
    ``ops._cleanup_staged_adds``).

    ``df`` holds the table's logical columns (``schema``) plus
    ``extra_cols`` — already-physical row-tracking columns, written
    through unrenamed and kept out of the stats. In order:

    1. CHECK constraints validate ``df`` (one aggregate, only when the
       table declares any);
    2. the physical projection: column-mapped names, plus parquet
       field ids in mode ``id``;
    3. the stage (:func:`_stage_and_move`), clustered by partition
       value — or rebalanced under ``delta.autoOptimize.optimizeWrite``;
    4. footer stats (:func:`collect_stats_batch`); zero-row parts are
       deleted, never committed;
    5. NOT NULL verification from the kept files' ``nullCount`` (no
       second pass over the plan).

    ``data_change=False`` marks a rewrite of rows already in the table
    (OPTIMIZE): ``df`` is then in PHYSICAL names as read from the
    files (only mode-``id`` field ids are stamped), and CHECK / NOT
    NULL are skipped — the rows were validated when first written.
    ``partition_values`` (logical) fixes the one partition every row
    belongs to: the files land in its directory as ``df`` is laid out,
    with no repartition. ``tags`` ride every add."""
    from pyspark.sql import functions as F

    from deltalake_datafusion_spark.delta.constraints import (
        notnull_columns_to_verify,
        table_constraints,
        validate_constraints,
        verify_notnull_from_stats,
    )
    from deltalake_datafusion_spark.delta.stats import (
        data_skipping_stats_columns,
        parse_stats,
    )

    extra_cols = list(extra_cols or [])
    notnull_verify: list[str] = []
    if data_change:
        validate_constraints(df, table_constraints(configuration))
        notnull_verify = notnull_columns_to_verify(schema, df)
    phys = physical_schema(schema)
    phys_parts = [
        phys.fields[schema.fieldNames().index(p)].name for p in partition_cols
    ]
    if not data_change:
        out_df = stamp_field_ids(df, schema) if mapping_mode == "id" else df
    elif mapping_mode != "none":
        out_df = _rename_to_physical(
            df, schema, extra_cols=extra_cols or None,
            field_ids=mapping_mode == "id",
        )
    else:
        cols = schema.fieldNames() + extra_cols
        out_df = df if df.columns == cols else df.select(
            *[F.col(f"`{c}`") for c in cols]
        )
    if partition_values is not None:
        moved = _stage_and_move(
            spark, out_df, table_path, "_optimize_",
            part_dir="/".join(
                f"{k}={v}" for k, v in partition_values.items()
                if v is not None
            ),
        )
    else:
        if (
            str(configuration.get(OPTIMIZE_WRITE_PROP, "false")).lower()
            == "true"
        ):
            # optimize write: the pre-write shuffle becomes an AQE
            # REBALANCE — partitions coalesce toward
            # spark.sql.adaptive.advisoryPartitionSizeInBytes AND
            # skewed ones split, so a 2000-task upstream lands a
            # handful of right-sized files and a hot partition value
            # still splits across files
            out_df = out_df.hint(
                "rebalance", *[F.col(f"`{p}`") for p in phys_parts]
            )
        elif phys_parts:
            # cluster rows by partition value so each partition yields
            # a handful of files, not (shuffle.partitions × values)
            # tiny ones — one shuffle now against a small-files cost
            # every future scan pays
            out_df = out_df.repartition(*[f"`{p}`" for p in phys_parts])
        moved = _stage_and_move(
            spark, out_df, table_path, partition_by=phys_parts,
            # bounds file size even after clustering
            max_records_per_file=max_records_per_file,
        )
    stats_by_rel = collect_stats_batch(
        spark,
        table_path,
        [(rel, size) for rel, _pv, size, _mt in moved],
        skip_columns=set(phys_parts) | set(extra_cols),
        stats_columns=data_skipping_stats_columns(schema, configuration),
    )
    fs = fs_for(table_path, spark)
    kept = []
    for m in moved:
        st = parse_stats(stats_by_rel[m[0]])
        if st is not None and st.get("numRecords") == 0:
            fs.delete(os.path.join(table_path, m[0]))  # never committed
        else:
            kept.append(m)
    if notnull_verify:
        verify_notnull_from_stats(
            spark, table_path, notnull_verify, kept, stats_by_rel,
            schema, partition_cols, fs,
        )
    p2l = dict(zip(phys_parts, partition_cols))
    adds = []
    for rel, pv, size, mtime_ms in kept:
        stats = stats_by_rel[rel]
        adds.append(
            {
                "add": {
                    "path": _url_encode_path(rel),
                    "partitionValues": (
                        dict(partition_values)
                        if partition_values is not None
                        else {p2l.get(k, k): v for k, v in pv.items()}
                    ),
                    "size": size,
                    "modificationTime": mtime_ms,
                    "dataChange": data_change,
                    "stats": stats,
                    **({"tags": tags} if tags else {}),
                }
            }
        )
    return adds


CLUSTERING_DOMAIN = "delta.clustering"


def clustering_domain_action(
    schema: StructType, cluster_by: list[str], removed: bool = False
) -> dict:
    """``delta.clustering`` domainMetadata carrying the clustering
    columns as *physical* names (delta-spec liquid clustering;
    delta-spark stores them the same way so mapped-table renames don't
    invalidate the domain)."""
    by_name = {f.name: f for f in schema.fields}
    phys = []
    for c in cluster_by:
        if c not in by_name:
            raise DeltaWriteError(f"clustering column {c!r} not in schema")
        f = by_name[c]
        phys.append(
            [(f.metadata or {}).get("delta.columnMapping.physicalName",
                                    f.name)]
        )
    return {
        "domainMetadata": {
            "domain": CLUSTERING_DOMAIN,
            "configuration": json.dumps({"clusteringColumns": phys}),
            "removed": removed,
        }
    }


def clustering_columns(snapshot) -> list[str]:
    """Logical clustering column names from the snapshot's
    ``delta.clustering`` domain (empty when the table isn't
    clustered)."""
    raw = snapshot.domain_metadata.get(CLUSTERING_DOMAIN)
    if not raw:
        return []
    phys_names = [p[-1] for p in json.loads(raw).get("clusteringColumns", [])]
    p2l = {
        (f.metadata or {}).get("delta.columnMapping.physicalName", f.name):
            f.name
        for f in snapshot.schema.fields
    }
    return [p2l.get(p, p) for p in phys_names]


def _replace_table_empty(
    spark, existing, schema: StructType, partition_by: list[str],
    configuration: dict[str, str], name: str | None,
    cluster_by: list[str], description: str | None = None,
) -> "Snapshot":
    """CREATE OR REPLACE TABLE (no AS SELECT): one commit that removes
    every live file and installs brand-new metadata under the same
    table id. Protocol only upgrades; per-table domains other than the
    row-id high-water mark are dropped; clustering (when requested)
    is re-declared from the new column set."""
    from deltalake_datafusion_spark.delta.constraints import (
        check_append_only,
    )

    table_path = existing.table_path
    check_append_only(existing.metadata.configuration, "REPLACE TABLE")
    for attempt in range(10):
        current = load_snapshot(table_path, spark=spark)
        # same gate as every other commit path: refuse to commit over
        # a protocol demanding writer features this engine does not
        # implement (their invariants would be silently violated)
        check_writable(current)
        actions: list[dict] = []
        creation = _creation_protocol(False, configuration, schema)
        needed = set(creation["protocol"].get("writerFeatures") or [])
        if cluster_by:
            needed |= {"clustering", "domainMetadata"}
        up = (
            protocol_upgrade_action(current.protocol, needed)
            if needed
            else None
        )
        if up is not None:
            actions.append(up)
        md = _metadata_action(
            schema, partition_by, configuration,
            current.metadata.id, name or current.metadata.name,
        )
        md["metaData"]["createdTime"] = current.metadata.created_time
        md["metaData"]["description"] = description
        actions.append(md)
        for dom in current.domain_metadata:
            if dom == "delta.rowTracking" or (
                dom == "delta.clustering" and cluster_by
            ):
                continue
            actions.append(
                {
                    "domainMetadata": {
                        "domain": dom,
                        "configuration": "",
                        "removed": True,
                    }
                }
            )
        if cluster_by:
            actions.append(clustering_domain_action(schema, cluster_by))
        actions.extend(_remove_action(f) for f in current.files)
        try:
            commit(
                table_path, current.version + 1, actions,
                "CREATE OR REPLACE TABLE", spark=spark,
                configuration=configuration,
            )
            break
        except ConcurrentWriteError:
            if attempt == 9:
                raise
            continue
    return load_snapshot(table_path, spark=spark)


def create_delta_table(
    spark,
    table_path: str,
    schema: StructType,
    partition_by: list[str] | None = None,
    configuration: dict[str, str] | None = None,
    name: str | None = None,
    cluster_by: list[str] | None = None,
    or_replace: bool = False,
    if_not_exists: bool = False,
    description: str | None = None,
) -> Snapshot:
    """CREATE TABLE: an empty Delta table from an explicit schema —
    the only way to declare identity columns (which must exist before
    the first data arrives) and the natural home for DEFAULT /
    generated-column metadata. One metadata-only commit; appends flow
    through :func:`write_delta` afterwards.

    ``cluster_by`` declares liquid clustering (Delta ``clustering``
    table feature): the column set lands in the ``delta.clustering``
    domain and OPTIMIZE clusters data by it; mutually exclusive with
    ``partition_by`` (delta-spark rule).

    ``or_replace``: an existing table is replaced in one commit —
    fresh schema/partitioning/configuration under the same table id,
    all current files removed, history continues (CREATE OR REPLACE
    TABLE). ``if_not_exists``: an existing table is returned
    untouched."""
    table_path = strip_scheme(table_path)
    partition_by = list(partition_by or [])
    cluster_by = list(cluster_by or [])
    configuration = ensure_row_tracking_conf(dict(configuration or {}))
    for p in partition_by:
        if p not in schema.fieldNames():
            raise DeltaWriteError(f"partition column {p!r} not in schema")
    if cluster_by and partition_by:
        raise DeltaWriteError(
            "CLUSTER BY and PARTITIONED BY are mutually exclusive"
        )
    if or_replace and if_not_exists:
        raise DeltaWriteError(
            "OR REPLACE and IF NOT EXISTS are mutually exclusive"
        )
    existing = None
    try:
        existing = load_snapshot(table_path, spark=spark)
    except DeltaNotFoundError:
        pass
    if existing is not None:
        if if_not_exists:
            return existing
        if not or_replace:
            raise DeltaWriteError(f"table already exists at {table_path}")
        return _replace_table_empty(
            spark, existing, schema, partition_by, configuration, name,
            cluster_by, description,
        )
    proto = _creation_protocol(False, configuration, schema)
    if cluster_by:
        feats = set(proto["protocol"].get("writerFeatures") or [])
        up = protocol_upgrade_action(
            Protocol(
                proto["protocol"]["minReaderVersion"],
                proto["protocol"]["minWriterVersion"],
                proto["protocol"].get("readerFeatures"),
                sorted(feats) if feats else None,
            ),
            {"clustering", "domainMetadata"},
        )
        if up is not None:
            proto = up
    md = _metadata_action(
        schema, partition_by, configuration, str(uuid.uuid4()), name
    )
    md["metaData"]["description"] = description
    actions = [proto, md]
    if cluster_by:
        actions.append(clustering_domain_action(schema, cluster_by))
    commit(
        table_path, 0, actions, "CREATE TABLE", spark=spark,
        configuration=configuration,
    )
    return load_snapshot(table_path, spark=spark)


def write_delta(
    spark,
    df: DataFrame,
    table_path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    configuration: dict[str, str] | None = None,
    name: str | None = None,
    column_mapping: bool = False,
    schema_mode: str = "strict",
    txn: tuple[str, int] | list[tuple[str, int]] | None = None,
    max_records_per_file: int | None = None,
    max_commit_attempts: int = 10,
    replace_where: str | None = None,
    partition_overwrite_mode: str | None = None,
    replace_table: bool = False,
) -> Snapshot:
    """Write ``df`` to a Delta table (append / overwrite / error).

    ``schema_mode="merge"`` evolves the table schema: new DataFrame
    columns are appended (nullable) and recorded via a fresh metaData
    action; columns missing from the DataFrame are imputed as nulls;
    type-compatible columns are cast to the table's types. Readers of
    old files see the new columns as nulls through the schema adapter
    (FIXTURES.md F5 semantics).

    ``replace_where`` (with ``mode="overwrite"``) replaces only the
    rows matching the predicate: matched rows are deleted through the
    DELETE planner (stats-full files drop as metadata, partially
    matching files get deletion vectors) and the new data lands in the
    same atomic commit — delta-spark's replaceWhere. Incoming rows
    must all satisfy the predicate unless session conf
    ``lakehouse.delta.replace_where.constraint_check`` is ``false``.

    ``partition_overwrite_mode="dynamic"`` (or session conf
    ``spark.sql.sources.partitionOverwriteMode=dynamic``) makes
    ``mode="overwrite"`` replace only the partitions present in ``df``;
    untouched partitions survive. On an unpartitioned table it
    degenerates to a full overwrite.

    Returns the post-commit snapshot.
    """
    if mode not in ("append", "overwrite", "error", "errorifexists"):
        raise DeltaWriteError(f"unsupported mode {mode!r}")
    if replace_where is not None and mode != "overwrite":
        raise DeltaWriteError("replace_where requires mode='overwrite'")
    pom = partition_overwrite_mode
    if pom is None and mode == "overwrite":
        pom = spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static"
        )
    pom = (pom or "static").lower()
    if pom not in ("static", "dynamic"):
        raise DeltaWriteError(
            f"unsupported partition_overwrite_mode {partition_overwrite_mode!r}"
        )
    dynamic_overwrite = mode == "overwrite" and pom == "dynamic"
    if replace_where is not None and dynamic_overwrite:
        raise DeltaWriteError(
            "replace_where cannot be combined with dynamic partition "
            "overwrite"
        )
    if replace_table and (
        mode != "overwrite" or replace_where is not None or dynamic_overwrite
    ):
        raise DeltaWriteError(
            "replace_table requires mode='overwrite' and cannot be "
            "combined with replace_where or dynamic partition overwrite"
        )
    table_path = strip_scheme(table_path)
    partition_by = list(partition_by or [])
    configuration = dict(configuration or {})
    # delta.columnMapping.mode in the configuration implies the flag:
    # otherwise a create with mode 'name'/'id' in config but
    # column_mapping=False would commit an inconsistent table (mode
    # set, schema unmapped, legacy protocol)
    if configuration.get("delta.columnMapping.mode", "none") != "none":
        column_mapping = True
    # Originals for a full restart (identity / mapped-schema conflicts
    # re-mint against a fresh snapshot): df before any column
    # injection, caller's raw partition/config args.
    df_in, partition_by_in, configuration_in = (
        df, list(partition_by), dict(configuration)
    )

    try:
        existing = load_snapshot(table_path, spark=spark)
        check_writable(existing)
    except DeltaNotFoundError:
        existing = None

    # REPLACE TABLE: the DataFrame DEFINES the table — schema,
    # partitioning, and configuration come from the caller, not the
    # replaced table. Treat the write as a create that commits over
    # the old version (removing its files); history and table id
    # continue through the replace.
    replaced = existing if replace_table and existing is not None else None
    if replaced is not None:
        from deltalake_datafusion_spark.delta.constraints import (
            check_append_only as _cao,
        )

        _cao(replaced.metadata.configuration, "REPLACE TABLE")
        existing = None

    if existing is None:
        configuration = ensure_row_tracking_conf(configuration)

    if existing is not None and mode in ("error", "errorifexists"):
        raise DeltaWriteError(f"table already exists at {table_path}")

    # Idempotent writer transactions (streaming exactly-once; COPY INTO
    # passes one per loaded file): skip when every (appId, version) is
    # already committed.
    txns: list[tuple[str, int]] = (
        [txn] if isinstance(txn, tuple) else list(txn or [])
    )
    if (
        txns
        and existing is not None
        and all(
            existing.app_transactions.get(a, -1) >= v for a, v in txns
        )
    ):
        return existing

    schema_changed = False
    ident_assigned: dict[str, dict] = {}
    if existing is not None:
        if column_mapping and existing.column_mapping_mode == "none":
            raise DeltaWriteError("cannot enable column mapping on an existing table")
        partition_by = existing.partition_columns
        logical_schema = existing.schema
        existing_names = set(logical_schema.fieldNames())
        df_names = set(df.schema.fieldNames())

        # Identity columns: reject explicit values on GENERATED ALWAYS;
        # mint block-allocated ids for absent columns (delta/identity.py)
        from deltalake_datafusion_spark.delta.identity import (
            assign_identity,
            identity_columns,
        )

        ident = identity_columns(logical_schema)
        for c in sorted(set(ident) & df_names):
            if not ident[c]["allow_explicit"]:
                raise DeltaWriteError(
                    f"identity column {c!r} is GENERATED ALWAYS AS "
                    "IDENTITY — it cannot be written explicitly"
                )
        for c in sorted((existing_names - df_names) & set(ident)):
            info = ident[c]
            base = (
                info["start"]
                if info["hwm"] is None
                else info["hwm"] + info["step"]
            )
            df = assign_identity(df, c, base, info["step"])
            df_names.add(c)
            ident_assigned[c] = info
        mapping = existing.column_mapping_mode != "none"
        if schema_mode == "merge":
            write_schema, merged_conf, schema_changed = merge_schema_fields(
                existing, df.schema.fields
            )
            if schema_changed:
                # table config (+ mapping ids) first, caller overrides kept
                configuration = {**merged_conf, **configuration}
            from pyspark.sql import functions as F

            df = df.select(
                *[
                    (
                        F.col(f.name).cast(f.dataType)
                        if f.name in df_names
                        else (
                            F.expr(f.metadata["CURRENT_DEFAULT"])
                            if f.metadata and "CURRENT_DEFAULT" in f.metadata
                            else F.lit(None)
                        ).cast(f.dataType)
                    ).alias(f.name)
                    for f in write_schema.fields
                ]
            )
        else:
            from pyspark.sql import functions as F

            # Generated columns (delta.generationExpression metadata):
            # computed when absent from the batch, validated when
            # provided (null-safe equality) — Delta writer semantics.
            gen = {
                f.name: f.metadata["delta.generationExpression"]
                for f in logical_schema.fields
                if f.metadata and "delta.generationExpression" in f.metadata
            }
            check_gen = sorted(set(gen) & df_names)
            for c in sorted((existing_names - df_names) & set(gen)):
                df = df.withColumn(c, F.expr(gen[c]))
                df_names.add(c)
            # Column DEFAULT values (allowColumnDefaults): a column
            # absent from the batch takes its declared default — unlike
            # generated columns, a provided value always wins unchecked.
            dflt = {
                f.name: f.metadata["CURRENT_DEFAULT"]
                for f in logical_schema.fields
                if f.metadata and "CURRENT_DEFAULT" in f.metadata
            }
            for c in sorted((existing_names - df_names) & set(dflt)):
                df = df.withColumn(c, F.expr(dflt[c]))
                df_names.add(c)
            if check_gen:
                aggs = [
                    F.sum(
                        F.when(~F.col(c).eqNullSafe(F.expr(gen[c])), 1).otherwise(0)
                    ).alias(c)
                    for c in check_gen
                ]
                row = df.agg(*aggs).collect()[0]
                for c in check_gen:
                    if row[c]:
                        raise DeltaWriteError(
                            f"generated column {c!r} has {row[c]} row(s) not "
                            f"matching its expression ({gen[c]})"
                        )
            if df_names != existing_names:
                raise DeltaWriteError(
                    f"schema mismatch: table has {sorted(existing_names)}, "
                    f"dataframe has {sorted(df_names)} "
                    "(use schema_mode='merge' to evolve)"
                )
            # Preserve the table's column order + mapping metadata;
            # cast type-compatible columns to the table's types.
            df = df.select(
                *[
                    F.col(f.name).cast(f.dataType).alias(f.name)
                    for f in logical_schema.fields
                ]
            )
            write_schema = logical_schema
    else:
        for p in partition_by:
            if p not in df.schema.fieldNames():
                raise DeltaWriteError(f"partition column {p!r} not in dataframe")
        write_schema = (
            _assign_physical_names(df.schema) if column_mapping else df.schema
        )
        if column_mapping:
            configuration.setdefault("delta.columnMapping.mode", "name")
            configuration.setdefault("delta.columnMapping.maxColumnId",
                                     str(_max_field_id(write_schema)))
        mapping = column_mapping

    # appendOnly rejects overwrite (it removes files)
    from deltalake_datafusion_spark.delta.constraints import check_append_only

    active_conf = (
        existing.metadata.configuration if existing is not None else configuration
    )
    if mode == "overwrite" and existing is not None:
        check_append_only(active_conf, "overwrite")

    if replace_where is not None:
        # delta-spark replaceWhere constraint: every incoming row must
        # satisfy the predicate, else rows would land outside the
        # replaced region and silently survive the next replaceWhere.
        # One aggregate riding the write scan; conf-disableable.
        from pyspark.sql import functions as F

        _rw_check = str(
            spark.conf.get(
                "lakehouse.delta.replace_where.constraint_check", "true"
            )
        ).lower() != "false"
        if _rw_check and not df.filter(
            ~F.coalesce(F.expr(replace_where).cast("boolean"), F.lit(False))
        ).isEmpty():
            raise DeltaWriteError(
                "replaceWhere constraint violated: the written data "
                f"contains rows not matching {replace_where!r} (set "
                "lakehouse.delta.replace_where.constraint_check=false "
                "to allow)"
            )

    # Mode 'id' tables (Iceberg-converted / foreign) stamp parquet
    # field ids so the new files resolve by id like the existing ones.
    if not mapping:
        mapping_mode = "none"
    elif existing is not None:
        mapping_mode = existing.column_mapping_mode
    else:
        mapping_mode = configuration.get("delta.columnMapping.mode", "name")
    adds = write_data_files(
        spark, df, table_path, write_schema, partition_by, active_conf,
        mapping_mode, max_records_per_file=max_records_per_file,
    )

    hwm_advance: dict[str, int] = {}
    if ident_assigned:
        # the assigned columns' high-water marks come from the footer
        # stats already in the add actions — zero extra scans
        from deltalake_datafusion_spark.delta.identity import (
            advance_hwm_from_adds,
        )

        write_schema, hwm_advance = advance_hwm_from_adds(
            write_schema, adds,
            {c: info["step"] for c, info in ident_assigned.items()},
        )

    cdc_overwrite: list[dict] | None = None
    cdc_staged_version: int | None = None
    rw_plan: dict | None = None
    rw_planned_version: int | None = None
    for attempt in range(max_commit_attempts):
        try:
            current = load_snapshot(table_path, spark=spark)
        except DeltaNotFoundError:
            current = None
        version = 0 if current is None else current.version + 1
        actions: list[dict] = []
        if current is not None and replaced is None:
            # schema-evolution appends introducing type-gated features
            # (timestamp_ntz / variant columns) must upgrade the
            # protocol in the same commit
            _type_needed = _schema_type_features(write_schema)
            if _type_needed:
                _up = protocol_upgrade_action(
                    current.protocol, _type_needed
                )
                if _up is not None:
                    actions.append(_up)
        if current is None:
            actions.append(
                _creation_protocol(mapping, configuration, write_schema)
            )
            actions.append(
                _metadata_action(
                    write_schema, partition_by, configuration,
                    str(uuid.uuid4()), name,
                )
            )
        elif replaced is not None:
            # REPLACE TABLE: brand-new metadata (schema, partitioning,
            # configuration) under the SAME table id — history and the
            # version lineage continue; the protocol only ever
            # upgrades (readers of the old protocol must keep working).
            creation = _creation_protocol(mapping, configuration, write_schema)
            needed = set(creation["protocol"].get("writerFeatures") or [])
            up = (
                protocol_upgrade_action(current.protocol, needed)
                if needed
                else None
            )
            if up is not None:
                actions.append(up)
            md = _metadata_action(
                write_schema, partition_by, configuration,
                current.metadata.id, name or current.metadata.name,
            )
            md["metaData"]["createdTime"] = current.metadata.created_time
            actions.append(md)
            # stale per-table domains (e.g. liquid clustering) do not
            # survive a replace
            for dom in current.domain_metadata:
                if dom == "delta.rowTracking":
                    continue  # row-id high-water mark must never regress
                actions.append(
                    {
                        "domainMetadata": {
                            "domain": dom,
                            "configuration": "",
                            "removed": True,
                        }
                    }
                )
        elif schema_changed or ident_assigned:
            # Schema evolution or identity high-water-mark advance:
            # re-emit metaData with the updated schema (same table id —
            # the schema history lives in the log). The action is
            # rebuilt against the snapshot THIS attempt commits over:
            # after a ConcurrentWriteError the stale write_schema could
            # revert an intervening schema change or re-mint identity
            # ranges another writer already handed out.
            eff_schema = write_schema
            eff_conf = configuration or current.metadata.configuration
            if existing is not None and current.version != existing.version:
                from deltalake_datafusion_spark.delta.identity import (
                    identity_columns as _ident_cols,
                    schema_with_hwm as _with_hwm,
                )

                def _restart():
                    if max_commit_attempts <= 1:
                        raise ConcurrentWriteError(
                            f"conflicting concurrent commits at {table_path}"
                        )
                    return write_delta(
                        spark, df_in, table_path, mode=mode,
                        partition_by=partition_by_in,
                        configuration=configuration_in, name=name,
                        column_mapping=column_mapping,
                        schema_mode=schema_mode, txn=txn,
                        max_records_per_file=max_records_per_file,
                        max_commit_attempts=max_commit_attempts - 1,
                        replace_where=replace_where,
                        partition_overwrite_mode=partition_overwrite_mode,
                        replace_table=replace_table,
                    )

                if ident_assigned:
                    cur_ident = _ident_cols(current.schema)
                    for c, info in ident_assigned.items():
                        if cur_ident.get(c, {}).get("hwm") != info["hwm"]:
                            # another writer minted from the same high-
                            # water mark — our staged ids may collide;
                            # restart from a fresh snapshot (re-mint)
                            return _restart()
                merged, merged_conf, _ = merge_schema_fields(
                    current, write_schema.fields
                )
                if schema_changed and current.column_mapping_mode != "none":
                    # mapped evolution: our data files are written under
                    # the originally assigned physical names — if the
                    # re-merge hands our new columns different ids, the
                    # files no longer match the metadata → restart
                    orig_phys = {
                        f.name: (f.metadata or {}).get(
                            "delta.columnMapping.physicalName", f.name
                        )
                        for f in write_schema.fields
                    }
                    for f in merged.fields:
                        phys = (f.metadata or {}).get(
                            "delta.columnMapping.physicalName", f.name
                        )
                        if orig_phys.get(f.name, phys) != phys:
                            return _restart()
                for c, hwm in hwm_advance.items():
                    merged = _with_hwm(merged, c, hwm)
                eff_schema = merged
                eff_conf = {**merged_conf, **configuration_in}
            md = _metadata_action(
                eff_schema,
                partition_by,
                eff_conf,
                current.metadata.id,
                current.metadata.name,
            )
            md["metaData"]["createdTime"] = current.metadata.created_time
            md["metaData"]["description"] = (
                current.metadata.description
            )
            actions.append(md)
        removes: list[dict] = []
        rw_actions: list[dict] = []
        removed_files: list = []
        if mode == "overwrite" and current is not None:
            if replace_where is not None:
                # replaceWhere: plan a DELETE of the predicate's rows
                # against the snapshot THIS attempt commits over —
                # stats-full files drop as metadata, partially matching
                # files get deletion vectors; unmatched files survive.
                # Re-planned whenever a concurrent commit moved the tip
                # (orphaned DV files from a lost attempt are
                # unreferenced and vacuumable).
                from deltalake_datafusion_spark.delta.ops import (
                    _delete_plan,
                )

                if rw_plan is None or rw_planned_version != current.version:
                    rw_plan = _delete_plan(
                        spark, current, replace_where, emit_cdc=False
                    )
                    rw_planned_version = current.version
                rw_actions = rw_plan["actions"]
            else:
                if dynamic_overwrite:
                    written = {
                        tuple(sorted(a["add"]["partitionValues"].items()))
                        for a in adds
                    }
                    removed_files = [
                        f
                        for f in current.files
                        if tuple(sorted(f.partition_values.items()))
                        in written
                    ]
                else:
                    removed_files = list(current.files)
                removes = [_remove_action(f) for f in removed_files]
        # REPLACE TABLE is a schema boundary: change files for this
        # commit would have to carry the NEW schema while the staging
        # machinery writes under the replaced table's metadata — and
        # delta-spark itself refuses CDF reads across incompatible
        # schema changes. Skip explicit cdc on replace commits.
        if mode == "overwrite" and current is not None and replaced is None:
            # CDF: overwrite both adds and removes → the commit must
            # carry its changes as cdc (delete of every old row +
            # insert of every new one); synthesis cannot describe it.
            from deltalake_datafusion_spark.delta.cdf import (
                CHANGE_TYPE_COL,
                cdf_enabled,
                stage_cdc,
            )

            if cdf_enabled(current.metadata.configuration):
                # The delete pre-image must reflect the snapshot this
                # attempt actually replaces: after a ConcurrentWrite
                # retry the table tip moved, so a pre-image staged
                # against the old version would misstate which rows
                # the overwrite removed. Re-stage whenever the version
                # changed (the orphaned staging files from the failed
                # attempt are unreferenced and vacuumable).
                if cdc_overwrite is None or cdc_staged_version != current.version:
                    from pyspark.sql import functions as F

                    from deltalake_datafusion_spark.delta.scan import read_delta

                    if replace_where is not None:
                        # only the predicate's rows are deleted
                        old_df = read_delta(
                            spark, table_path, version=current.version
                        ).filter(F.expr(replace_where))
                    elif dynamic_overwrite:
                        # only rows in the replaced partitions
                        if removed_files:
                            from deltalake_datafusion_spark.delta.ops import (
                                _scan_with_rowmeta,
                            )

                            old_df = _scan_with_rowmeta(
                                spark, current, None, files=removed_files
                            ).drop("__row_index", "__file_path")
                        else:
                            old_df = None
                    else:
                        old_df = read_delta(
                            spark, table_path, version=current.version
                        )
                    new_df = df.withColumn(CHANGE_TYPE_COL, F.lit("insert"))
                    cdc_df = (
                        new_df
                        if old_df is None
                        else old_df.withColumn(
                            CHANGE_TYPE_COL, F.lit("delete")
                        ).unionByName(new_df, allowMissingColumns=True)
                    )
                    cdc_overwrite = stage_cdc(spark, current, cdc_df)
                    cdc_staged_version = current.version
                actions.extend(cdc_overwrite)
        actions.extend(removes)
        actions.extend(rw_actions)
        actions.extend(adds)
        if txns:
            done = (
                sum(
                    1 for a, v in txns
                    if current.app_transactions.get(a, -1) >= v
                )
                if current is not None
                else 0
            )
            if done == len(txns):
                return current  # lost a race to an identical retry
            if done:
                # A concurrent run committed a strict subset of our
                # appIds (e.g. it listed fewer files): our staged data
                # contains those files' rows too, so committing would
                # double-load them — the caller must rebuild the batch.
                raise TxnPartialOverlapError(
                    f"{done}/{len(txns)} txns already committed "
                    f"concurrently at {table_path}; rebuild the batch "
                    "from a fresh snapshot"
                )
            actions.extend(
                {"txn": {"appId": a, "version": v,
                         "lastUpdated": _now_ms()}}
                for a, v in txns
            )
        op = "WRITE" if current is None else mode.upper()
        if replaced is not None and current is not None:
            op = "REPLACE TABLE AS SELECT"
        commit_conf = (
            current.metadata.configuration
            if current is not None
            else (configuration or {})
        )
        for a in actions:
            if a.get("metaData"):
                commit_conf = a["metaData"].get(
                    "configuration", commit_conf
                )
        op_params: dict[str, str] | None = None
        op_metrics: dict[str, str] | None = None
        if replace_where is not None:
            op_params = {"mode": "Overwrite", "predicate": replace_where}
            if rw_plan is not None:
                op_metrics = {
                    "numDeletedRows": str(rw_plan["rows_deleted"])
                }
        elif dynamic_overwrite and current is not None:
            op_params = {
                "mode": "Overwrite",
                "partitionBy": json.dumps(partition_by),
                "partitionOverwriteMode": "dynamic",
            }
        try:
            commit(
                table_path, version, actions, op, spark,
                configuration=commit_conf,
                operation_parameters=op_params,
                operation_metrics=op_metrics,
            )
            break
        except ConcurrentWriteError:
            if attempt == max_commit_attempts - 1:
                raise
            continue

    snap = load_snapshot(table_path, spark=spark)
    maybe_checkpoint(spark, snap)
    _maybe_auto_compact(spark, snap, adds)
    return snap


AUTO_COMPACT_PROP = "delta.autoOptimize.autoCompact"
AUTO_COMPACT_MIN_FILES_PROP = "delta.autoOptimize.minNumFiles"
AUTO_COMPACT_SMALL_BYTES = 128 * 1024 * 1024


def _maybe_auto_compact(spark, snap: Snapshot, adds: list[dict]) -> None:
    """Post-commit auto-compaction (delta-spark
    ``delta.autoOptimize.autoCompact``): when the partitions this
    write touched accumulate ≥ minNumFiles (default 50) files under
    128 MiB, bin-pack THOSE partitions only — a streaming sink's
    trickle of tiny files self-heals without a separate OPTIMIZE job,
    and untouched partitions are never scanned."""
    conf = snap.metadata.configuration
    if conf.get(AUTO_COMPACT_PROP, "").lower() != "true":
        return
    min_files = int(conf.get(AUTO_COMPACT_MIN_FILES_PROP, "50"))
    written_pvs = [
        dict(a["add"].get("partitionValues") or {})
        for a in adds
    ]
    seen: list[dict] = []
    for pv in written_pvs:
        if pv not in seen:
            seen.append(pv)
    small = [
        f for f in snap.files
        if f.size < AUTO_COMPACT_SMALL_BYTES and f.partition_values in seen
    ]
    if len(small) < min_files:
        return
    from deltalake_datafusion_spark.delta.ops import optimize_delta

    try:
        optimize_delta(
            spark, snap.table_path,
            small_file_threshold=AUTO_COMPACT_SMALL_BYTES,
            only_partitions=seen,
            max_restarts=1,  # best-effort: don't fight a live writer
        )
    except (ConcurrentWriteError, ConcurrentModificationError):
        # best-effort: the triggering write already committed; a
        # concurrent writer winning the compaction slot is fine — the
        # next write past the threshold retries
        pass


def _max_field_id(schema: StructType) -> int:
    best = 0

    def walk(t):
        nonlocal best
        if isinstance(t, StructType):
            for f in t.fields:
                fid = (f.metadata or {}).get("delta.columnMapping.id")
                if fid:
                    best = max(best, int(fid))
                walk(f.dataType)
        elif isinstance(t, ArrayType):
            walk(t.elementType)
        elif isinstance(t, MapType):
            walk(t.keyType)
            walk(t.valueType)

    walk(schema)
    return best


def _url_encode_path(rel: str) -> str:
    import urllib.parse as up

    return "/".join(up.quote(seg) for seg in rel.split(os.sep))


def _dv_to_json(dv) -> dict:
    return {
        "storageType": dv.storage_type,
        "pathOrInlineDv": dv.path_or_inline,
        "offset": dv.offset,
        "sizeInBytes": dv.size_in_bytes,
        "cardinality": dv.cardinality,
    }


def _remove_action(f) -> dict:
    """``remove`` action (dataChange) for a live file of a snapshot."""
    return {
        "remove": {
            "path": _url_encode_path(f.path),
            "deletionTimestamp": _now_ms(),
            "dataChange": True,
            "extendedFileMetadata": True,
            "partitionValues": f.partition_values,
            "size": f.size,
            **({"deletionVector": _dv_to_json(f.dv)} if f.dv else {}),
        }
    }


# ------------------------------------------------------------------ #
# Checkpoints                                                         #
# ------------------------------------------------------------------ #


def state_actions(snapshot) -> list[dict]:
    """The table-state actions of a snapshot besides its files, as log
    actions: protocol, metaData, the latest ``txn`` per appId and the
    live ``domainMetadata`` — what every checkpoint carries, what the
    ``.crc`` summarizes, and what a clone starts from. txn state must
    survive checkpointing (spec: checkpoints carry the latest txn per
    appId): COPY INTO's per-file ledger and streaming-sink idempotence
    depend on it once ``cleanup_expired_logs`` deletes the commits."""
    pr, md = snapshot.protocol, snapshot.metadata
    return [
        {
            "protocol": {
                "minReaderVersion": pr.min_reader_version,
                "minWriterVersion": pr.min_writer_version,
                **(
                    {"readerFeatures": pr.reader_features}
                    if pr.reader_features else {}
                ),
                **(
                    {"writerFeatures": pr.writer_features}
                    if pr.writer_features else {}
                ),
            }
        },
        {
            "metaData": {
                "id": md.id,
                "name": md.name,
                "description": md.description,
                "format": {"provider": "parquet", "options": {}},
                "schemaString": md.schema_string,
                "partitionColumns": md.partition_columns,
                "configuration": md.configuration,
                "createdTime": md.created_time,
            }
        },
        *(
            {"txn": {"appId": a, "version": v}}
            for a, v in sorted(snapshot.app_transactions.items())
        ),
        *(
            {"domainMetadata": {"domain": d, "configuration": c,
                                "removed": False}}
            for d, c in sorted(snapshot.domain_metadata.items())
        ),
    ]


def _log_rows_df(spark, rows: list[dict], schema) -> DataFrame:
    """Driver-built log actions as a frame of ``schema``, through the
    JSON parse every checkpoint writer shares."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(json.dumps(r),) for r in rows], "value string")
    return df.select(F.from_json("value", schema).alias("a")).select("a.*")


def write_checkpoint(spark, snapshot: Snapshot) -> str:
    """Materialize the snapshot as ``N.checkpoint.parquet`` +
    ``_last_checkpoint`` (read side: snapshot.load_snapshot)."""
    from deltalake_datafusion_spark.delta.log_schema import LOG_SCHEMA

    rows = state_actions(snapshot)
    for f in snapshot.files:
        rows.append(
            {
                "add": {
                    "path": _url_encode_path(f.path),
                    "partitionValues": f.partition_values,
                    "size": f.size,
                    "modificationTime": f.modification_time,
                    "dataChange": False,
                    "stats": f.stats,
                    **({"deletionVector": _dv_to_json(f.dv)} if f.dv else {}),
                    **(
                        {"baseRowId": f.base_row_id,
                         "defaultRowCommitVersion": f.default_row_commit_version}
                        if f.base_row_id is not None else {}
                    ),
                    **({"tags": f.tags} if f.tags else {}),
                }
            }
        )
    cp_name = f"{snapshot.version:020d}.checkpoint.parquet"
    log_dir = os.path.join(snapshot.table_path, "_delta_log")
    # repartition(1), not coalesce(1): the rows come from
    # createDataFrame (defaultParallelism pickled-RDD slices) and
    # coalesce would make ONE task drain every slice sequentially,
    # paying a Python-worker round trip per slice (~5 s measured);
    # repartition evaluates the slices as parallel map tasks first.
    parsed = _with_stats_parsed(_log_rows_df(spark, rows, LOG_SCHEMA), snapshot)
    _stage_and_move(
        spark, parsed.repartition(1), log_dir, ".cp_",
        name=lambda _i, _n: cp_name,
    )
    fs_for(snapshot.table_path, spark).write_bytes(
        os.path.join(log_dir, "_last_checkpoint"),
        json.dumps({"version": snapshot.version, "size": len(rows)}).encode(),
    )
    return os.path.join(log_dir, cp_name)


def _stats_struct_type(schema: StructType):
    """The typed ``stats_parsed`` struct delta-spark writes under
    ``delta.checkpoint.writeStatsAsStruct``: numRecords plus
    min/maxValues mirroring the PHYSICAL data schema (min/max-able
    leaves only — arrays/maps/binary carry no Delta-level stats) and
    nullCount with long leaves. Field names are physical (the stats
    JSON is keyed by parquet column paths)."""
    from pyspark.sql.types import (
        ArrayType, BinaryType, LongType, MapType, StructField,
    )

    def phys(f) -> str:
        return (f.metadata or {}).get(
            "delta.columnMapping.physicalName", f.name
        )

    def minmax(dt):
        if isinstance(dt, StructType):
            fields = []
            for f in dt.fields:
                sub = minmax(f.dataType)
                if sub is not None:
                    fields.append(StructField(phys(f), sub, True))
            return StructType(fields) if fields else None
        if isinstance(dt, (ArrayType, MapType, BinaryType)):
            return None
        return dt

    def nulls(dt):
        if isinstance(dt, StructType):
            return StructType(
                [StructField(phys(f), nulls(f.dataType), True) for f in dt.fields]
            )
        return LongType()

    mm = minmax(schema) or StructType([])
    return StructType(
        [
            StructField("numRecords", LongType(), True),
            StructField("minValues", mm, True),
            StructField("maxValues", mm, True),
            StructField("nullCount", nulls(schema), True),
        ]
    )


def _with_stats_parsed(df, snapshot):
    """Checkpoint stats shaping (delta-spark properties):
    ``delta.checkpoint.writeStatsAsStruct=true`` widens ``add`` with a
    typed ``stats_parsed`` column parsed from the stats JSON — one
    ``from_json`` expression, no extra pass (readers with typed-column
    pruning skip the per-file JSON parse);
    ``delta.checkpoint.writeStatsAsJson=false`` omits the JSON string
    from the checkpoint (commits keep theirs — only the checkpoint
    representation changes)."""
    conf = snapshot.metadata.configuration
    struct_on = (
        conf.get("delta.checkpoint.writeStatsAsStruct", "") or ""
    ).lower() == "true"
    json_off = (
        conf.get("delta.checkpoint.writeStatsAsJson", "true") or "true"
    ).lower() == "false"
    if not struct_on and not json_off:
        return df
    from pyspark.sql import functions as F

    add = F.col("add")
    if struct_on:
        st = _stats_struct_type(snapshot.schema)
        add = add.withField(
            "stats_parsed", F.from_json(F.col("add.stats"), st)
        )
    if json_off:
        add = add.withField("stats", F.lit(None).cast("string"))
    return df.withColumn("add", add)


def _live_adds_df(spark, snap) -> DataFrame:
    """The live add set of ``snap`` derived ON THE EXECUTORS
    (``snapshot.live_adds_spark``), each add restamped
    ``dataChange=false``; one ``add`` column. The file set never
    touches the driver."""
    from pyspark.sql import functions as F

    from deltalake_datafusion_spark.delta.snapshot import live_adds_spark

    return live_adds_spark(spark, snap.table_path, snap.version).select(
        F.col("add").withField("dataChange", F.lit(False)).alias("add")
    )


def write_checkpoint_spark(
    spark, table_path: str, version: int | None = None, parts: int | None = None
) -> list[str]:
    """Distributed multi-part checkpoint: the live add set is derived
    on the executors (:func:`_live_adds_df`) and written as
    ``N.checkpoint.<i>.<n>.parquet`` parts, so checkpointing a
    1e6-file table never funnels the file list through one JSON-string
    loop or one output file. The driver contributes only the
    :func:`state_actions` rows (O(1) + O(apps)).

    The single-part :func:`write_checkpoint` remains the small-table
    path; :func:`maybe_checkpoint` switches on file count.
    """
    import math

    from pyspark.sql import functions as F

    from deltalake_datafusion_spark.delta.log_schema import LOG_SCHEMA

    # metadata-only replay: the file set never touches the driver
    snap = load_snapshot(
        table_path, version=version, spark=spark, with_files=False
    )
    live = _live_adds_df(spark, snap)
    other = [f for f in LOG_SCHEMA.fieldNames() if f not in ("add", "commitInfo")]
    ck = live.select(
        "add",
        *[F.lit(None).cast(LOG_SCHEMA[f].dataType).alias(f) for f in other],
    )
    head_rows = state_actions(snap)
    head = (
        _log_rows_df(spark, head_rows, LOG_SCHEMA)
        .drop("commitInfo")
        .select(*ck.columns)
    )

    n_live = live.count()  # metadata-scale count, sizes the parts
    n_parts = parts or max(1, math.ceil(n_live / 500_000))
    log_dir = os.path.join(snap.table_path, "_delta_log")

    def name(i: int, n: int) -> str:
        if n == 1:
            return f"{snap.version:020d}.checkpoint.parquet"
        return f"{snap.version:020d}.checkpoint.{i + 1:010d}.{n:010d}.parquet"

    moved = _stage_and_move(
        spark,
        _with_stats_parsed(head.unionByName(ck), snap).repartition(n_parts),
        log_dir, ".cp_", name=name,
    )
    fs_for(snap.table_path, spark).write_bytes(
        os.path.join(log_dir, "_last_checkpoint"),
        json.dumps(
            {
                "version": snap.version,
                "size": n_live + len(head_rows),
                **({"parts": len(moved)} if len(moved) > 1 else {}),
            }
        ).encode(),
    )
    return [os.path.join(log_dir, rel) for rel, _pv, _sz, _mt in moved]


def write_checkpoint_v2(
    spark, table_path: str, version: int | None = None, parts: int | None = None
) -> str:
    """V2 checkpoint (Delta's v2Checkpoint table feature): the live
    add set is derived on the executors (:func:`_live_adds_df`) and
    written as UUID-named sidecar parquet files under
    ``_delta_log/_sidecars/``; the top-level
    ``N.checkpoint.<uuid>.parquet`` carries only the
    :func:`state_actions` rows plus a ``checkpointMetadata`` action and
    one ``sidecar`` pointer per part. UUID naming means concurrent
    checkpointers can never clobber each other, and readers pick any
    single complete checkpoint instead of assembling classic multipart
    fragments."""
    import math

    from pyspark.sql import functions as F

    from deltalake_datafusion_spark.delta.log_schema import (
        CHECKPOINT_V2_SCHEMA,
        LOG_SCHEMA,
    )

    snap = load_snapshot(
        table_path, version=version, spark=spark, with_files=False
    )
    if "v2Checkpoint" not in (snap.protocol.reader_features or []):
        raise DeltaWriteError(
            "v2 checkpoints need the v2Checkpoint table feature — "
            "SET TBLPROPERTIES ('delta.checkpointPolicy' = 'v2') first"
        )
    live = _live_adds_df(spark, snap).withColumn(
        "remove", F.lit(None).cast(LOG_SCHEMA["remove"].dataType)
    )
    n_live = live.count()
    n_parts = parts or max(1, math.ceil(n_live / 500_000))
    log_dir = os.path.join(snap.table_path, "_delta_log")
    sidecars = _stage_and_move(
        spark, _with_stats_parsed(live, snap).repartition(n_parts),
        log_dir, ".cp2_", part_dir="_sidecars",
        name=lambda _i, _n: f"{uuid.uuid4()}.parquet",
    )
    head_rows = [
        {"checkpointMetadata": {"version": snap.version}},
        *state_actions(snap),
        *(
            {"sidecar": {"path": os.path.basename(rel), "sizeInBytes": size,
                         "modificationTime": mtime}}
            for rel, _pv, size, mtime in sidecars
        ),
    ]
    cp_name = f"{snap.version:020d}.checkpoint.{uuid.uuid4()}.parquet"
    # repartition(1): see write_checkpoint
    _stage_and_move(
        spark,
        _log_rows_df(spark, head_rows, CHECKPOINT_V2_SCHEMA).repartition(1),
        log_dir, ".cp2t_", name=lambda _i, _n: cp_name,
    )
    fs_for(snap.table_path, spark).write_bytes(
        os.path.join(log_dir, "_last_checkpoint"),
        json.dumps(
            {"version": snap.version, "size": n_live + len(head_rows)}
        ).encode(),
    )
    return os.path.join(log_dir, cp_name)


# Above this live-file count, checkpoints are derived and written
# distributively instead of through the driver row loop.
DISTRIBUTED_CHECKPOINT_THRESHOLD = 100_000


def write_version_checksum(
    snapshot: Snapshot, spark=None, totals: dict | None = None
) -> str:
    """VERSION CHECKSUM file (``<version>.crc``, Delta spec): a
    per-version summary of the table state — file count, total bytes,
    DV counts, metadata, protocol, txn ledger, domain metadata —
    written next to the commit so readers can cross-check a replayed
    snapshot (and engines that trust it can skip recomputing
    numFiles/sizeInBytes). Overwrite-safe: the content is a pure
    function of the version's state."""
    fs = fs_for(snapshot.table_path, spark)
    dvs = [f.dv for f in snapshot.files if f.dv is not None]
    if totals is None:
        totals = {
            "tableSizeBytes": sum(f.size for f in snapshot.files),
            "numFiles": len(snapshot.files),
            "numDeletedRecordsOpt": sum(d.cardinality for d in dvs),
            "numDeletionVectorsOpt": len(dvs),
        }
    state = state_actions(snapshot)
    body = {
        "tableSizeBytes": totals["tableSizeBytes"],
        "numFiles": totals["numFiles"],
        "numMetadata": 1,
        "numProtocol": 1,
        "numDeletedRecordsOpt": totals["numDeletedRecordsOpt"],
        "numDeletionVectorsOpt": totals["numDeletionVectorsOpt"],
        "metadata": state[1]["metaData"],
        "protocol": state[0]["protocol"],
        "setTransactions": [a["txn"] for a in state if "txn" in a],
        "domainMetadata": [
            a["domainMetadata"] for a in state if "domainMetadata" in a
        ],
    }
    path = os.path.join(
        snapshot.table_path, "_delta_log", f"{snapshot.version:020d}.crc"
    )
    fs.write_atomic(path, (json.dumps(body) + "\n").encode())
    return path


class ChecksumMismatchError(Exception):
    """A version's .crc summary disagrees with the replayed snapshot."""


def verify_version_checksum(snapshot: Snapshot, spark=None) -> bool:
    """Cross-check a snapshot against its ``<version>.crc`` (when one
    exists). Returns False when no checksum file is present; raises
    :class:`ChecksumMismatchError` on disagreement."""
    fs = fs_for(snapshot.table_path, spark)
    path = os.path.join(
        snapshot.table_path, "_delta_log", f"{snapshot.version:020d}.crc"
    )
    if not fs.exists(path):
        return False
    crc = json.loads(fs.read_bytes(path))
    actual = {
        "numFiles": len(snapshot.files),
        "tableSizeBytes": sum(f.size for f in snapshot.files),
    }
    problems = [
        f"{k}: crc={crc.get(k)!r} snapshot={v!r}"
        for k, v in actual.items()
        if crc.get(k) != v
    ]
    if crc.get("setTransactions") is not None:
        want = {
            (t["appId"], t["version"]) for t in crc["setTransactions"]
        }
        have = set(snapshot.app_transactions.items())
        if want != have:
            problems.append(f"setTransactions: crc={want} snapshot={have}")
    if problems:
        raise ChecksumMismatchError(
            f"{path}: " + "; ".join(problems)
        )
    return True


def maybe_checkpoint_light(spark, table_path: str) -> None:
    """:func:`maybe_checkpoint` for tables whose file lists stay OFF
    the driver (the distributed DML planner path): the ``.crc`` state
    totals come from ONE aggregate over the Spark-side log replay
    (``log_replay_spark``), the checkpoint — when the interval hits —
    from the Spark-job writers, and log cleanup runs as usual. Driver
    memory stays ∝ metadata, never ∝ file count."""
    from pyspark.sql import functions as F

    from deltalake_datafusion_spark.delta.snapshot import log_replay_spark

    snapshot = load_snapshot(table_path, spark=spark, with_files=False)
    row = (
        # pinned to the snapshot's version: a commit landing between
        # the two reads must not leak NEWER totals into THIS version's
        # .crc (verify would raise on the mismatch later)
        log_replay_spark(spark, table_path, snapshot.version)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("size"), F.lit(0)).alias("bytes"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("deletionVector.storageType").isNotNull(),
                        F.col("deletionVector.cardinality"),
                    )
                ),
                F.lit(0),
            ).alias("dv_records"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("deletionVector.storageType").isNotNull(), 1
                    )
                ),
                F.lit(0),
            ).alias("dv_count"),
        )
        .collect()[0]
    )
    write_version_checksum(
        snapshot,
        spark,
        totals={
            "numFiles": row["n"],
            "tableSizeBytes": row["bytes"],
            "numDeletedRecordsOpt": row["dv_records"],
            "numDeletionVectorsOpt": row["dv_count"],
        },
    )
    _after_checksum(spark, snapshot, distributed=True)


def maybe_checkpoint(spark, snapshot: Snapshot) -> None:
    write_version_checksum(snapshot, spark)
    _after_checksum(
        spark, snapshot,
        distributed=len(snapshot.files) > DISTRIBUTED_CHECKPOINT_THRESHOLD,
    )


def _after_checksum(spark, snapshot: Snapshot, distributed: bool) -> None:
    """The post-commit tail both checkpoint hooks share: on every
    ``delta.checkpointInterval``-th version write a v2 checkpoint
    (``delta.checkpointPolicy=v2``), else a classic one — the Spark-job
    writer when ``distributed``, the driver writer otherwise — and
    clean up expired logs; then the auto log compaction."""
    interval = int(snapshot.get_property("delta.checkpointInterval", "10") or "10")
    if interval > 0 and snapshot.version > 0 and (snapshot.version % interval == 0):
        if snapshot.get_property("delta.checkpointPolicy", "").lower() == "v2":
            write_checkpoint_v2(spark, snapshot.table_path, snapshot.version)
        elif distributed:
            write_checkpoint_spark(spark, snapshot.table_path, snapshot.version)
        else:
            write_checkpoint(spark, snapshot)
        if (
            snapshot.get_property(
                "delta.enableExpiredLogCleanup", "true"
            ).lower()
            != "false"
        ):
            from deltalake_datafusion_spark.delta.log_cleanup import (
                cleanup_expired_logs,
            )

            cleanup_expired_logs(spark, snapshot.table_path)
    maybe_compact_log(spark, snapshot)


def maybe_compact_log(spark, snapshot: Snapshot) -> None:
    """Auto minor log compaction — the post-commit hook shape of
    delta-spark's log compaction: with
    ``lakehouse.delta.log_compaction.interval = n`` (engine conf,
    n ≥ 2; unset/0 = off), every n-th commit reconciles the last n
    commit JSONs into ``{v-n+1}.{v}.compacted.json``, so cold loads
    between checkpoints open ~interval-fold fewer log files.
    Best-effort like the checkpoint hook: compaction is purely
    additive and idempotent, so a failure (a log-cleaned commit in
    the range, an I/O or JVM filesystem error) leaves a correct log;
    it is logged, not raised. Losing the create-if-absent race to a
    concurrent writer is success inside ``compact_log``."""
    try:
        n = int(
            spark.conf.get("lakehouse.delta.log_compaction.interval", "0")
            or "0"
        )
    except ValueError:
        return
    v = snapshot.version
    if n < 2 or v < n - 1 or (v + 1) % n != 0:
        return
    from py4j.protocol import Py4JError

    from deltalake_datafusion_spark.delta.logcompact import compact_log

    try:
        compact_log(spark, snapshot.table_path, start=v - n + 1, end=v)
    except (DeltaNotFoundError, OSError, ValueError, Py4JError) as e:
        _log.warning(
            "log compaction of %s commits %d..%d skipped: %s",
            snapshot.table_path, v - n + 1, v, e,
        )
