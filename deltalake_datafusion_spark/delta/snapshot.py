"""Snapshot resolution: Delta log replay → (schema, protocol, live files).

Spark-first analog of the reference's scan-metadata planner and
log-replay provider (reference:
``crates/datafusion/src/table_provider/delta/snapshot.rs:92-204``,
``crates/datafusion/src/table_provider/delta_log.rs:139-421``). Where
the reference inverts control through delta-kernel callbacks (storage
list → JSON/parquet read → expression eval), here the "kernel" is
plain Python on the driver:

1. list ``_delta_log/`` (ordered), find ``_last_checkpoint``;
2. read checkpoint parquet (if any) + JSON commits after it;
3. replay: latest metaData/protocol win; (path, dvId)-keyed adds,
   removes tombstone earlier adds.

Scale: log replay is metadata-scale (KBs..GBs of JSON/parquet, not
table data). Driver-side replay handles logs up to ~1e6 actions
comfortably; :func:`log_replay_spark` provides the same replay as a
Spark job (window dedup over the actions DataFrame) for tables whose
logs outgrow the driver — the cutover mirrors the reference running
snapshot loads on blocking threads (``session.rs:294-299``).
"""

from __future__ import annotations

import json
import os
import re
import urllib.parse
from dataclasses import dataclass, field

from pyspark.sql.types import StructType

from deltalake_datafusion_spark.delta.fs import fs_for, strip_scheme

_COMMIT_RE = re.compile(r"^(\d{20})\.json$")
_CHECKPOINT_RE = re.compile(
    r"^(\d{20})\.checkpoint(\.\d+\.\d+|\.[0-9a-fA-F-]{36})?\.parquet$"
)
_V2_CP_RE = re.compile(
    r"\.checkpoint\.[0-9a-fA-F-]{36}\.parquet$"
)


class DeltaProtocolError(Exception):
    pass


class DeltaNotFoundError(Exception):
    pass


@dataclass
class DvDescriptor:
    """Deletion-vector descriptor from an add/remove action."""

    storage_type: str  # 'u' (relative w/ random prefix), 'i' (inline), 'p' (absolute)
    path_or_inline: str
    offset: int | None
    size_in_bytes: int
    cardinality: int

    @property
    def unique_id(self) -> str:
        return f"{self.storage_type}{self.path_or_inline}@{self.offset or 0}"


@dataclass
class AddFile:
    """One live data file (reference scan-file context:
    ``crates/datafusion/src/table_provider/delta/table_format.rs:12-26``)."""

    path: str  # relative, URL-decoded
    size: int
    modification_time: int
    partition_values: dict[str, str] = field(default_factory=dict)
    stats: str | None = None  # raw JSON
    dv: DvDescriptor | None = None
    base_row_id: int | None = None  # rowTracking feature
    default_row_commit_version: int | None = None
    tags: dict[str, str] | None = None  # e.g. liquid-clustering marker
    # What the log-replay table shows (set by the replay): the path
    # as the log spells it (URL-encoded) and the version of the log
    # file that supplied this add — the checkpoint version, the commit
    # version or a compacted file's range end.
    log_path: str | None = None
    log_version: int | None = None

    @property
    def dv_id(self) -> str:
        return self.dv.unique_id if self.dv else ""


@dataclass
class Metadata:
    id: str
    schema_string: str
    partition_columns: list[str]
    configuration: dict[str, str]
    name: str | None = None
    created_time: int | None = None
    description: str | None = None

    @property
    def schema(self) -> StructType:
        return StructType.fromJson(json.loads(self.schema_string))


@dataclass
class Protocol:
    min_reader_version: int = 1
    min_writer_version: int = 2
    reader_features: list[str] = field(default_factory=list)
    writer_features: list[str] = field(default_factory=list)


@dataclass
class Snapshot:
    """Immutable view of a Delta table at a version (reference
    ``TableSnapshot`` trait:
    ``crates/datafusion/src/table_provider/delta/table_format.rs:59-82``)."""

    table_path: str
    version: int
    metadata: Metadata
    protocol: Protocol
    files: list[AddFile]
    tombstones: list[dict] = field(default_factory=list)
    app_transactions: dict[str, int] = field(default_factory=dict)
    domain_metadata: dict[str, str] = field(default_factory=dict)

    @property
    def schema(self) -> StructType:
        return self.metadata.schema

    @property
    def partition_columns(self) -> list[str]:
        return self.metadata.partition_columns

    def file_paths(self) -> list[str]:
        return [os.path.join(self.table_path, f.path) for f in self.files]

    def get_property(self, key: str, default: str | None = None) -> str | None:
        return self.metadata.configuration.get(key, default)

    @property
    def column_mapping_mode(self) -> str:
        return self.get_property("delta.columnMapping.mode", "none") or "none"


def _parse_dv(d: dict | None) -> DvDescriptor | None:
    if not d or not d.get("storageType"):
        return None
    return DvDescriptor(
        storage_type=d["storageType"],
        path_or_inline=d["pathOrInlineDv"],
        offset=d.get("offset"),
        size_in_bytes=d.get("sizeInBytes", 0),
        cardinality=d.get("cardinality", -1),
    )


def _log_dir(table_path: str) -> str:
    return os.path.join(strip_scheme(table_path), "_delta_log")


def list_log_files(
    table_path: str, spark=None
) -> tuple[list[tuple[int, str]], list[tuple[int, str]]]:
    """Ordered (version, path) lists of commit JSONs and checkpoints."""
    commits, checkpoints, _ = list_log_files_all(table_path, spark)
    return commits, checkpoints


def list_log_files_all(
    table_path: str, spark=None
) -> tuple[
    list[tuple[int, str]],
    list[tuple[int, str]],
    list[tuple[int, int, str]],
]:
    """One directory listing → (commits, checkpoints, compacted) where
    compacted entries are ``(start, end, path)``. Object-store LIST is
    the expensive metadata op — every cold snapshot load pays exactly
    one."""
    from deltalake_datafusion_spark.delta.logcompact import COMPACTED_RE

    fs = fs_for(table_path, spark)
    commits, checkpoints, compacted = [], [], []
    for st in fs.list(_log_dir(table_path)):
        name = os.path.basename(st.path)
        m = _COMMIT_RE.match(name)
        if m:
            commits.append((int(m.group(1)), st.path))
            continue
        m = _CHECKPOINT_RE.match(name)
        if m:
            checkpoints.append((int(m.group(1)), st.path))
            continue
        m = COMPACTED_RE.match(name)
        if m:
            compacted.append((int(m.group(1)), int(m.group(2)), st.path))
    return sorted(commits), sorted(checkpoints), sorted(compacted)


def read_last_checkpoint(table_path: str, spark=None) -> dict | None:
    fs = fs_for(table_path, spark)
    p = os.path.join(_log_dir(table_path), "_last_checkpoint")
    if not fs.exists(p):
        return None
    return json.loads(fs.read_bytes(p).decode("utf-8"))


def _check_protocol(protocol: Protocol) -> None:
    from deltalake_datafusion_spark.delta.log_schema import (
        MAX_READER_VERSION,
        SUPPORTED_READER_FEATURES,
    )

    if protocol.min_reader_version > MAX_READER_VERSION:
        raise DeltaProtocolError(
            f"table requires reader version {protocol.min_reader_version}, "
            f"this engine supports ≤{MAX_READER_VERSION}"
        )
    if protocol.min_reader_version >= 3:
        unsupported = set(protocol.reader_features or []) - SUPPORTED_READER_FEATURES
        if unsupported:
            raise DeltaProtocolError(f"unsupported reader features: {sorted(unsupported)}")


def _read_checkpoint_actions(
    checkpoint_paths: list[str], with_files: bool = True
) -> list[dict]:
    """Checkpoint parquet → action dicts (driver-side, pyarrow).

    Metadata-scale I/O, same role as the reference's kernel parquet
    handler reading checkpoints
    (``crates/datafusion/src/engine/file_format.rs:252-268``).
    ``with_files=False`` projects away the add/remove columns so a
    million-file checkpoint costs the driver only its metadata rows.
    """
    import pyarrow.parquet as papq

    actions: list[dict] = []
    sidecars: list[str] = []
    for p in checkpoint_paths:
        if with_files:
            table = papq.read_table(p)
        else:
            avail = set(papq.read_schema(p).names)
            cols = [
                c for c in ("metaData", "protocol", "txn", "domainMetadata")
                if c in avail
            ]
            table = papq.read_table(p, columns=cols)
        for row in _checkpoint_rows(table):
            if "sidecar" in row:
                # V2 checkpoint: file actions live in _sidecars/
                sidecars.append(row["sidecar"]["path"])
                continue
            if row and set(row) != {"checkpointMetadata"}:
                actions.append(row)
    if sidecars and with_files:
        base = os.path.join(os.path.dirname(checkpoint_paths[0]), "_sidecars")
        for name in sidecars:
            table = papq.read_table(os.path.join(base, name))
            actions.extend(row for row in _checkpoint_rows(table) if row)
    return actions


def _checkpoint_rows(table) -> list[dict]:
    """Checkpoint (or sidecar) rows as action dicts without their null
    columns. A typed ``add.stats_parsed`` struct (DAT
    ``stats_as_struct``, ``writeStatsAsStruct``) is folded into the
    JSON ``stats`` string when the add has none, written as
    :func:`_conform_to_log_schema` writes it on the Spark side — so
    the skipping evaluator sees one format and both replays agree."""
    import pyarrow as pa

    rows = table.to_pylist()
    names = table.schema.names
    add_t = table.schema.field("add").type if "add" in names else None
    if (
        isinstance(add_t, pa.StructType)
        and add_t.get_field_index("stats_parsed") >= 0
    ):
        st_t = add_t.field("stats_parsed").type
        for row in rows:
            ad = row.get("add")
            if ad and ad.get("stats") is None and ad.get("stats_parsed"):
                ad["stats"] = _stats_json(ad["stats_parsed"], st_t)
    return [{k: v for k, v in row.items() if v is not None} for row in rows]


# to_json options of the Spark-side stats_parsed fold: timestamps keep
# their microseconds (Spark's default millisecond format would round a
# max DOWN, below the true bound) and are written in UTC whatever the
# session time zone.
_STATS_JSON_OPTIONS = {
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    "timeZone": "UTC",
}


def _stats_json(value, typ) -> str:
    """``value`` (a pyarrow ``to_pylist`` value of Arrow type ``typ``)
    as the JSON text Spark's ``to_json`` writes with
    :data:`_STATS_JSON_OPTIONS`: compact, null fields left out, floats
    in Java's ``toString`` form, timestamps with microseconds."""
    import datetime as dt

    import pyarrow.types as pat

    if pat.is_struct(typ):
        return "{" + ",".join(
            json.dumps(f.name, ensure_ascii=False) + ":"
            + _stats_json(value[f.name], f.type)
            for f in typ
            if value.get(f.name) is not None
        ) + "}"
    if pat.is_boolean(typ):
        return "true" if value else "false"
    if pat.is_floating(typ):
        return _java_float_str(value, single=pat.is_float32(typ))
    if pat.is_integer(typ) or pat.is_decimal(typ):
        return str(value)
    if pat.is_date(typ):
        return f'"{value.isoformat()}"'
    if pat.is_timestamp(typ):
        zone = ""
        if typ.tz is not None:
            value, zone = value.astimezone(dt.timezone.utc), "Z"
        return f'"{value:%Y-%m-%dT%H:%M:%S}.{value.microsecond:06d}{zone}"'
    return json.dumps(value, ensure_ascii=False, default=str)


def _java_float_str(x: float, single: bool = False) -> str:
    """Java's ``Double.toString`` / ``Float.toString`` (what Jackson
    writes for Spark ``to_json``): shortest round-trip digits, plain
    notation for 1e-3 ≤ |x| < 1e7, else ``d.dddE±n``; non-finite
    values quoted."""
    import decimal
    import math

    if math.isnan(x):
        return '"NaN"'
    if math.isinf(x):
        return '"Infinity"' if x > 0 else '"-Infinity"'
    if x == 0:
        return "-0.0" if math.copysign(1.0, x) < 0 else "0.0"
    if single:
        import numpy as np

        text = str(np.float32(x))
    else:
        text = repr(x)
    sign, digits, exp = decimal.Decimal(text).as_tuple()
    digits = list(digits)
    while len(digits) > 1 and digits[-1] == 0:
        digits.pop()
        exp += 1
    mag = exp + len(digits) - 1  # power of ten of the first digit
    ds = "".join(map(str, digits))
    if -3 <= mag < 7:
        if mag >= 0:
            ds = ds.ljust(mag + 1, "0")
            body = ds[: mag + 1] + "." + (ds[mag + 1:] or "0")
        else:
            body = "0." + "0" * (-mag - 1) + ds
    else:
        body = ds[0] + "." + (ds[1:] or "0") + f"E{mag}"
    return ("-" if sign else "") + body


_META_ACTION_MARKS = (
    '"metaData"', '"protocol"', '"txn"', '"domainMetadata"',
)


def _iter_commit_actions(path: str, fs, with_files: bool = True) -> list[dict]:
    raw = fs.read_bytes(path).decode("utf-8")
    if with_files:
        return [
            json.loads(line) for line in raw.splitlines() if line.strip()
        ]
    # metadata-only replay: skip the json parse for add/remove/cdc
    # lines (the overwhelming bulk of a large log) via a substring
    # prefilter — a line is parsed only when it can possibly carry
    # metaData/protocol/txn/domainMetadata. False positives (e.g. a
    # partition column literally named txn) just cost one parse;
    # false negatives are impossible (a real action line contains its
    # unescaped key).
    return [
        json.loads(line)
        for line in raw.splitlines()
        if line.strip() and any(m in line for m in _META_ACTION_MARKS)
    ]


def _commit_timestamp(path: str, fs) -> int | None:
    """A commit's timestamp from its commitInfo header, reading only
    the file head (the writer emits commitInfo first; a 10k-add commit
    costs one 64 KiB ranged read, not a full-file parse). Falls back
    to a full parse when commitInfo isn't in the head chunk."""
    head = fs.read_bytes(path, 0, 65536)
    for line in head.split(b"\n"):
        if not line.strip():
            continue
        try:
            a = json.loads(line)
        except ValueError:
            break  # truncated mid-line — fall through to full parse
        if a.get("commitInfo"):
            ci = a["commitInfo"]
            # in-commit timestamps (when the table enables them) are
            # authoritative over the wall clock the writer saw
            return ci.get("inCommitTimestamp", ci.get("timestamp"))
    if len(head) < 65536:  # whole file seen, no commitInfo
        return None
    for a in _iter_commit_actions(path, fs):
        if a.get("commitInfo"):
            ci = a["commitInfo"]
            return ci.get("inCommitTimestamp", ci.get("timestamp"))
    return None


def resolve_version_at_timestamp(table_path: str, ts_ms: int, spark=None) -> int:
    """Timestamp time travel: the latest version whose commit
    timestamp is ≤ ``ts_ms`` (Delta ``timestampAsOf`` semantics).

    Binary search over the commit list — O(log n) head-ranged reads
    instead of one per commit, so a 1e5-commit table resolves in ~17
    reads. Sound because commit timestamps are monotonic: this writer
    always emits ``inCommitTimestamp`` strictly greater than the
    previous commit's (``writer.py::commit``), and the Delta spec's
    timestamp-as-of contract assumes monotonically adjusted timestamps
    (delta-spark applies the same adjustment when reconstructing
    history). A short forward walk after the probe absorbs any local
    non-monotonicity in foreign-written logs."""
    table_path = strip_scheme(table_path)
    fs = fs_for(table_path, spark)
    commits, _ = list_log_files(table_path, spark)
    if not commits:
        raise DeltaNotFoundError(f"no Delta log at {table_path}")
    mtimes = None  # lazy: only listed if some commit lacks commitInfo

    def ts_at(i: int) -> int | None:
        nonlocal mtimes
        v, p = commits[i]
        info_ts = _commit_timestamp(p, fs)
        if info_ts is None:  # fall back to file mtime (spec allows)
            if mtimes is None:
                mtimes = {
                    s.path: s.mtime_ms
                    for s in fs.list(os.path.dirname(p))
                }
            info_ts = mtimes.get(p)
        return info_ts

    lo, hi = 0, len(commits) - 1
    best = None
    while lo <= hi:
        mid = (lo + hi) // 2
        t = ts_at(mid)
        if t is not None and t <= ts_ms:
            best = mid
            lo = mid + 1
        else:
            hi = mid - 1
    if best is None:
        raise DeltaNotFoundError(
            f"no commit at or before timestamp {ts_ms} at {table_path}"
        )
    # absorb local timestamp dips just past the probe (foreign logs)
    while best + 1 < len(commits):
        t = ts_at(best + 1)
        if t is not None and t <= ts_ms:
            best += 1
        else:
            break
    return commits[best][0]


class _ReplayState:
    """Mutable log-replay accumulator (shared by full and incremental
    replay)."""

    __slots__ = ("metadata", "protocol", "adds", "tombstones",
                 "app_transactions", "domain_metadata")

    def __init__(self, metadata=None, protocol=None, adds=None,
                 tombstones=None, app_transactions=None,
                 domain_metadata=None):
        self.metadata: Metadata | None = metadata
        self.protocol: Protocol = protocol or Protocol()
        self.adds: dict[str, AddFile] = adds or {}
        self.tombstones: list[dict] = tombstones or []
        self.app_transactions: dict[str, int] = app_transactions or {}
        self.domain_metadata: dict[str, str] = domain_metadata or {}


def _apply_actions(
    actions, state: _ReplayState, with_files: bool,
    version: int | None = None,
) -> None:
    """Replay ``actions`` — all read from one log file, whose version
    (checkpoint, commit or compacted range end) is ``version`` — into
    ``state``."""
    for a in actions:
        if "metaData" in a and a["metaData"]:
            md = a["metaData"]
            state.metadata = Metadata(
                id=md.get("id", ""),
                schema_string=md.get("schemaString", "{}"),
                partition_columns=list(md.get("partitionColumns") or []),
                configuration=dict(md.get("configuration") or {}),
                name=md.get("name"),
                created_time=md.get("createdTime"),
                description=md.get("description"),
            )
        elif "protocol" in a and a["protocol"]:
            pr = a["protocol"]
            state.protocol = Protocol(
                min_reader_version=pr.get("minReaderVersion", 1),
                min_writer_version=pr.get("minWriterVersion", 2),
                reader_features=list(pr.get("readerFeatures") or []),
                writer_features=list(pr.get("writerFeatures") or []),
            )
        elif "add" in a and a["add"]:
            if not with_files:
                continue
            ad = a["add"]
            path = urllib.parse.unquote(ad["path"])
            state.adds[path] = AddFile(
                path=path,
                size=ad.get("size", 0),
                modification_time=ad.get("modificationTime", 0),
                partition_values=dict(ad.get("partitionValues") or {}),
                stats=ad.get("stats"),
                dv=_parse_dv(ad.get("deletionVector")),
                base_row_id=ad.get("baseRowId"),
                default_row_commit_version=ad.get("defaultRowCommitVersion"),
                tags=dict(ad["tags"]) if ad.get("tags") is not None else None,
                log_path=ad["path"],
                log_version=version,
            )
        elif "remove" in a and a["remove"]:
            if not with_files:
                continue
            rm = a["remove"]
            path = urllib.parse.unquote(rm["path"])
            state.adds.pop(path, None)
            state.tombstones.append(rm)
        elif "txn" in a and a["txn"]:
            tx = a["txn"]
            app = tx.get("appId")
            if app is not None:
                # last-write-wins per appId (delta-spark / delta-rs
                # replay semantics; replay is forward so the latest
                # commit's txn overwrites) — a later LOWER version is
                # honored, matching what a foreign reader would see
                state.app_transactions[app] = tx.get("version", -1)
        elif "domainMetadata" in a and a["domainMetadata"]:
            dm = a["domainMetadata"]
            if dm.get("removed"):
                state.domain_metadata.pop(dm.get("domain"), None)
            else:
                state.domain_metadata[dm["domain"]] = dm.get(
                    "configuration", ""
                )


def _finish_snapshot(table_path: str, version: int, state: _ReplayState) -> Snapshot:
    if state.metadata is None:
        raise DeltaProtocolError(f"no metaData action found in log at {table_path}")
    _check_protocol(state.protocol)
    return Snapshot(
        table_path=table_path,
        version=version,
        metadata=state.metadata,
        protocol=state.protocol,
        files=sorted(state.adds.values(), key=lambda f: f.path),
        tombstones=state.tombstones,
        app_transactions=state.app_transactions,
        domain_metadata=state.domain_metadata,
    )


def load_snapshot(
    table_path: str, version: int | None = None, spark=None,
    with_files: bool = True, base: Snapshot | None = None,
) -> Snapshot:
    """Resolve a snapshot at ``version`` (time travel) or latest.

    ``with_files=False`` replays only metadata/protocol/txn state
    (``files`` comes back empty) — the driver-light mode for callers
    that derive the file set distributively (e.g. the multi-part
    checkpoint writer on 1e6-file tables).

    ``base`` enables **incremental refresh** (reference
    ``Snapshot::try_new_from``, ``schema_provider.rs:94-109``): only
    commits newer than ``base.version`` are read and replayed on top
    of the base state. With zero new commits the base object itself
    is returned — the refresh cost is one log-tail listing, no log
    file opens, regardless of table history length.

    Reference: ``read_snapshot_delta(url, version)``
    (``crates/datafusion/src/session.rs:169-191``).
    """
    table_path = strip_scheme(table_path)
    fs = fs_for(table_path, spark)
    commits, checkpoints, compacted = list_log_files_all(table_path, spark)
    if not commits and not checkpoints:
        raise DeltaNotFoundError(f"no Delta log at {table_path}")

    # Incremental path preconditions: the base must belong to this
    # table, the requested version must be at or past it, and — the
    # subtle one — every version in (base.version, tip] must still be
    # present as a commit JSON. A checkpoint written after the base
    # whose superseded commits were log-cleaned leaves a hole the tail
    # replay cannot see; any gap falls back to a full replay.
    tip = max(
        max((v for v, _ in commits), default=-1),
        max((v for v, _ in checkpoints), default=-1),
    )
    if (
        base is not None
        and with_files
        and strip_scheme(base.table_path) == table_path
        and (version is None or version >= base.version)
        and tip >= base.version
        and all(
            v in {c for c, _ in commits}
            for v in range(
                base.version + 1,
                (tip if version is None else min(tip, version)) + 1,
            )
        )
    ):
        tail = [
            (v, p)
            for v, p in commits
            if v > base.version and (version is None or v <= version)
        ]
        if version is not None and version != base.version:
            max_seen = max([v for v, _ in tail] + [base.version])
            available = {v for v, _ in commits} | {base.version}
            if version not in available and max_seen < version:
                raise DeltaNotFoundError(
                    f"version {version} not available (latest {max_seen})"
                )
        if not tail:
            return base
        state = _ReplayState(
            metadata=base.metadata,
            protocol=base.protocol,
            adds={f.path: f for f in base.files},
            tombstones=list(base.tombstones),
            app_transactions=dict(base.app_transactions),
            domain_metadata=dict(base.domain_metadata),
        )
        actual_version = base.version
        for v, p in tail:
            _apply_actions(
                _iter_commit_actions(p, fs, with_files), state, with_files, v
            )
            actual_version = v
        return _finish_snapshot(table_path, actual_version, state)

    # Choose a checkpoint ≤ requested version, then replay commits after it.
    usable_cp: list[tuple[int, str]] = [
        (v, p) for v, p in checkpoints if version is None or v <= version
    ]
    cp_version = -1
    cp_paths: list[str] = []
    if usable_cp:
        cp_version = max(v for v, _ in usable_cp)
        cp_paths = [p for v, p in usable_cp if v == cp_version]
        v2 = [p for p in cp_paths if _V2_CP_RE.search(os.path.basename(p))]
        if v2:
            # each UUID-named V2 checkpoint is complete on its own —
            # never union several of the same version
            cp_paths = [sorted(v2)[0]]

    replay_commits = [
        (v, p)
        for v, p in commits
        if v > cp_version and (version is None or v <= version)
    ]
    if version is not None:
        max_seen = max(
            [v for v, _ in replay_commits] + ([cp_version] if cp_version >= 0 else [])
        )
        available = {v for v, _ in commits} | {cp_version}
        if version not in available and max_seen < version:
            raise DeltaNotFoundError(
                f"version {version} not available (latest {max_seen})"
            )

    # Keyed by path (inside _ReplayState.adds): Delta guarantees at most
    # one live add per path, and a re-add (e.g. with a new DV) replaces
    # the previous entry — so replay is O(1) per action regardless of
    # log length.
    state = _ReplayState()
    _apply_actions(
        _read_checkpoint_actions(cp_paths, with_files), state, with_files,
        cp_version,
    )
    actual_version = cp_version
    for _kind, _s, seg_end, p in _plan_commit_replay(
        replay_commits, compacted, cp_version, version
    ):
        _apply_actions(
            _iter_commit_actions(p, fs, with_files), state, with_files,
            seg_end,
        )
        actual_version = seg_end
    return _finish_snapshot(table_path, actual_version, state)


def _plan_commit_replay(
    replay_commits: list[tuple[int, str]],
    compacted: list[tuple[int, int, str]],
    cp_version: int,
    version: int | None,
) -> list[tuple[str, int, int, str]]:
    """Substitute ``{s}.{e}.compacted.json`` files for runs of
    individual commits (PROTOCOL.md log-compaction reading rule: a
    compacted file may stand in for commits ``s..e`` only when the
    replay window needs that ENTIRE range — it must start past the
    checkpoint and end at or before the requested version).

    Returns ``(kind, start, end, path)`` segments in replay order;
    each segment's file is line-delimited action JSON either way.
    Greedy widest-match keeps the file-open count minimal; any
    version not covered by a usable compacted range replays its own
    commit JSON unchanged. ``compacted`` comes from the SAME directory
    listing the caller already has — no extra LIST round-trip.
    """
    if not replay_commits:
        return []
    if not compacted:
        return [("commit", v, v, p) for v, p in replay_commits]
    versions = [v for v, _ in replay_commits]
    present = set(versions)
    hi = versions[-1] if version is None else min(versions[-1], version)
    best_by_start: dict[int, tuple[int, str]] = {}
    for s, e, p in compacted:
        if s > cp_version and e <= hi and (
            s not in best_by_start or e > best_by_start[s][0]
        ):
            best_by_start[s] = (e, p)
    by_version = dict(replay_commits)
    plan: list[tuple[str, int, int, str]] = []
    i = 0
    while i < len(versions):
        v = versions[i]
        sub = best_by_start.get(v)
        if sub is not None:
            e, p = sub
            if all(x in present for x in range(v, e + 1)):
                plan.append(("compacted", v, e, p))
                while i < len(versions) and versions[i] <= e:
                    i += 1
                continue
        plan.append(("commit", v, v, by_version[v]))
        i += 1
    return plan


# Process-wide latest-snapshot cache, gated on the
# ``lakehouse.delta.enable_caching`` conf (reference config.rs:5-57).
# Safe by construction: every cached access still lists the log tail
# and incrementally replays any new commits, so a hit can never serve
# a stale version — the conf only controls whether the replayed state
# is retained between calls.
_SNAPSHOT_CACHE: dict[str, Snapshot] = {}


def clear_snapshot_cache() -> None:
    _SNAPSHOT_CACHE.clear()


def load_snapshot_cached(
    table_path: str, version: int | None = None, spark=None,
) -> Snapshot:
    """:func:`load_snapshot` through the conf-gated snapshot cache.

    With ``lakehouse.delta.enable_caching=true`` the latest snapshot
    per table path is kept and refreshed incrementally (tail replay
    via ``base=``); a pinned ``version`` hits the cache only when it
    matches exactly. With the conf off this is a plain
    ``load_snapshot`` call.
    """
    enabled = False
    if spark is not None:
        from deltalake_datafusion_spark.session import CONF_ENABLE_CACHING

        try:
            raw = spark.conf.get(CONF_ENABLE_CACHING, "false")
            enabled = (raw or "").lower() == "true"
        except Exception:
            enabled = False
    if not enabled:
        return load_snapshot(table_path, version=version, spark=spark)
    key = strip_scheme(table_path)
    base = _SNAPSHOT_CACHE.get(key)
    if version is not None:
        if base is not None and base.version == version:
            return base
        return load_snapshot(table_path, version=version, spark=spark)
    snap = load_snapshot(table_path, spark=spark, base=base)
    _SNAPSHOT_CACHE[key] = snap
    return snap


# ------------------------------------------------------------------ #
# Spark-side replay: the same reconciliation as a DataFrame job, for  #
# logs too large for the driver and for the log_replay metadata table #
# (reference DeltaLogReplayProvider, delta_log.rs:139-421).           #
# ------------------------------------------------------------------ #


def history(spark, table_path: str):
    """Commit history as a DataFrame (version, timestamp, operation,
    engineInfo) — newest first. The DESCRIBE HISTORY surface, derived
    from commitInfo actions in the log."""
    from pyspark.sql import functions as F

    df = actions_df(spark, table_path)
    return (
        df.filter(F.col("commitInfo").isNotNull())
        .select(
            "version",
            F.timestamp_millis(F.col("commitInfo.timestamp")).alias("timestamp"),
            F.col("commitInfo.operation").alias("operation"),
            F.col("commitInfo.engineInfo").alias("engineInfo"),
        )
        .orderBy(F.desc("version"))
    )


def _conform_to_log_schema(df):
    """Project a checkpoint DataFrame (inferred parquet schema) onto
    LOG_SCHEMA exactly: foreign checkpoints may carry extra nested
    add-fields (e.g. the typed ``stats_parsed`` struct delta-spark
    writes under ``writeStatsAsStruct``) or miss optional ones — both
    would break the union with JSON-commit actions. ``stats_parsed``
    is folded into the JSON ``stats`` string (coalesce: explicit JSON
    wins) so the distributed planner prunes stats-as-struct tables
    exactly like the driver replay does. Null action rows stay null
    (replay dispatches on top-level non-nullness)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from deltalake_datafusion_spark.delta.log_schema import LOG_SCHEMA

    def conform(src, actual, target):
        """Column ``src`` of type ``actual`` reshaped to ``target`` —
        recursive over structs (missing fields → null, extra fields
        dropped), plain cast elsewhere; null structs stay null."""
        if actual == target:
            return src
        if isinstance(target, StructType) and isinstance(actual, StructType):
            actual_sub = {sf.name: sf.dataType for sf in actual.fields}
            sub = [
                (
                    conform(
                        src.getField(sf.name), actual_sub[sf.name],
                        sf.dataType,
                    )
                    if sf.name in actual_sub
                    else F.lit(None).cast(sf.dataType)
                ).alias(sf.name)
                for sf in target.fields
            ]
            return (
                F.when(src.isNotNull(), F.struct(*sub))
                .otherwise(F.lit(None).cast(target))
            )
        return src.cast(target)

    have = {f.name: f.dataType for f in df.schema.fields}
    cols = []
    for f in LOG_SCHEMA.fields:
        if f.name not in have:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
            continue
        actual = have[f.name]
        if (
            f.name == "add"
            and isinstance(actual, StructType)
            and "stats_parsed" in {sf.name for sf in actual.fields}
        ):
            # fold the typed struct into the JSON string the replay /
            # pruning machinery consumes (explicit JSON wins)
            df_add = F.col("add")
            conformed = conform(df_add, actual, f.dataType)
            folded = F.when(
                df_add.isNotNull(),
                conformed.withField(
                    "stats",
                    F.coalesce(
                        df_add.getField("stats")
                        if "stats" in {sf.name for sf in actual.fields}
                        else F.lit(None).cast("string"),
                        F.to_json(
                            df_add.getField("stats_parsed"),
                            _STATS_JSON_OPTIONS,
                        ),
                    ),
                ),
            ).otherwise(F.lit(None).cast(f.dataType))
            cols.append(folded.alias(f.name))
            continue
        cols.append(conform(F.col(f.name), actual, f.dataType).alias(f.name))
    return df.select(*cols)


def actions_df(
    spark, table_path: str, version: int | None = None,
    use_compacted: bool = False,
):
    """All log actions as a DataFrame with the kernel log schema
    (the ``delta_log`` metadata table, reference delta_log.rs:42-136).

    ``use_compacted`` substitutes ``{s}.{e}.compacted.json`` files for
    fully-covered post-checkpoint commit runs (rows carry version =
    the range END — valid because reconciliation already resolved
    intra-range conflicts, so cross-file latest-version-wins dedup is
    unaffected). Only for replay consumers (``log_replay_df``): the
    ``delta_log`` metadata table must keep showing the real per-commit
    action stream, so it stays off by default."""
    from pyspark.sql import functions as F
    from deltalake_datafusion_spark.delta.log_schema import LOG_SCHEMA

    table_path = strip_scheme(table_path)
    commits, checkpoints, compacted = list_log_files_all(table_path, spark)
    if version is not None:
        tip = max((v for v, _ in commits + checkpoints), default=-1)
        if version > tip:
            raise DeltaNotFoundError(
                f"version {version} not available (latest {tip})"
            )
        commits = [(v, p) for v, p in commits if v <= version]
        checkpoints = [(v, p) for v, p in checkpoints if v <= version]

    cp_version_pre = max((v for v, _ in checkpoints), default=-1)
    dfs = []
    if commits:
        if use_compacted:
            segs = _plan_commit_replay(
                [(v, p) for v, p in commits if v > cp_version_pre],
                compacted, cp_version_pre, version,
            )
            paths = [p for _k, _s, _e, p in segs] + [
                p for v, p in commits if v <= cp_version_pre
            ]
        else:
            paths = [p for _, p in commits]
        df = (
            spark.read.schema(LOG_SCHEMA)
            .json(paths)
            .withColumn("_file", F.input_file_name())
        )
        df = df.withColumn(
            "version",
            F.coalesce(
                F.nullif(
                    F.regexp_extract(
                        F.col("_file"), r"(\d{20})\.json$", 1
                    ),
                    F.lit(""),
                ),
                F.regexp_extract(
                    F.col("_file"), r"\.(\d{20})\.compacted\.json$", 1
                ),
            ).cast("long"),
        ).drop("_file")
        dfs.append(df)
    cp_version = max((v for v, _ in checkpoints), default=-1)
    if cp_version >= 0:
        cp_paths = [p for v, p in checkpoints if v == cp_version]
        v2 = [p for p in cp_paths if _V2_CP_RE.search(os.path.basename(p))]
        sidecar_paths: list[str] = []
        if v2:
            # one complete UUID checkpoint; file actions in _sidecars/
            cp_paths = [sorted(v2)[0]]
            import pyarrow.parquet as papq

            if "sidecar" in set(papq.read_schema(cp_paths[0]).names):
                base = os.path.join(
                    os.path.dirname(cp_paths[0]), "_sidecars"
                )
                sidecar_paths = [
                    os.path.join(base, r["sidecar"]["path"])
                    for r in papq.read_table(
                        cp_paths[0], columns=["sidecar"]
                    ).to_pylist()
                    if r.get("sidecar")
                ]
        cp = _conform_to_log_schema(spark.read.parquet(*cp_paths))
        if v2:
            # drop sidecar / checkpointMetadata marker rows (all-null
            # after the LOG_SCHEMA projection)
            any_set = None
            for f in LOG_SCHEMA.fieldNames():
                c = F.col(f).isNotNull()
                any_set = c if any_set is None else (any_set | c)
            cp = cp.filter(any_set)
        if sidecar_paths:
            cp = cp.unionByName(
                _conform_to_log_schema(spark.read.parquet(*sidecar_paths))
            )
        cp = cp.withColumn("version", F.lit(cp_version).cast("long"))
        # Commits ≤ checkpoint version are superseded by the checkpoint.
        dfs = [d.filter(F.col("version") > cp_version) for d in dfs]
        dfs.insert(0, cp)
    if not dfs:
        raise DeltaNotFoundError(f"no Delta log at {table_path}")
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def live_adds_spark(spark, table_path: str, version: int | None = None):
    """The live add set as a Spark job, for logs too large for the
    driver: one row per surviving file with its ``add`` action and
    the ``version`` of the log file that supplied it. A window over
    each path's actions keeps the latest (an add beats a remove of the
    same version) and drops paths whose latest action is a remove."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = actions_df(spark, table_path, version, use_compacted=True)
    acts = df.select(
        "version",
        F.coalesce(F.col("add.path"), F.col("remove.path")).alias("path"),
        "add",
        F.col("add.path").isNotNull().alias("is_add"),
    ).filter(F.col("path").isNotNull())
    w = Window.partitionBy("path").orderBy(
        F.desc("version"), F.desc("is_add")
    )
    return (
        acts.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & F.col("is_add"))
        .select("add", "version")
    )


# Columns of the log-replay table, in order: the add action's fields
# plus the version of the log file that supplied the add.
_REPLAY_COLUMNS = (
    "path", "size", "modificationTime", "partitionValues", "stats",
    "deletionVector", "baseRowId", "defaultRowCommitVersion", "tags",
)


def log_replay_spark(spark, table_path: str, version: int | None = None):
    """The log-replay table computed by Spark (:func:`live_adds_spark`)
    — what :func:`log_replay_df` runs above the planner cutover, and
    what callers that exist for logs too large for the driver use
    directly."""
    from pyspark.sql import functions as F

    return live_adds_spark(spark, table_path, version).select(
        *[F.col(f"add.{c}").alias(c) for c in _REPLAY_COLUMNS],
        F.col("version").alias("commit_version"),
    )


def log_replay_df(spark, table_path: str, version: int | None = None):
    """Surviving add-files as a DataFrame, one row per live file: the
    ``log_replay`` metadata table (reference ``DeltaLogReplayProvider``,
    ``delta_log.rs:139-421``). Raises :class:`DeltaNotFoundError` for
    a version past the tip.

    The replay runs where ``read_delta`` plans (``scan.plan_on_spark``):
    at or below the cutover the driver replays the log
    (:func:`load_snapshot`) and the rows ship as one Arrow
    ``LocalRelation``, so no Spark job runs; above it
    :func:`log_replay_spark` replays on the executors. Both give the
    same rows. The driver side loads uncached: a cached snapshot
    refreshed across a later checkpoint or compacted file would name
    the commit files it replayed, not the file a full replay reads."""
    from deltalake_datafusion_spark.delta.log_schema import ADD_SCHEMA
    from deltalake_datafusion_spark.delta.scan import plan_on_spark
    from deltalake_datafusion_spark.delta.smalldf import local_rows_df
    from pyspark.sql.types import LongType, StructField

    if plan_on_spark(table_path, spark):
        return log_replay_spark(spark, table_path, version)
    snap = load_snapshot(table_path, version=version, spark=spark)
    schema = StructType(
        [ADD_SCHEMA[c] for c in _REPLAY_COLUMNS]
        + [StructField("commit_version", LongType())]
    )
    rows = [
        (
            f.log_path, f.size, f.modification_time, f.partition_values,
            f.stats,
            f.dv and {
                "storageType": f.dv.storage_type,
                "pathOrInlineDv": f.dv.path_or_inline,
                "offset": f.dv.offset,
                "sizeInBytes": f.dv.size_in_bytes,
                "cardinality": f.dv.cardinality,
            },
            f.base_row_id, f.default_row_commit_version, f.tags,
            f.log_version,
        )
        for f in snap.files
    ]
    return local_rows_df(spark, rows, schema)
