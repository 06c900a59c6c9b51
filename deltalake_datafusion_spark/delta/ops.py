"""Row-level table operations: DELETE (deletion-vector producing).

The reference reads DVs but has no DML; this completes the loop so the
DV read path (S4) is exercised end-to-end by our own tables. Plan:

1. prune candidate files with the predicate (inexact, stats-based);
2. scan candidates with ``_metadata.row_index``, apply the predicate
   on *logical* columns, collect matched (file → row indexes);
3. merge with any existing DV for the file, write one new DV file;
4. commit: ``remove`` old add + ``add`` same path with the new DV —
   full-file deletions become plain removes (so later scans skip the
   file entirely at planning time rather than filtering every row).

Deletion vectors are encoded *and written* executor-side: each file's
matched row indexes are roaring-compressed inside an ``applyInPandas``
group (one group per file), merged there with any pre-existing DV
(broadcast as decoded arrays), and the DV file is written by the
executor; only ``(path, dv descriptor, cardinality)`` rows reach the
driver — O(100 bytes) per touched file regardless of how many rows
the predicate matches. A delete touching 10⁹ rows across 10⁵ files
never ships a bitmap (or a raw int64 index) through the driver.
Remote object stores without executor-side handlers fall back to
shipping compressed blobs and one driver-written packed DV file.
"""

from __future__ import annotations

import logging
import os
from collections import defaultdict

from pyspark.sql import functions as F

from deltalake_datafusion_spark.delta import deletion_vectors as dvmod
from deltalake_datafusion_spark.delta.fs import fs_for
from deltalake_datafusion_spark.delta.predicates import prune_files
from deltalake_datafusion_spark.delta.scan import _logical_to_physical_map
from deltalake_datafusion_spark.delta.schema_apply import apply_schema
from deltalake_datafusion_spark.delta.snapshot import load_snapshot
from deltalake_datafusion_spark.delta.stats import parse_stats
from deltalake_datafusion_spark.delta.writer import (
    ConcurrentWriteError,
    _dv_to_json,
    _remove_action,
    _url_encode_path,
    check_writable,
    commit,
    maybe_checkpoint,
    physical_schema,
)
from deltalake_datafusion_spark.materialize import needs_materializing, scope
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)


_log = logging.getLogger(__name__)


class MergeCardinalityError(Exception):
    """MERGE source matched the same target row more than once."""


# strategy="auto" switches MERGE from copy-on-write to deletion
# vectors once the touched files hold this many bytes: above it the
# rewrite moves more data than the DV encoder's fixed round-trip costs.
DV_MERGE_THRESHOLD_BYTES = 64 * 1024 * 1024


def _dml_snapshot(spark, table_path: str, predicate: str | None):
    """(snapshot, candidates) for a DML transaction. Past the
    distributed-planner threshold — and given a pruning predicate —
    the log replay + stats/partition pruning run as ONE Spark job and
    only surviving files materialize driver-side; the returned
    snapshot carries NO file list (driver cost ∝ matching files,
    never log size — the same cutover the read path makes). Otherwise
    the plain driver snapshot with ``candidates=None`` (callers prune
    driver-side as before)."""
    from deltalake_datafusion_spark.delta import scan as scanmod

    if (
        predicate is not None
        and scanmod.estimate_log_actions(table_path, spark)
        > scanmod.SPARK_PLANNER_FILE_THRESHOLD
    ):
        snap = load_snapshot(table_path, spark=spark, with_files=False)
        check_writable(snap)
        return snap, scanmod.collect_planned_files(
            spark, table_path, predicate
        )
    snap = load_snapshot(table_path, spark=spark)
    check_writable(snap)
    return snap, None


def _dml_finish(spark, table_path: str, distributed: bool):
    """Post-commit bookkeeping: .crc + interval checkpoint + log
    cleanup. The distributed path computes state totals from a
    Spark-side replay instead of re-materializing the file list."""
    from deltalake_datafusion_spark.delta.writer import (
        maybe_checkpoint_light,
    )

    if distributed:
        maybe_checkpoint_light(spark, table_path)
    else:
        maybe_checkpoint(spark, load_snapshot(table_path, spark=spark))


class ConcurrentRefreshError(RuntimeError):
    """A concurrent maintainer advanced a SetTransaction watermark
    INTO THE MIDDLE of the CDF range a frozen delta covers: applying
    the frozen delta would double-count the overlap, and skipping it
    would lose the complement. The caller must recompute its delta
    from the new watermark (every MV refresh entry point, batch and
    streaming, does exactly that through
    :func:`delta.mv._retry_concurrent_refresh`)."""


class _TxnRangeCovered(Exception):
    """Internal: every txn guard's target version is already recorded
    on the target table — the whole range this transaction would
    apply has been applied by a concurrent maintainer; skip as a
    no-op instead of committing a duplicate."""


def _check_txn_guards(snap, guards: list[dict]) -> None:
    """Validate SetTransaction watermark guards against a (fresh)
    snapshot — the concurrent-refresh safety check (ADVICE r10): a
    MERGE built from a frozen CDF-range delta is only valid while the
    watermark it was computed FROM is still the recorded one.

    Each guard is ``{"appId", "applied", "target"}``: the refresh read
    changes in ``(applied, target]``. Outcomes:

    - every recorded version ≥ its target → the range is fully
      covered by a concurrent refresh → :class:`_TxnRangeCovered`
      (merge_delta returns a skip, nothing commits);
    - any recorded version moved past ``applied`` but not all targets
      are covered → partial overlap → :class:`ConcurrentRefreshError`
      (the frozen delta is unusable; recompute);
    - otherwise the watermarks are untouched → proceed.

    ``applied=None`` skips the partial-overlap check for that guard
    (caller doesn't know the from-watermark)."""
    recs = [snap.app_transactions.get(g["appId"], -1) for g in guards]
    if all(r >= g["target"] for r, g in zip(recs, guards)):
        raise _TxnRangeCovered()
    for r, g in zip(recs, guards):
        if g.get("applied") is not None and r > g["applied"]:
            raise ConcurrentRefreshError(
                f"txn {g['appId']!r} advanced to {r} past the "
                f"refresh's base watermark {g['applied']} while its "
                f"delta (target {g['target']}) was being applied — "
                "a concurrent refresh overlapped this range; "
                "recompute from the new watermark"
            )


def _restart_on_conflict(attempt, max_restarts: int = 3):
    """Self-healing DML/maintenance loop (delta-spark semantics): a
    true concurrency conflict — `ConcurrentModificationError` from
    conflict validation — restarts the WHOLE transaction against a
    fresh snapshot (re-scan candidates, re-plan, re-commit) instead
    of surfacing to the caller. ``attempt`` must be a zero-argument
    callable that plans from the current tip and cleans up its own
    staged files before letting the error escape."""
    from deltalake_datafusion_spark.delta.writer import (
        ConcurrentModificationError,
    )

    last: Exception | None = None
    for _ in range(max(1, max_restarts)):
        try:
            return attempt()
        except ConcurrentModificationError as e:
            last = e
    raise last


_FID_KEY = "spark.sql.parquet.fieldId.read.enabled"


def _with_field_id_restore(spark, fn):
    """Run ``fn`` and restore ``spark.sql.parquet.fieldId.read.enabled``
    afterwards. Mode-'id' scans inside DML / OPTIMIZE flip the SESSION
    conf (the parquet reader consults the session conf at execution
    time, so a per-read option cannot carry it), and every scan those
    operations build is fully executed before they return — restoring
    here keeps the flag from leaking into unrelated reads for the rest
    of the session. (``read_delta`` on a mode-'id' table returns a
    LAZY DataFrame, so the scan path cannot restore; documented there.)"""
    try:
        prev = spark.conf.get(_FID_KEY)
    except Exception:
        prev = None
    try:
        return fn()
    finally:
        try:
            if prev is None:
                spark.conf.unset(_FID_KEY)
            else:
                spark.conf.set(_FID_KEY, prev)
        except Exception:
            pass


def _cleanup_staged_adds(spark, table_path: str, actions: list[dict]) -> None:
    """Best-effort delete of the data files a failed attempt staged
    into the table (its add/cdc actions never committed, so nothing
    references them; DV sidecars are tiny and left for VACUUM). A file
    that cannot be deleted is logged and left for VACUUM."""
    import urllib.parse as _up

    from py4j.protocol import Py4JError

    fs = fs_for(table_path, spark)
    for a in actions:
        body = a.get("add") or a.get("cdc")
        if body and not body.get("deletionVector"):
            path = os.path.join(table_path, _up.unquote(body["path"]))
            try:
                if fs.delete(path):
                    continue
                why = "delete returned false"
            except (OSError, Py4JError) as e:
                why = e
            _log.warning("staged file %s left for VACUUM: %s", path, why)


def _nested_field_type(schema, dotted: str):
    """Data type at a dotted struct path (``addr.city``), or None when
    the path crosses a non-struct (array/map) — callers then skip the
    implicit cast and let Spark analyze."""
    from pyspark.sql.types import StructType

    t = schema
    for part in dotted.split("."):
        if not isinstance(t, StructType) or part not in t.fieldNames():
            return None
        t = t[part].dataType
    return t


def _reject_generated_set(schema, set_exprs: dict, op: str) -> None:
    """Explicit SET of a generated column is rejected (delta-spark
    behavior): a stored value inconsistent with
    ``delta.generationExpression`` would break the soundness premise
    of generated-column partition pruning (``generated_pruning``
    assumes partition value = f(base)), silently wrong-pruning later
    reads."""
    from deltalake_datafusion_spark.delta.writer import DeltaWriteError

    gen = [
        c
        for c in set_exprs
        if c in schema.fieldNames()
        and schema[c].metadata
        and "delta.generationExpression" in schema[c].metadata
    ]
    if gen:
        raise DeltaWriteError(
            f"{op} SET may not assign generated column(s) {sorted(gen)}: "
            "their values are always computed from "
            "delta.generationExpression"
        )


def _validate_generated_values(df, schema, columns, op: str) -> None:
    """Null-safe equality validation of explicitly-supplied generated
    column values (same aggregate ``write_delta`` runs,
    writer.py append path): every provided value must equal its
    generation expression over the same row, or the commit is
    refused. One metadata-scale aggregate job over ``df``."""
    from deltalake_datafusion_spark.delta.writer import DeltaWriteError

    gen = {
        f.name: f.metadata["delta.generationExpression"]
        for f in schema.fields
        if f.metadata and "delta.generationExpression" in f.metadata
    }
    check = sorted(set(gen) & set(columns))
    if not check:
        return
    aggs = [
        F.sum(
            F.when(~F.col(c).eqNullSafe(F.expr(gen[c])), 1).otherwise(0)
        ).alias(c)
        for c in check
    ]
    row = df.agg(*aggs).collect()[0]
    for c in check:
        if row[c]:
            raise DeltaWriteError(
                f"{op}: generated column {c!r} has {row[c]} row(s) not "
                f"matching its expression ({gen[c]})"
            )


def _noop_delete() -> dict:
    return {
        "actions": [],
        "files_rewritten": 0,
        "files_removed": 0,
        "rows_deleted": 0,
        "touched_paths": set(),
    }


def _dv_executor_write_allowed(
    table_path: str, local_master: bool, shared_conf: bool
) -> bool:
    """Whether executors may write DV files straight to ``table_path``:
    the path must be plain-filesystem AND either the master is local
    (executors share the driver's disk by construction) or the user
    opted in via ``lakehouse.delta.dv.executor_write`` (genuinely
    shared mount — verified driver-side before commit)."""
    path_local = "://" not in table_path or table_path.startswith("file://")
    return path_local and (local_master or shared_conf)


def _zorder_bits(k: int) -> int:
    """Bits of rank resolution per Z-order column: 8 up to 7 columns,
    then shrinking so ``k * bits <= 63`` — the interleaved value must
    never reach int64's sign bit (a negative Z-value for high buckets
    would invert the range-partition order)."""
    return max(1, min(8, 63 // max(1, k)))


def _dv_soft_delete_actions(spark, snap, rowmeta_df, candidates, fs):
    """Roaring-encode deletion vectors for the rows in ``rowmeta_df``
    (columns ``__file_path``/``__row_index``; rows must belong to
    ``candidates``). Encoding happens ON THE EXECUTORS (one
    ``applyInPandas`` group per file, merged there with any existing
    DV broadcast as decoded arrays), and on executor-writable storage
    (local / ``file://``) the DV *files themselves are written by the
    executors* too — the driver only ever sees
    (path, dv descriptor fields, cardinality) rows, so a MERGE
    touching 10⁵ files never accumulates bitmap blobs driver-side.
    Remote schemes fall back to shipping compressed blobs (KBs per
    file) and one driver-side packed DV file. Files whose DV would
    cover every physical row skip the DV write and become plain
    removes (detected executor-side from broadcast numRecords stats).

    Returns ``{actions, owners, full_removes, rows_deleted}`` — shared
    by DELETE/UPDATE (via ``_delete_plan``) and the DV MERGE strategy.
    """
    # Keyed by decoded on-disk path; lookups decode the scan's URI form.
    existing_by_path: dict[str, object] = {}
    nrec_by_path: dict[str, int] = {}
    for f in candidates:
        abs_path = os.path.join(snap.table_path, f.path)
        if f.dv:
            existing_by_path[abs_path] = dvmod.read_dv(snap.table_path, f.dv, fs)
        stats = parse_stats(f.stats)
        nrec = stats.get("numRecords") if stats else None
        if nrec is not None:
            nrec_by_path[abs_path] = nrec

    bc_existing = spark.sparkContext.broadcast(existing_by_path)
    bc_nrec = spark.sparkContext.broadcast(nrec_by_path)
    table_path = snap.table_path
    # Executor-side DV file writes need storage every node can reach.
    # A bare/file:// path proves that ONLY under a local master (one
    # machine); on a real cluster the same path could be
    # executor-local disk, so the commit would reference files the
    # driver/readers cannot open. Clusters must opt in explicitly
    # (shared NFS/fuse mount) via conf — and even then the driver
    # verifies one written DV before committing (below).
    _local_master = (spark.sparkContext.master or "").startswith("local")
    try:
        _shared_opt = (
            spark.conf.get(
                "lakehouse.delta.dv.executor_write", "false"
            ).lower()
            == "true"
        )
    except Exception:
        _shared_opt = False
    executor_write = _dv_executor_write_allowed(
        table_path, _local_master, _shared_opt
    )
    enc_schema = StructType(
        [
            StructField("file_path", StringType()),
            StructField("dv_token", StringType()),
            StructField("offset", LongType()),
            StructField("size", LongType()),
            StructField("blob", BinaryType()),
            StructField("cardinality", LongType()),
            StructField("new_deletes", LongType()),
        ]
    )

    def _encode_group(pdf):
        import numpy as np
        import pandas as pd

        from deltalake_datafusion_spark.delta.fs import (
            LocalFS,
            decode_file_uri,
            strip_scheme,
        )

        fp = pdf["__file_path"].iloc[0]
        decoded = decode_file_uri(fp)
        new_idx = np.unique(pdf["__row_index"].to_numpy(dtype=np.int64))
        prior = bc_existing.value.get(decoded)
        if prior is not None and len(prior):
            all_idx = np.union1d(new_idx, np.asarray(prior, dtype=np.int64))
        else:
            all_idx = new_idx
        card = int(len(all_idx))
        row = {
            "file_path": [fp],
            "dv_token": [None],
            "offset": [None],
            "size": [None],
            "blob": [None],
            "cardinality": [card],
            "new_deletes": [int(len(new_idx))],
        }
        nrec = bc_nrec.value.get(decoded)
        if nrec is not None and card >= nrec:
            return pd.DataFrame(row)  # full-file delete: no DV needed
        blob = dvmod.serialize_bitmap(all_idx)
        if executor_write:
            token, spans = dvmod.write_dv_file(
                strip_scheme(table_path), [blob], LocalFS()
            )
            row["dv_token"] = [token]
            row["offset"], row["size"] = [spans[0][0]], [spans[0][1]]
        else:
            row["blob"] = [blob]
        return pd.DataFrame(row)

    hits = (
        rowmeta_df.select("__file_path", "__row_index")
        .groupBy("__file_path")
        .applyInPandas(_encode_group, enc_schema)
        .collect()
    )
    rows_deleted = sum(r["new_deletes"] for r in hits)
    if executor_write and not _local_master:
        # conf-opted cluster: prove the shared-storage assumption by
        # opening one executor-written DV from the driver BEFORE any
        # commit references it — fail the DML, not later reads
        first = next((r for r in hits if r["dv_token"]), None)
        if first is not None:
            rel = dvmod.dv_relative_path(first["dv_token"])
            if not fs.exists(os.path.join(snap.table_path, rel)):
                from deltalake_datafusion_spark.delta.writer import (
                    DeltaWriteError,
                )

                raise DeltaWriteError(
                    "lakehouse.delta.dv.executor_write=true but an "
                    f"executor-written deletion vector ({rel}) is not "
                    "readable from the driver — the table path is not "
                    "shared storage; unset the conf to use the "
                    "driver-side DV write path"
                )
    # hits can only come from candidate files — O(candidates), never
    # O(table files), driver-side
    by_path = {f.path: f for f in candidates}

    full_removes = []
    written: list[tuple] = []  # (AddFile, token, offset, size, card)
    blobs, blob_owners = [], []
    for row in sorted(hits, key=lambda r: r["file_path"]):
        rel = _relativize(row["file_path"], snap.table_path)
        f = by_path[rel]
        if row["dv_token"] is None and row["blob"] is None:
            full_removes.append(f)
            continue
        if row["dv_token"] is not None:
            written.append(
                (f, row["dv_token"], row["offset"], row["size"],
                 row["cardinality"])
            )
        else:
            blobs.append(bytes(row["blob"]))
        blob_owners.append((f, row["cardinality"]))

    actions: list[dict] = []
    if written or blobs:
        # First DV on a legacy-protocol table: upgrade the protocol in
        # the same commit (spec: deletionVectors is a reader+writer
        # table feature; emitting DVs without declaring it would make
        # the table invalid for other readers).
        from deltalake_datafusion_spark.delta.writer import (
            protocol_upgrade_action,
        )

        up = protocol_upgrade_action(snap.protocol, {"deletionVectors"})
        if up is not None:
            actions.append(up)

    def _dv_actions(f, dv):
        return [
            _remove_action(f),
            {
                "add": {
                    "path": _url_encode_path(f.path),
                    "partitionValues": f.partition_values,
                    "size": f.size,
                    "modificationTime": f.modification_time,
                    "dataChange": True,
                    "stats": f.stats,
                    "deletionVector": _dv_to_json(dv),
                    # row-tracking stability: a DV update re-adds the
                    # same physical file — surviving rows keep their ids
                    **_row_id_fields(f),
                }
            },
        ]

    for f, token, offset, size, card in written:
        dv = dvmod.make_descriptor("u", token, offset, size, card)
        actions.extend(_dv_actions(f, dv))
    if blobs:
        # remote-storage fallback: one packed DV file, written by the
        # driver through the scheme's storage handler (executor_write
        # is constant per call, so written/blobs never mix)
        path_or_inline, spans = dvmod.write_dv_file(snap.table_path, blobs, fs)
        for (f, card), (offset, size) in zip(blob_owners, spans):
            dv = dvmod.make_descriptor("u", path_or_inline, offset, size, card)
            actions.extend(_dv_actions(f, dv))
    return {
        "actions": actions,
        "owners": blob_owners,
        "full_removes": full_removes,
        "rows_deleted": rows_deleted,
    }



def _delete_plan(
    spark, snap, predicate: str | None, emit_cdc: bool = True,
    candidates=None, rowmeta=None,
) -> dict:
    """Plan a DELETE against one snapshot WITHOUT committing: returns
    {actions, files_rewritten, files_removed, rows_deleted,
    touched_paths}. Shared by DELETE (commits it alone) and UPDATE
    (folds it into one atomic commit with the replacement adds;
    UPDATE passes ``emit_cdc=False`` and stages its own
    pre/post-image cdc instead of plain deletes).

    ``rowmeta`` (requires ``emit_cdc=False`` and ``candidates``): a
    caller-provided DataFrame of the matched rows'
    ``__file_path``/``__row_index`` — UPDATE already scanned (and
    persisted) the candidate files to build the replacement rows, so
    the DV encode reuses that scan instead of running a second one.
    The stats-full metadata split is skipped on this path: those
    files were scanned anyway, and the encoder detects fully-matched
    files executor-side (cardinality ≥ numRecords → plain remove), so
    the committed actions are identical.

    ``predicate=None`` is the truncate form: every file is removed as
    pure metadata (zero data I/O unless CDF must capture the rows)."""
    if rowmeta is not None and emit_cdc:
        raise ValueError("rowmeta reuse requires emit_cdc=False")
    logical = snap.schema
    l2p = _logical_to_physical_map(logical)
    if predicate is None:
        if not snap.files:
            return _noop_delete()
        from deltalake_datafusion_spark.delta.cdf import (
            CHANGE_TYPE_COL,
            cdf_enabled,
            stage_cdc,
        )

        rows_deleted = 0
        for f in snap.files:
            st = parse_stats(f.stats)
            nrec = st.get("numRecords") if st else None
            if nrec is None:
                import pyarrow.parquet as papq

                nrec = papq.read_metadata(
                    os.path.join(snap.table_path, f.path)
                ).num_rows
            prior = f.dv.cardinality if f.dv and f.dv.cardinality >= 0 else 0
            rows_deleted += max(int(nrec) - prior, 0)
        actions = [_remove_action(f) for f in snap.files]
        if emit_cdc and cdf_enabled(snap.metadata.configuration):
            cdc_df = (
                _scan_with_rowmeta(spark, snap, None)
                .drop("__row_index", "__file_path")
                .withColumn(CHANGE_TYPE_COL, F.lit("delete"))
            )
            actions.extend(stage_cdc(spark, snap, cdc_df))
        return {
            "actions": actions,
            "files_rewritten": 0,
            "files_removed": len(snap.files),
            "rows_deleted": rows_deleted,
            "touched_paths": {f.path for f in snap.files},
        }
    if candidates is None:
        from deltalake_datafusion_spark.delta.scan import _pruning_predicate

        candidates = prune_files(
            snap.files, _pruning_predicate(snap, predicate), logical,
            snap.partition_columns, l2p,
        )
    if not candidates:
        return _noop_delete()

    # Partition-drop fast path: files whose stats PROVE every physical
    # row matches the predicate (all_match — sound under the writer's
    # outer-bound string truncation) are removed as pure metadata, no
    # data I/O. A `DELETE WHERE part = 'x'` over a 100 TB table then
    # touches zero parquet bytes — the shape Delta users expect.
    from deltalake_datafusion_spark.delta.predicates import (
        StatsEvaluator,
        try_parse_predicate,
    )

    fs = fs_for(snap.table_path, spark)
    stats_full: list = []
    stats_full_live = 0
    pred_ir = try_parse_predicate(predicate) if rowmeta is None else None
    if pred_ir is not None:
        ev = StatsEvaluator(logical, snap.partition_columns, l2p)
        stats_full = [f for f in candidates if ev.all_match(f, pred_ir)]
        full_paths = {f.path for f in stats_full}
        candidates = [f for f in candidates if f.path not in full_paths]
        for f in stats_full:
            st = parse_stats(f.stats)
            nrec = st.get("numRecords") if st else None
            if nrec is None:  # footer metadata read — still no data I/O
                import pyarrow.parquet as papq

                nrec = papq.read_metadata(
                    os.path.join(snap.table_path, f.path)
                ).num_rows
            prior = f.dv.cardinality if f.dv and f.dv.cardinality >= 0 else 0
            stats_full_live += max(int(nrec) - prior, 0)

    from deltalake_datafusion_spark.delta.cdf import cdf_enabled as _cdf_en

    cdc_on = emit_cdc and _cdf_en(snap.metadata.configuration)
    with scope() as persist:
        matched = None
        enc = {"actions": [], "owners": [], "full_removes": [],
               "rows_deleted": 0}
        if candidates:
            # Scan candidates (DV-aware: rows already deleted in place are
            # invisible, so re-deletes never double-count), evaluate the
            # predicate over logical columns; DV-encode the matched rows
            # executor-side (_dv_soft_delete_actions). UPDATE hands the
            # scan it already ran in via ``rowmeta``.
            if rowmeta is not None:
                matched = rowmeta.select("__file_path", "__row_index")
            else:
                matched = _scan_with_rowmeta(
                    spark, snap, predicate, files=candidates
                ).filter(F.expr(predicate))
            if cdc_on and rowmeta is None:
                # the matched rows feed BOTH the DV encoder and the cdc
                # capture below — persist once instead of re-scanning the
                # candidate files (bounded by deleted-row volume)
                matched = persist(matched)
            enc = _dv_soft_delete_actions(spark, snap, matched, candidates, fs)
        total_deleted = enc["rows_deleted"] + stats_full_live

        if not enc["owners"] and not enc["full_removes"] and not stats_full:
            return _noop_delete()

        blob_owners = enc["owners"]
        full_removes = list(stats_full) + enc["full_removes"]
        actions = list(enc["actions"])
        for f in full_removes:
            actions.append(_remove_action(f))

        # CDF: a DELETE commit mixes removes and DV-adds, so per spec it
        # must carry its changed rows as cdc files (readers of a commit
        # with cdc use only cdc). The matched rows were persisted above so
        # the capture re-reads nothing; only the stats-full files the fast
        # path never scanned need a read here — exactly as Delta's own
        # writer does when the feed is enabled.
        from deltalake_datafusion_spark.delta.cdf import (
            CHANGE_TYPE_COL,
            cdf_enabled,
            stage_cdc,
        )

        if cdc_on:
            parts = []
            if matched is not None:
                parts.append(matched)  # persisted above — no second scan
            if stats_full:
                parts.append(_scan_with_rowmeta(spark, snap, None, files=stats_full))
            if parts:
                cdc_df = parts[0]
                for p in parts[1:]:
                    cdc_df = cdc_df.unionByName(p)
                cdc_df = cdc_df.drop("__row_index", "__file_path").withColumn(
                    CHANGE_TYPE_COL, F.lit("delete")
                )
                actions.extend(stage_cdc(spark, snap, cdc_df))

    return {
        "actions": actions,
        "files_rewritten": len(blob_owners),
        "files_removed": len(full_removes),
        "rows_deleted": total_deleted,
        "touched_paths": {f.path for f, _ in blob_owners}
        | {f.path for f in full_removes},
    }


def delete_delta(
    spark, table_path: str, predicate: str | None = None,
    max_restarts: int = 3,
) -> dict:
    """Delete rows matching ``predicate``. Returns a summary dict
    {files_rewritten, files_removed, rows_deleted, version}.

    Commits through the conflict-validating optimistic path; a true
    read-write conflict (concurrent commit touching the same files,
    appending rows that may match the predicate, or changing table
    metadata) RESTARTS the whole transaction from a fresh snapshot —
    re-scan, re-plan, re-commit — up to ``max_restarts`` times
    (delta-spark semantics); disjoint concurrent commits retry
    cheaply without re-planning."""
    return _with_field_id_restore(
        spark,
        lambda: _restart_on_conflict(
            lambda: _delete_attempt(spark, table_path, predicate),
            max_restarts,
        ),
    )


def _delete_attempt(spark, table_path: str, predicate: str | None) -> dict:
    from deltalake_datafusion_spark.delta.constraints import check_append_only
    from deltalake_datafusion_spark.delta.writer import commit_with_retries

    snap, candidates = _dml_snapshot(spark, table_path, predicate)
    check_append_only(snap.metadata.configuration, "DELETE")
    plan = _delete_plan(spark, snap, predicate, candidates=candidates)
    if not plan["actions"]:
        return {
            "files_rewritten": 0,
            "files_removed": 0,
            "rows_deleted": 0,
            "version": snap.version,
        }
    version = commit_with_retries(
        spark, snap.table_path, snap, plan["actions"], "DELETE",
        plan["touched_paths"],
        read_predicate=predicate if predicate is not None else "true",
        operation_metrics={"numDeletedRows": str(plan["rows_deleted"])},
    )
    _dml_finish(spark, table_path, distributed=candidates is not None)
    return {
        "files_rewritten": plan["files_rewritten"],
        "files_removed": plan["files_removed"],
        "rows_deleted": plan["rows_deleted"],
        "version": version,
    }


def update_delta(
    spark, table_path: str, set_exprs: dict[str, str],
    predicate: str | None = None,
    max_restarts: int = 3,
) -> dict:
    """UPDATE ... SET ... [WHERE]: deletion-vector the matched rows in
    place and append the updated versions as new files. Only files
    that can contain matches (stats pruning) are touched; unmatched
    rows are never rewritten — the DV path makes UPDATE cost ∝
    matched data, not file data. ``predicate=None`` updates every
    row. A true concurrency conflict restarts the whole transaction
    from a fresh snapshot (see :func:`_restart_on_conflict`)."""
    return _with_field_id_restore(
        spark,
        lambda: _restart_on_conflict(
            lambda: _update_attempt(spark, table_path, set_exprs, predicate),
            max_restarts,
        ),
    )


def _update_attempt(
    spark, table_path: str, set_exprs: dict[str, str],
    predicate: str | None = None,
) -> dict:
    from deltalake_datafusion_spark.delta.constraints import check_append_only

    if predicate is None:
        predicate = "true"
    snap, candidates = _dml_snapshot(spark, table_path, predicate)
    check_append_only(snap.metadata.configuration, "UPDATE")
    rt_mat = _materialized_row_id_col(snap)
    matched_df = _scan_with_rowmeta(
        spark, snap, predicate, files=candidates, row_id_col=rt_mat
    ).filter(F.expr(predicate))
    with scope() as persist:
        # matched rows feed the rewrite, the DV encode of the old copies
        # (via _delete_plan's rowmeta reuse) AND (with the feed on) the
        # cdc pre/post images — persist once instead of rescanning the
        # candidate files per use; bounded by matched-row volume, which
        # UPDATE materializes as new files anyway
        matched_df = persist(matched_df)
        # Nested-field assignments (delta-spark `SET addr.city = …`):
        # group dotted targets by their top-level struct column; the
        # struct is rebuilt via withField, every RHS still evaluated
        # against the OLD row.
        top_sets: dict[str, str] = {}
        nested_sets: dict[str, list[tuple[str, str]]] = {}
        for k, v in set_exprs.items():
            if "." in k:
                base, rest = k.split(".", 1)
                nested_sets.setdefault(base, []).append((rest, v))
            else:
                top_sets[k] = v
        both = sorted(set(top_sets) & set(nested_sets))
        if both:
            raise ValueError(
                f"UPDATE SET assigns both column(s) {both} and their "
                "nested fields — pick one level"
            )
        unknown = [
            c
            for c in list(top_sets) + list(nested_sets)
            if c not in matched_df.columns
        ]
        if unknown:
            raise ValueError(
                f"UPDATE SET targets unknown column(s) {unknown}; "
                f"table columns: {snap.schema.fieldNames()}"
            )
        _reject_generated_set(snap.schema, set_exprs, "UPDATE")

        def _new_col(c):
            # assignments cast to the declared field type (delta-spark
            # implicit cast: `SET score = 1.0` must stay DOUBLE, not the
            # literal's DECIMAL(2,1) — a type drift here would write
            # parquet files unreadable under the table schema)
            if c in top_sets:
                return (
                    F.expr(top_sets[c]).cast(snap.schema[c].dataType).alias(c)
                )
            if c in nested_sets:
                e = F.col(c)
                for rest, rhs in nested_sets[c]:
                    ft = _nested_field_type(snap.schema, f"{c}.{rest}")
                    rc = F.expr(rhs)
                    e = e.withField(rest, rc.cast(ft) if ft else rc)
                return e.alias(c)
            return F.col(c)

        # ANSI/Delta UPDATE is simultaneous assignment: every SET
        # right-hand side is evaluated against the OLD row, so
        # `SET a = b, b = a` swaps. One select over the pre-update row
        # (never a sequential withColumn chain, which would leak
        # already-updated values into later assignments).
        updated = matched_df.select(
            *[_new_col(c) for c in matched_df.columns]
        )
        # Generated columns not explicitly SET are recomputed from the
        # post-update row — updating a base column must never leave its
        # generated column stale (delta-spark UPDATE semantics).
        for _gf in snap.schema.fields:
            if (
                _gf.metadata
                and "delta.generationExpression" in _gf.metadata
                and _gf.name not in set_exprs
            ):
                updated = updated.withColumn(
                    _gf.name,
                    F.expr(
                        _gf.metadata["delta.generationExpression"]
                    ).cast(_gf.dataType),
                )
        updated = updated.drop("__row_index", "__file_path")
        # New files with the updated rows. Row tracking: each updated
        # copy persists its pre-update stable id in the materialized
        # column, so _row_id survives the UPDATE.
        from deltalake_datafusion_spark.delta.writer import write_data_files

        logical = snap.schema
        extra = [rt_mat] if rt_mat else []
        if rt_mat:
            updated = updated.withColumn(rt_mat, F.col("__old_row_id"))
        adds = write_data_files(
            spark, updated.select(*logical.fieldNames(), *extra),
            snap.table_path, logical, snap.partition_columns,
            snap.metadata.configuration, snap.column_mapping_mode,
            extra_cols=extra,
        )
        if not adds:
            # no row matched: nothing to delete, nothing to commit
            return {
                "rows_updated": 0, "files_added": 0, "version": snap.version,
            }

        # DV the old copies of the matched rows — PLANNED against the same
        # snapshot, committed together with the replacement adds in ONE
        # atomic version: no reader or crash window ever observes the rows
        # deleted but not yet re-added. The persisted matched rows feed
        # the DV encode directly (rowmeta) — no second candidate scan.
        plan = _delete_plan(
            spark, snap, predicate, emit_cdc=False, candidates=candidates,
            rowmeta=matched_df,
        )

        from deltalake_datafusion_spark.delta.cdf import (
            CHANGE_TYPE_COL,
            cdf_enabled,
            stage_cdc,
        )

        cdc_actions: list[dict] = []
        if cdf_enabled(snap.metadata.configuration):
            pre = matched_df.drop("__row_index", "__file_path").withColumn(
                CHANGE_TYPE_COL, F.lit("update_preimage")
            )
            post = updated.select(*logical.fieldNames()).withColumn(
                CHANGE_TYPE_COL, F.lit("update_postimage")
            )
            cdc_actions = stage_cdc(spark, snap, pre.unionByName(post))

    from deltalake_datafusion_spark.delta.writer import (
        ConcurrentModificationError,
        commit_with_retries,
    )

    try:
        version = commit_with_retries(
            spark, snap.table_path, snap,
            plan["actions"] + adds + cdc_actions,
            "UPDATE", plan["touched_paths"], read_predicate=predicate,
            operation_metrics={
                "numUpdatedRows": str(plan["rows_deleted"])
            },
        )
    except ConcurrentModificationError:
        _cleanup_staged_adds(spark, snap.table_path, adds + cdc_actions)
        raise
    _dml_finish(spark, table_path, distributed=candidates is not None)
    return {
        "rows_updated": plan["rows_deleted"],
        "files_added": len(adds),
        "version": version,
    }


def _normalize_merge_clauses(
    when_matched,
    when_matched_update,
    when_matched_delete,
    when_matched_condition,
    when_not_matched,
    when_not_matched_insert,
    when_not_matched_condition,
    when_not_matched_values,
    when_not_matched_by_source,
    when_not_matched_by_source_delete,
    when_not_matched_by_source_update,
    when_not_matched_by_source_condition,
):
    """Fold the legacy single-clause keyword surface and the ordered
    multi-clause lists into three canonical clause lists (Delta's
    multi-clause MERGE: any number of WHEN MATCHED / WHEN NOT MATCHED /
    WHEN NOT MATCHED BY SOURCE clauses, evaluated in order,
    first-true-wins per row). Mixing a list with its legacy scalar
    form is rejected."""
    if when_matched is not None:
        if when_matched_update or when_matched_delete:
            raise ValueError(
                "pass either when_matched=[...] or the legacy "
                "when_matched_update/when_matched_delete, not both"
            )
        m_clauses = list(when_matched)
    elif when_matched_delete:
        m_clauses = [
            {"condition": when_matched_condition, "delete": True}
        ]
    elif when_matched_update:
        m_clauses = [
            {
                "condition": when_matched_condition,
                "update": when_matched_update,
            }
        ]
    else:
        m_clauses = []

    if when_not_matched is not None:
        nm_clauses = list(when_not_matched)
    elif when_not_matched_insert:
        nm_clauses = [
            {
                "condition": when_not_matched_condition,
                "values": when_not_matched_values,
            }
        ]
    else:
        nm_clauses = []

    if when_not_matched_by_source is not None:
        if when_not_matched_by_source_delete or (
            when_not_matched_by_source_update is not None
        ):
            raise ValueError(
                "pass either when_not_matched_by_source=[...] or the "
                "legacy by-source keywords, not both"
            )
        bs_clauses = list(when_not_matched_by_source)
    else:
        if when_not_matched_by_source_delete and (
            when_not_matched_by_source_update is not None
        ):
            raise ValueError(
                "WHEN NOT MATCHED BY SOURCE: DELETE and UPDATE are "
                "exclusive in the legacy keyword form; use "
                "when_not_matched_by_source=[...] for multiple clauses"
            )
        if when_not_matched_by_source_delete:
            bs_clauses = [
                {
                    "condition": when_not_matched_by_source_condition,
                    "delete": True,
                }
            ]
        elif when_not_matched_by_source_update is not None:
            bs_clauses = [
                {
                    "condition": when_not_matched_by_source_condition,
                    "update": when_not_matched_by_source_update,
                }
            ]
        else:
            bs_clauses = []

    for cl in m_clauses:
        if bool(cl.get("delete")) == bool(cl.get("update")):
            raise ValueError(
                "each WHEN MATCHED clause needs exactly one of "
                f"update=... or delete=True: {cl!r}"
            )
    for cl in bs_clauses:
        if bool(cl.get("delete")) == bool(cl.get("update") is not None):
            raise ValueError(
                "each WHEN NOT MATCHED BY SOURCE clause needs exactly "
                f"one of update=... or delete=True: {cl!r}"
            )
    return m_clauses, nm_clauses, bs_clauses


def merge_delta(
    spark,
    table_path: str,
    source,
    on: str,
    when_matched_update: dict[str, str] | None = None,
    when_matched_delete: bool = False,
    when_matched_condition: str | None = None,
    when_not_matched_insert: bool = True,
    when_not_matched_condition: str | None = None,
    when_not_matched_values: dict[str, str] | None = None,
    when_not_matched_by_source_delete: bool = False,
    when_not_matched_by_source_update: dict[str, str] | None = None,
    when_not_matched_by_source_condition: str | None = None,
    when_matched: list[dict] | None = None,
    when_not_matched: list[dict] | None = None,
    when_not_matched_by_source: list[dict] | None = None,
    strict: bool = False,
    schema_evolution: bool = False,
    strategy: str = "auto",
    max_restarts: int = 3,
    extra_actions: list[dict] | None = None,
    txn_guards: list[dict] | None = None,
) -> dict:
    """MERGE INTO (upsert). ``extra_actions`` (e.g. ``txn``
    SetTransaction watermarks — the delta-spark idempotent-write
    pattern) are appended to the SAME commit as the merge's
    add/remove actions, so a caller-side watermark can never lag the
    merged data across a crash. ``txn_guards``
    (``[{"appId", "applied", "target"}, ...]``) make the merge
    conditional on those watermarks being UNMOVED — checked against
    the fresh snapshot of every attempt, so the conflict-restart loop
    can never re-apply a frozen delta a concurrent refresh already
    covered (fully covered → ``{"skipped": "txn-covered"}``; partial
    overlap → :class:`ConcurrentRefreshError`; see
    :func:`_check_txn_guards`). On a true concurrency conflict — a
    concurrent commit that touched this MERGE's files, advanced an
    identity high-water mark, or changed table metadata/protocol —
    the whole transaction RESTARTS from a fresh snapshot (re-scan
    candidates, re-mint identity values, rebuild the metaData
    action), the same self-healing loop ``write_delta`` runs, instead
    of surfacing ``ConcurrentModificationError`` to the caller. Up to
    ``max_restarts`` attempts; staged-but-uncommitted files of a
    failed attempt are deleted before retrying.

    Ordered multi-clause MERGE (Delta's full grammar): pass
    ``when_matched=[{"condition": c1, "update": {...}},
    {"condition": c2, "delete": True}, ...]`` (any number of clauses;
    per matched row the FIRST clause whose condition holds fires —
    later clauses never see it; a row matching no clause passes
    through unchanged), ``when_not_matched=[{"condition": ...,
    "values": {...}|None}, ...]`` (``values=None`` = INSERT *), and
    ``when_not_matched_by_source=[{"condition": ...,
    "delete": True|"update": {...}}, ...]``. The legacy scalar
    keywords are sugar for single-clause lists. See
    :func:`_merge_attempt` for plan semantics."""
    from deltalake_datafusion_spark.delta.writer import (
        ConcurrentModificationError,
    )

    m_clauses, nm_clauses, bs_clauses = _normalize_merge_clauses(
        when_matched, when_matched_update, when_matched_delete,
        when_matched_condition,
        when_not_matched, when_not_matched_insert,
        when_not_matched_condition, when_not_matched_values,
        when_not_matched_by_source,
        when_not_matched_by_source_delete,
        when_not_matched_by_source_update,
        when_not_matched_by_source_condition,
    )

    def _run():
        last: Exception | None = None
        for _ in range(max(1, max_restarts)):
            # one scope per attempt: what it persisted is released
            # however it exits (success, restart, raised error)
            try:
                with scope() as persist:
                    return _merge_attempt(
                        spark, table_path, source, on, persist,
                        m_clauses=m_clauses,
                        nm_clauses=nm_clauses,
                        bs_clauses=bs_clauses,
                        strict=strict,
                        schema_evolution=schema_evolution,
                        strategy=strategy,
                        extra_actions=extra_actions,
                        txn_guards=txn_guards,
                    )
            except _TxnRangeCovered:
                return {"skipped": "txn-covered"}
            except ConcurrentModificationError as e:
                last = e
        raise last

    return _with_field_id_restore(spark, _run)


def _merge_attempt(
    spark,
    table_path: str,
    source,
    on: str,
    persist,
    m_clauses: list[dict],
    nm_clauses: list[dict],
    bs_clauses: list[dict],
    strict: bool = False,
    schema_evolution: bool = False,
    strategy: str = "auto",
    extra_actions: list[dict] | None = None,
    txn_guards: list[dict] | None = None,
) -> dict:
    """One MERGE INTO attempt against the current snapshot (frames
    are cached through ``persist``, the caller's materialize scope),
    copy-on-write strategy:

    1. join source↔target on ``on`` to find *touched files* (any file
       with ≥1 matched row);
    2. rewrite only those files: unmatched rows pass through, matched
       rows are updated / dropped;
    3. append source rows with no target match (WHEN NOT MATCHED);
    4. one commit: remove(touched) + add(rewritten + inserted).

    The join in step 1 is target⋈broadcast(source) when the source is
    small (the common CDC shape); touched-file discovery and the
    rewrite share one shuffle. ``on`` must reference target columns
    as ``t.col`` and source columns as ``s.col``.

    Clause lists come pre-normalized from
    :func:`_normalize_merge_clauses` (ordered, first-true-wins per
    row; null condition = false, SQL 3VL). ``bs_clauses`` (WHEN NOT
    MATCHED BY SOURCE) must examine every target row, so they rewrite
    (or DV-scan) all files — the documented cost of the full-sync
    MERGE shape.

    ``strict=True`` enforces the ANSI/Delta MERGE cardinality rule:
    if any target row is matched by more than one source row, raise
    :class:`MergeCardinalityError` instead of silently duplicating
    the row (the non-strict default documents the duplication).

    ``strategy`` selects the physical plan: the default ``"auto"``
    picks ``"dv"`` when the touched files hold ≥64 MiB (rewriting
    them would move real data) and ``"cow"`` otherwise (small
    rewrites beat the DV encoder's fixed round-trip).
    ``strategy="dv"`` forces deletion vectors:
    clause-matched (and by-source-deleted) rows are soft-deleted in
    place via the same executor-side roaring encoder DELETE uses, and
    only replacement/insert rows are written — merge cost becomes
    ∝ changed rows instead of ∝ touched files (Delta's MERGE-with-DV
    optimization). Results are identical to ``"cow"``; files that lost
    every live row become plain removes.

    ``schema_evolution=True`` is Delta's ``withSchemaEvolution()``:
    source columns absent from the target are appended (nullable) to
    the table schema in the same commit — existing rows read null,
    UPDATE SET / INSERT may assign them. Without it, extra source
    columns are ignored (the pre-evolution Delta behavior)."""
    from deltalake_datafusion_spark.delta.constraints import check_append_only

    # MERGE reads the whole target, so past the planner threshold the
    # surviving-file list comes from the Spark-side replay (no driver
    # JSON log parse); the by-source clause and touched-file lookups
    # need every live file either way, but never the log itself.
    snap, _planned = _dml_snapshot(spark, table_path, "true")
    if txn_guards:
        # every attempt (first AND conflict-restart) re-validates the
        # watermark guards against ITS fresh snapshot (ADVICE r10)
        _check_txn_guards(snap, txn_guards)
    all_files = _planned if _planned is not None else snap.files
    check_append_only(snap.metadata.configuration, "MERGE")
    logical = snap.schema
    for _cl in m_clauses:
        if _cl.get("update"):
            _reject_generated_set(logical, _cl["update"], "MERGE UPDATE")
    # WHEN NOT MATCHED BY SOURCE UPDATE is held to the same rule: an
    # explicitly-assigned generated column would be stored unvalidated
    # and poison generated-column partition pruning on later reads.
    for _cl in bs_clauses:
        if _cl.get("update"):
            _reject_generated_set(
                logical, _cl["update"],
                "MERGE NOT MATCHED BY SOURCE UPDATE",
            )
    md_action = None
    if schema_evolution:
        from deltalake_datafusion_spark.delta.writer import (
            _metadata_action,
            merge_schema_fields,
        )

        evolved, merged_conf, changed = merge_schema_fields(
            snap, source.schema.fields
        )
        if changed:
            logical = evolved
            md_action = _metadata_action(
                evolved,
                snap.partition_columns,
                merged_conf,
                snap.metadata.id,
                snap.metadata.name,
            )
            md_action["metaData"]["createdTime"] = snap.metadata.created_time
            md_action["metaData"]["description"] = (
                snap.metadata.description
            )
    rt_mat = _materialized_row_id_col(snap)
    rt_ver = _materialized_row_ver_col(snap)
    target = _scan_with_rowmeta(
        spark, snap, None, files=all_files,
        row_id_col=rt_mat, row_ver_col=rt_ver,
    )

    # The source plan feeds the match join AND the not-matched
    # anti-join: one that cannot be re-read identically and cheaply
    # is materialized once (materialize.needs_materializing).
    if needs_materializing(source):
        source = persist(source)
    t = target.alias("t")
    s = source.alias("s")
    cond = F.expr(on)

    matched = t.join(s, cond, "inner").select(
        F.col("t.__file_path").alias("__file_path"),
        F.col("t.__row_index").alias("__row_index"),
        F.lit(True).alias("__s___matched"),
        *[F.col(f"s.{c}").alias(f"__s_{c}") for c in source.columns],
    )
    # matched feeds the strict-cardinality check, the touched-file
    # collect and the rewrite join — persist once (bounded by matched
    # rows + source columns) instead of re-running target⋈source per
    # consumer.
    matched = persist(matched)
    # Strict merges fold the cardinality check INTO the touched-file
    # collect: one O(files)-row aggregation (a file with more matched
    # rows than distinct matched row_indexes holds a duplicate)
    # replaces the pre-r13 two sequential collects (guide §1.2).
    # Non-strict merges keep the cheaper single-shuffle distinct, and
    # by-source merges need no file list at all (touched = all files).
    _bs_active = bool(bs_clauses)
    if strict:
        _per_file = (
            matched.groupBy("__file_path")
            .agg(
                F.count(F.lit(1)).alias("__n"),
                F.countDistinct("__row_index").alias("__nd"),
            )
            .collect()
        )
        _touched_abs = [r["__file_path"] for r in _per_file]
    elif not _bs_active:
        _touched_abs = [
            r["__file_path"]
            for r in matched.select("__file_path").distinct().collect()
        ]
    else:
        _touched_abs = []
    if strict:
        dup = None
        if any(r["__n"] > r["__nd"] for r in _per_file):
            # violation path only: re-query for a specific duplicate
            # so the error message stays as informative as before
            dup = (
                matched.groupBy("__file_path", "__row_index")
                .count()
                .filter(F.col("count") > 1)
                .limit(1)
                .collect()
            )
        if dup:
            raise MergeCardinalityError(
                "MERGE source has multiple rows matching the same target "
                "row (e.g. target row_index "
                f"{dup[0]['__row_index']} in {dup[0]['__file_path']}); "
                "deduplicate the source or run with strict=False"
            )

    bs_active = bool(bs_clauses)
    for _cl in bs_clauses:
        import re as _re0

        bad = [
            e
            for e in (_cl.get("update") or {}).values()
            if _re0.search(r"\bs\.", e)
        ] + (
            [_cl["condition"]]
            if _cl.get("condition") and _re0.search(r"\bs\.", _cl["condition"])
            else []
        )
        if bad:
            raise ValueError(
                "WHEN NOT MATCHED BY SOURCE may reference target "
                f"columns only (no s.*): {bad}"
            )
    if bs_active:
        # a by-source clause can touch rows in ANY file
        touched = list(all_files)
    else:
        touched_files = [
            _relativize(p, snap.table_path) for p in _touched_abs
        ]
        by_path = {f.path: f for f in all_files}
        touched = [by_path[p] for p in touched_files]

    if strategy == "auto":
        # Cost model: copy-on-write moves every touched byte; the DV
        # path costs matched rows plus a fixed encode round-trip.
        # Prefer DVs once the rewrite would move real data. (Both
        # strategies preserve stable row ids on row-tracked tables:
        # dv keeps physical files; cow persists ids through the
        # materialized column.)
        strategy = (
            "dv"
            if sum(f.size for f in touched) >= DV_MERGE_THRESHOLD_BYTES
            else "cow"
        )

    from deltalake_datafusion_spark.delta.cdf import (
        CHANGE_TYPE_COL as _CT,
        cdf_enabled,
        stage_cdc,
    )

    _cdf_on = cdf_enabled(snap.metadata.configuration)
    cdc_parts: list = []
    # Generated columns (delta.generationExpression): recomputed on
    # every rewritten/inserted row unless the clause assigns them
    # explicitly — an UPDATE of a base column must never leave a stale
    # generated value, and an INSERT without the column must compute
    # it, matching delta-spark MERGE semantics.
    _gen_exprs = {
        f.name: f.metadata["delta.generationExpression"]
        for f in logical.fields
        if f.metadata and "delta.generationExpression" in f.metadata
    }

    def _regen(df_, skip=()):
        for c, e in _gen_exprs.items():
            if c not in skip:
                df_ = df_.withColumn(
                    c, F.expr(e).cast(logical[c].dataType)
                )
        return df_

    # Rewritten content of touched files (cow) / DV soft deletes (dv).
    new_parts = []
    dv_enc = None
    if touched:
        if bs_active:
            tf = target
        else:
            tf = target.join(
                matched.select("__file_path").distinct(),
                "__file_path",
                "left_semi",
            )
        m = matched.select(
            "__file_path", "__row_index", "__s___matched",
            *[f"__s_{c}" for c in source.columns],
        )
        # NOTE: without strict=True, a source with multiple rows
        # matching one target row duplicates that row (ANSI MERGE
        # errors; see MergeCardinalityError above).
        joined = tf.join(m, ["__file_path", "__row_index"], "left")
        if _cdf_on or strategy == "dv":
            # the join feeds the rewrite/DV rowmeta AND the cdc
            # pre/post images — persist once instead of recomputing it
            joined = persist(joined)
        # Evolved columns are absent from the target scan: back-fill
        # typed nulls so every downstream select over the (possibly
        # evolved) logical schema resolves; SET/INSERT overwrite them.
        for _f in logical.fields:
            if _f.name not in joined.columns:
                joined = joined.withColumn(
                    _f.name, F.lit(None).cast(_f.dataType)
                )
        import re as _re
        from functools import reduce as _reduce
        from operator import or_ as _or

        def _rw_set(e):
            # SET / condition expressions reference source cols as
            # s.<col> and target cols as t.<col> (or plain names);
            # in `joined` those live as __s_<col> / <col>
            return _re.sub(
                r"\bt\.(\w+)", r"\1", _re.sub(r"\bs\.(\w+)", r"__s_\1", e)
            )

        is_matched = F.col("__s___matched").isNotNull()
        # Ordered clause firing (Delta multi-clause MERGE): per row the
        # FIRST clause whose condition holds fires; null cond = false
        # (SQL 3VL); a conditionless clause always fires for its branch.
        m_fire: list = []
        _prev = F.lit(False)
        for cl in m_clauses:
            c = cl.get("condition")
            cc = (
                F.coalesce(F.expr(_rw_set(c)), F.lit(False))
                if c
                else F.lit(True)
            )
            f = is_matched & ~_prev & cc
            m_fire.append(f)
            _prev = _prev | f
        clause_matched = _prev  # any matched clause fired

        bs_fire: list = []
        _prevb = F.lit(False)
        for cl in bs_clauses:
            c = cl.get("condition")
            cc = (
                F.coalesce(F.expr(c), F.lit(False)) if c else F.lit(True)
            )
            f = ~is_matched & ~_prevb & cc
            bs_fire.append(f)
            _prevb = _prevb | f
        bs_any = _prevb

        def _group_sets(sets):
            """Split SET targets into top-level and nested (dotted)
            assignments grouped by their base struct column."""
            top: dict[str, str] = {}
            nst: dict[str, list[tuple[str, str]]] = {}
            for k, v in sets.items():
                if "." in k:
                    b, rest = k.split(".", 1)
                    nst.setdefault(b, []).append((rest, v))
                else:
                    top[k] = v
            both = sorted(set(top) & set(nst))
            if both:
                raise ValueError(
                    f"MERGE UPDATE assigns both column(s) {both} and "
                    "their nested fields — pick one level"
                )
            unknown = sorted(
                (set(top) | set(nst)) - set(logical.fieldNames())
            )
            if unknown:
                raise ValueError(
                    f"MERGE UPDATE assigns unknown column(s) {unknown}"
                )
            return top, nst

        def _set_expr(c, top, nst):
            """New value of column ``c`` under one clause's SET map —
            implicit cast to the declared type (delta-spark assignment
            semantics); nested targets rebuild the struct via
            withField, every RHS over the OLD row."""
            if c in top:
                return F.expr(_rw_set(top[c])).cast(logical[c].dataType)
            e = F.col(c)
            for rest, rhs in nst.get(c, ()):
                ft = _nested_field_type(logical, f"{c}.{rest}")
                rc = F.expr(_rw_set(rhs))
                e = e.withField(rest, rc.cast(ft) if ft else rc)
            return e

        def _clause_repl(fire, sets):
            """Replacement copy of clause-fired rows (dv strategy):
            simultaneous assignment over the OLD row; stable row id
            kept, commit version restamped to this commit."""
            top, nst = _group_sets(sets)
            repl = joined.filter(fire).select(
                *[
                    _set_expr(c, top, nst).alias(c)
                    for c in logical.fieldNames()
                ],
                *([F.col("__old_row_id")] if rt_mat else []),
                *(
                    [F.lit(None).cast("long").alias("__old_row_commit")]
                    if rt_ver else []
                ),
            )
            return _regen(repl, skip=set(top))

        if strategy == "dv":
            # Deletion-vector strategy: clause-fired rows (matched and
            # by-source) are soft-deleted in place; only replacement /
            # insert rows are written. Cost ∝ changed rows, never
            # touched files. Rows firing no clause are left untouched.
            to_clear = clause_matched | bs_any
            dv_enc = _dv_soft_delete_actions(
                spark,
                snap,
                joined.filter(to_clear).select(
                    "__file_path", "__row_index"
                ),
                touched,
                fs_for(snap.table_path, spark),
            )
            for k, cl in enumerate(m_clauses):
                if cl.get("delete"):
                    if _cdf_on:
                        cdc_parts.append(
                            joined.filter(m_fire[k])
                            .select(*logical.fieldNames())
                            .withColumn(_CT, F.lit("delete"))
                        )
                    continue
                repl = _clause_repl(m_fire[k], cl["update"])
                new_parts.append(repl)
                if _cdf_on:
                    cdc_parts.append(
                        joined.filter(m_fire[k])
                        .select(*logical.fieldNames())
                        .withColumn(_CT, F.lit("update_preimage"))
                    )
                    cdc_parts.append(
                        repl.select(*logical.fieldNames()).withColumn(
                            _CT, F.lit("update_postimage")
                        )
                    )
            for k, cl in enumerate(bs_clauses):
                if cl.get("delete"):
                    if _cdf_on:
                        cdc_parts.append(
                            joined.filter(bs_fire[k])
                            .select(*logical.fieldNames())
                            .withColumn(_CT, F.lit("delete"))
                        )
                    continue
                bs_repl = _clause_repl(bs_fire[k], cl["update"])
                new_parts.append(bs_repl)
                if _cdf_on:
                    cdc_parts.append(
                        joined.filter(bs_fire[k])
                        .select(*logical.fieldNames())
                        .withColumn(_CT, F.lit("update_preimage"))
                    )
                    cdc_parts.append(
                        bs_repl.select(*logical.fieldNames()).withColumn(
                            _CT, F.lit("update_postimage")
                        )
                    )
        else:
            # Copy-on-write: one projection applies every update clause
            # as a per-column CASE chain (fires are mutually exclusive),
            # evaluated against the OLD row — simultaneous assignment,
            # so `SET a = t.b, b = t.a` swaps. Delete-clause rows are
            # filtered out; everything else passes through.
            del_fires = [
                m_fire[k]
                for k, cl in enumerate(m_clauses)
                if cl.get("delete")
            ] + [
                bs_fire[k]
                for k, cl in enumerate(bs_clauses)
                if cl.get("delete")
            ]
            upd_all = [
                (m_fire[k], cl["update"])
                for k, cl in enumerate(m_clauses)
                if cl.get("update")
            ] + [
                (bs_fire[k], cl["update"])
                for k, cl in enumerate(bs_clauses)
                if cl.get("update")
            ]
            survivors = joined
            if del_fires:
                any_del = _reduce(_or, del_fires)
                if _cdf_on:
                    cdc_parts.append(
                        joined.filter(any_del)
                        .select(*logical.fieldNames())
                        .withColumn(_CT, F.lit("delete"))
                    )
                survivors = survivors.filter(~any_del)
            any_upd = (
                _reduce(_or, [f for f, _ in upd_all]) if upd_all else None
            )
            if upd_all:
                if _cdf_on:
                    cdc_parts.append(
                        survivors.filter(any_upd)
                        .select(*logical.fieldNames())
                        .withColumn(_CT, F.lit("update_preimage"))
                    )
                new_cols = {}
                per_clause = []
                affected: set[str] = set()
                for f, u in upd_all:
                    top, nst = _group_sets(u)
                    per_clause.append((f, top, nst))
                    affected |= set(top) | set(nst)
                for c in affected:
                    col_expr = F.col(c)
                    for f, top, nst in reversed(per_clause):
                        if c in top or c in nst:
                            col_expr = F.when(
                                f, _set_expr(c, top, nst)
                            ).otherwise(col_expr)
                    new_cols[c] = col_expr
                survivors = survivors.select(
                    *[
                        new_cols[c].alias(c) if c in new_cols else F.col(c)
                        for c in survivors.columns
                    ]
                )
                # recompute generated columns BEFORE the postimage
                # capture so CDF carries fresh values; explicit SET of
                # generated cols is rejected for every clause kind
                # (matched AND by-source) above, so nothing is skipped
                survivors = _regen(survivors)
                if _cdf_on:
                    cdc_parts.append(
                        survivors.filter(any_upd)
                        .select(*logical.fieldNames())
                        .withColumn(_CT, F.lit("update_postimage"))
                    )
            # Row tracking: pass-through rows keep id AND last-modified
            # version; clause-updated rows keep id, take this commit's
            # version (null materialized → file default)
            ver_cols = []
            if rt_ver:
                old_ver = F.col("__old_row_commit")
                if any_upd is not None:
                    old_ver = F.when(
                        any_upd, F.lit(None).cast("long")
                    ).otherwise(old_ver)
                ver_cols = [old_ver.alias("__old_row_commit")]
            new_parts.append(
                survivors.select(
                    *logical.fieldNames(),
                    *([F.col("__old_row_id")] if rt_mat else []),
                    *ver_cols,
                )
            )

    _ident_assigned: dict[str, int] = {}
    if nm_clauses:
        import re as _re2

        from deltalake_datafusion_spark.delta.identity import (
            assign_identity,
            identity_columns,
        )
        from deltalake_datafusion_spark.delta.writer import DeltaWriteError

        anti = s.join(t, cond, "left_anti")
        id_cols = identity_columns(logical)
        # Ordered WHEN NOT MATCHED clauses: per source row the first
        # clause whose condition holds inserts it (null cond = false);
        # rows firing no clause are not inserted.
        frames: list = []  # (projected frame, supplied column set)
        _prev_f = F.lit(False)
        for cl in nm_clauses:
            c = cl.get("condition")
            if c:
                nc = _re2.sub(r"\bs\.(\w+)", r"\1", c)
                fc = F.coalesce(F.expr(nc), F.lit(False))
            else:
                fc = F.lit(True)
            fire = ~_prev_f & fc
            _prev_f = _prev_f | fire
            frame = anti.filter(fire)
            vals_map = cl.get("values")
            if vals_map is not None:
                # INSERT (cols) VALUES (exprs): explicit column mapping
                # — expressions over s.*; unassigned columns take null
                # (then defaults / generated / identity fill in below)
                unknown = sorted(
                    set(vals_map) - set(logical.fieldNames())
                )
                if unknown:
                    raise ValueError(
                        f"MERGE INSERT assigns unknown column(s) {unknown}"
                    )
                vals = {
                    c2: _re2.sub(r"\bs\.(\w+)", r"\1", e)
                    for c2, e in vals_map.items()
                }
                ins_f = frame.select(
                    *[
                        (F.expr(vals[c2]) if c2 in vals else F.lit(None))
                        .cast(logical[c2].dataType)
                        .alias(c2)
                        for c2 in logical.fieldNames()
                    ]
                )
                supplied = set(vals)
            else:
                ins_f = frame.select(
                    *[
                        (F.col(c2) if c2 in source.columns else F.lit(None))
                        .cast(logical[c2].dataType)
                        .alias(c2)
                        for c2 in logical.fieldNames()
                    ]
                )
                supplied = set(source.columns)
            # Column DEFAULT values (allowColumnDefaults): a column
            # the clause doesn't assign takes its declared default
            # instead of null (delta-spark MERGE INSERT semantics);
            # applied before regen so generated expressions see the
            # defaulted base values.
            for f2 in logical.fields:
                if (
                    f2.name not in supplied
                    and f2.name not in _gen_exprs
                    and f2.metadata
                    and "CURRENT_DEFAULT" in f2.metadata
                ):
                    ins_f = ins_f.withColumn(
                        f2.name,
                        F.expr(f2.metadata["CURRENT_DEFAULT"]).cast(
                            f2.dataType
                        ),
                    )
            # generated columns not explicitly assigned are computed,
            # not inserted as null; SUPPLIED values are validated
            # against the expression (Delta writer semantics — an
            # inconsistent stored value would poison generated-column
            # partition pruning)
            ins_f = _regen(ins_f, skip=supplied)
            _validate_generated_values(
                ins_f, logical, supplied, "MERGE INSERT"
            )
            for c2, cfg in id_cols.items():
                if c2 in supplied and not cfg["allow_explicit"]:
                    raise DeltaWriteError(
                        f"identity column {c2!r} is GENERATED ALWAYS — "
                        "MERGE INSERT may not supply explicit values"
                    )
            frames.append((ins_f, supplied))
        # identity columns absent from a clause's assignments are
        # minted from the high-water mark; the hwm advance rides this
        # commit's metaData — a concurrent advance fails conflict
        # validation instead of duplicating ids. With clauses that
        # mix explicit and minted values, only the rows of
        # non-supplying clauses are minted (block ids may leave gaps).
        for c2 in id_cols:
            for i, (ins_f, supplied) in enumerate(frames):
                frames[i] = (
                    ins_f.withColumn(
                        f"__mint_{c2}", F.lit(c2 not in supplied)
                    ),
                    supplied,
                )
        inserts = frames[0][0]
        for ins_f, _sup in frames[1:]:
            inserts = inserts.unionByName(ins_f)
        for c2, cfg in id_cols.items():
            minting = [c2 not in sup for _f, sup in frames]
            if not any(minting):
                inserts = inserts.drop(f"__mint_{c2}")
                continue
            base = (
                cfg["hwm"] + cfg["step"]
                if cfg["hwm"] is not None else cfg["start"]
            )
            if all(minting):
                inserts = assign_identity(
                    inserts, c2, base, cfg["step"]
                )
            else:
                minted = (
                    F.lit(base)
                    + F.lit(cfg["step"]) * F.monotonically_increasing_id()
                ).cast("long")
                inserts = inserts.withColumn(
                    c2,
                    F.when(F.col(f"__mint_{c2}"), minted).otherwise(
                        F.col(c2)
                    ),
                )
            inserts = inserts.drop(f"__mint_{c2}")
            _ident_assigned[c2] = cfg["step"]
        ins = inserts
        if rt_mat:
            ins = ins.withColumn("__old_row_id", F.lit(None).cast("long"))
        if rt_ver:
            ins = ins.withColumn(
                "__old_row_commit", F.lit(None).cast("long")
            )
        new_parts.append(ins)
        if _cdf_on:
            cdc_parts.append(inserts.withColumn(_CT, F.lit("insert")))

    actions: list[dict] = [md_action] if md_action is not None else []
    if dv_enc is not None:
        # DV strategy: only files that actually lost rows are touched
        actions.extend(dv_enc["actions"])
        actions.extend(_remove_action(f) for f in dv_enc["full_removes"])
        modified_paths = {f.path for f, _ in dv_enc["owners"]} | {
            f.path for f in dv_enc["full_removes"]
        }
        n_modified = len(modified_paths)
    else:
        actions.extend(_remove_action(f) for f in touched)
        modified_paths = {f.path for f in touched}
        n_modified = len(touched)
    if new_parts:
        from deltalake_datafusion_spark.delta.writer import write_data_files

        out = new_parts[0]
        for p in new_parts[1:]:
            out = out.unionByName(p)
        extra = []
        if rt_mat:
            out = out.withColumnRenamed("__old_row_id", rt_mat)
            extra.append(rt_mat)
        if rt_ver:
            out = out.withColumnRenamed("__old_row_commit", rt_ver)
            extra.append(rt_ver)
        adds = write_data_files(
            spark, out, snap.table_path, logical, snap.partition_columns,
            snap.metadata.configuration, snap.column_mapping_mode,
            extra_cols=extra,
        )
        actions.extend(adds)
        if _ident_assigned:
            # advance the minted columns' high-water marks from the
            # written footer stats, riding this commit's metaData
            import json as _json

            from deltalake_datafusion_spark.delta.identity import (
                advance_hwm_from_adds,
            )
            from deltalake_datafusion_spark.delta.writer import (
                _metadata_action as _md_act,
            )

            new_schema, advanced = advance_hwm_from_adds(
                logical, adds, _ident_assigned
            )
            if advanced:
                if md_action is not None:
                    md_action["metaData"]["schemaString"] = _json.dumps(
                        new_schema.jsonValue()
                    )
                else:
                    md_action = _md_act(
                        new_schema,
                        snap.partition_columns,
                        dict(snap.metadata.configuration),
                        snap.metadata.id,
                        snap.metadata.name,
                    )
                    md_action["metaData"]["createdTime"] = (
                        snap.metadata.created_time
                    )
                    md_action["metaData"]["description"] = (
                        snap.metadata.description
                    )
                    actions.insert(0, md_action)

    if cdc_parts:
        cdc_df = cdc_parts[0]
        for p in cdc_parts[1:]:
            cdc_df = cdc_df.unionByName(p)
        actions.extend(stage_cdc(spark, snap, cdc_df))
    if extra_actions:
        actions.extend(extra_actions)

    from deltalake_datafusion_spark.delta.writer import (
        ConcurrentModificationError,
        commit_with_retries,
    )

    # MERGE's join reads the whole target table (any target row can
    # match), so every concurrent data append is a read conflict.
    # Guarded watermark appIds are conflicts too: a concurrent
    # watermark-only commit carries no add/remove for the predicate
    # check to see, yet invalidates this merge's frozen delta — the
    # restart re-validates the guards against the advanced ledger
    # (ADVICE r11).
    try:
        version = commit_with_retries(
            spark, snap.table_path, snap, actions, "MERGE",
            modified_paths, read_predicate="true",
            conflict_txn_appids={
                g["appId"] for g in (txn_guards or [])
            },
            operation_metrics={
                "numTargetFilesRewritten": str(n_modified)
            },
        )
    except ConcurrentModificationError:
        # this attempt's staged data files will never be referenced —
        # delete them before merge_delta restarts the transaction
        # from a fresh snapshot (DV re-adds of existing files are
        # excluded; DV sidecars are tiny and left for VACUUM)
        _cleanup_staged_adds(spark, snap.table_path, actions)
        raise
    _dml_finish(spark, table_path, distributed=_planned is not None)
    return {
        "files_rewritten": n_modified,
        "version": version,
    }


def _validate_partition_predicate(snap, predicate: str | None):
    """``OPTIMIZE … WHERE`` predicates may reference partition columns
    only (delta-spark's rule — a data predicate can't soundly scope a
    rewrite). Returns the parsed predicate (None for no predicate)."""
    if not predicate:
        return None
    from deltalake_datafusion_spark.delta.predicates import (
        And, Cmp, InList, IsNull, Not, Or, try_parse_predicate,
    )

    pred = try_parse_predicate(predicate)
    if pred is None:
        raise ValueError(
            f"OPTIMIZE WHERE predicate not parseable: {predicate!r}"
        )
    part = set(snap.partition_columns)

    def cols(node):
        if isinstance(node, (And, Or)):
            return [c for ch in node.children for c in cols(ch)]
        if isinstance(node, Not):
            return cols(node.child)
        if isinstance(node, (Cmp, IsNull, InList)):
            return [node.col.name]
        return ["?unsupported?"]

    bad = sorted(set(cols(pred)) - part)
    if bad:
        raise ValueError(
            "OPTIMIZE WHERE may reference partition columns only "
            f"(got {bad}; partition columns: {sorted(part)})"
        )
    return pred


def _partition_scope_files(snap, predicate: str | None):
    """Resolve an ``OPTIMIZE … WHERE`` scope driver-side: validate the
    predicate, then select files by exact partition-value evaluation."""
    if not predicate:
        return list(snap.files)
    _validate_partition_predicate(snap, predicate)
    l2p = _logical_to_physical_map(snap.schema)
    return prune_files(
        snap.files, predicate, snap.schema, snap.partition_columns, l2p
    )


def _cluster_by_zvalue(df, zcols: list[str], n_out: int):
    """Cluster ``df`` by a true Z-order value over ``zcols``: each
    column is quantile-bucketed into ``2^BITS`` ranks (256 for up to
    7 columns, fewer for wider ZORDER so the interleaved value stays
    below int64's sign bit; one sampled ``approxQuantile`` pass —
    skew-immune, unlike equi-width), the
    rank bits are interleaved into a single Z-value (Arrow-batched
    ``np.searchsorted``), and the data is range-partitioned + sorted
    on it. Every ordered column ends with bounded per-file ranges, so
    stats skipping works on all of them — lexicographic sort gives
    that only to the first. Falls back to lexicographic for column
    types without an order-preserving numeric projection."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import (
        ByteType, DateType, DecimalType, DoubleType, FloatType,
        IntegerType, LongType, ShortType, StringType, TimestampType,
    )

    numeric_types = (
        ByteType, ShortType, IntegerType, LongType, FloatType,
        DoubleType, DecimalType,
    )

    def proj(c):
        dt = df.schema[c].dataType
        if isinstance(dt, numeric_types):
            return F.col(f"`{c}`").cast("double")
        if isinstance(dt, TimestampType):
            return F.col(f"`{c}`").cast("double")
        if isinstance(dt, DateType):
            return F.datediff(F.col(f"`{c}`"), F.lit("1970-01-01")).cast(
                "double"
            )
        if isinstance(dt, StringType):
            # Order-preserving numeric projection of the first 6 UTF-8
            # bytes: hex the prefix, right-pad the HEX with '0' (≡
            # zero-padding the bytes, so shorter strings sort below
            # longer ones sharing their prefix — byte-lexicographic
            # order survives), base-16 → integer. 48 bits fit a double
            # exactly; prefix collisions only coarsen the quantile
            # buckets, never reorder them.
            h = F.rpad(
                F.hex(
                    F.substring(F.encode(F.col(f"`{c}`"), "utf-8"), 1, 6)
                ),
                12,
                "0",
            )
            return F.conv(h, 16, 10).cast("double")
        return None

    projs = [proj(c) for c in zcols]
    if any(p is None for p in projs):  # non-numeric column: fall back
        return df.repartitionByRange(
            n_out, *[f"`{c}`" for c in zcols]
        ).sortWithinPartitions(*[f"`{c}`" for c in zcols])

    k = len(zcols)
    BITS = _zorder_bits(k)
    nq = (1 << BITS) - 1
    probs = [i / (nq + 1) for i in range(1, nq + 1)]
    tmp_names = [f"__z_{i}" for i in range(len(zcols))]
    numeric = df.select(
        *[p.alias(n) for p, n in zip(projs, tmp_names)]
    )
    bounds = numeric.stat.approxQuantile(tmp_names, probs, 0.01)
    bl = [np.asarray(b, dtype=np.float64) for b in bounds]

    def _zfn(*cols):
        z = np.zeros(len(cols[0]), dtype=np.int64)
        for i, s in enumerate(cols):
            v = s.to_numpy(dtype=np.float64, na_value=np.nan)
            b = np.searchsorted(bl[i], v, side="right").astype(np.int64)
            b[np.isnan(v)] = 0  # nulls cluster at the low end
            for bit in range(BITS):
                z |= ((b >> bit) & 1) << (bit * k + i)
        return pd.Series(z)

    zvalue = pandas_udf(_zfn, "long")

    return (
        df.withColumn("__zval", zvalue(*projs))
        .repartitionByRange(n_out, F.col("__zval"))
        .sortWithinPartitions("__zval")
        .drop("__zval")
    )


def parse_byte_size(s: str) -> int:
    """``delta.targetFileSize``-style byte size: plain bytes or a
    b/kb/mb/gb-suffixed value (delta-spark accepts both)."""
    t = str(s).strip().lower()
    for suf, mul in (
        ("gb", 1024**3), ("mb", 1024**2), ("kb", 1024), ("b", 1)
    ):
        if t.endswith(suf):
            return int(float(t[: -len(suf)].strip()) * mul)
    return int(t)


def optimize_delta(
    spark,
    table_path: str,
    target_file_size: int | None = None,
    small_file_threshold: int | None = None,
    zorder_by: list[str] | None = None,
    purge: bool = False,
    predicate: str | None = None,
    only_partitions: list[dict] | None = None,
    max_restarts: int = 3,
) -> dict:
    """OPTIMIZE (self-healing: a concurrent DML touching the files
    being compacted restarts the rewrite against a fresh snapshot —
    see :func:`_restart_on_conflict`; disjoint commits retry without
    re-planning). ``target_file_size`` defaults to the table's
    ``delta.targetFileSize`` property when set (delta-spark), else
    128 MiB. See :func:`_optimize_attempt` for plan semantics."""
    if target_file_size is None:
        from deltalake_datafusion_spark.delta.snapshot import (
            load_snapshot as _ls,
        )

        prop = _ls(
            table_path, spark=spark, with_files=False
        ).metadata.configuration.get("delta.targetFileSize")
        target_file_size = (
            parse_byte_size(prop) if prop else 128 * 1024 * 1024
        )
    return _with_field_id_restore(
        spark,
        lambda: _restart_on_conflict(
            lambda: _optimize_attempt(
                spark, table_path, target_file_size, small_file_threshold,
                zorder_by, purge, predicate, only_partitions,
            ),
            max_restarts,
        ),
    )


def _optimize_attempt(
    spark,
    table_path: str,
    target_file_size: int = 128 * 1024 * 1024,
    small_file_threshold: int | None = None,
    zorder_by: list[str] | None = None,
    purge: bool = False,
    predicate: str | None = None,
    only_partitions: list[dict] | None = None,
) -> dict:
    """OPTIMIZE: bin-pack small files into ~target_file_size files,
    optionally clustering rows by ``zorder_by`` columns
    (range-repartition + sort-within-partitions — the Spark-idiomatic
    multi-dimensional clustering; gives the same stats-tightening
    effect as Z-order interleaving for the common 1-2 column case).
    Rewrites carry dataChange=false so streaming readers skip them.

    ``predicate`` scopes the rewrite to matching partitions
    (delta-spark ``OPTIMIZE … WHERE``; partition columns only) — a
    100 TB table compacts one hot partition without touching the rest.

    ``purge=True`` is Delta's ``REORG TABLE … APPLY (PURGE)``: rewrite
    exactly the files that carry deletion vectors (whatever their
    size), materializing the soft deletes so the DV data can be
    vacuumed; other files are untouched.

    Past the distributed-planner threshold, victim selection runs as
    ONE Spark job (log replay + scope pruning + the victim condition —
    size/DV/cluster-tag — all executor-side) and only actual victims
    reach the driver: a steady-state OPTIMIZE on a 1e6-file table
    collects ~nothing, the same cutover the read and DML paths make."""
    from deltalake_datafusion_spark.delta import scan as scanmod

    distributed = (
        scanmod.estimate_log_actions(table_path, spark)
        > scanmod.SPARK_PLANNER_FILE_THRESHOLD
    )
    snap = load_snapshot(table_path, spark=spark, with_files=not distributed)
    check_writable(snap)
    threshold = small_file_threshold or target_file_size // 2
    from deltalake_datafusion_spark.delta.writer import clustering_columns

    cluster_cols = clustering_columns(snap)
    incremental_cluster = False
    if zorder_by is None and not purge:
        # Liquid clustering: a table with a delta.clustering domain
        # clusters on OPTIMIZE by its declared columns (delta-spark
        # OPTIMIZE-on-clustered-table semantics). INCREMENTAL: files
        # written by a previous clustered OPTIMIZE carry a
        # clusteredBy tag; only untagged (new/rewritten-elsewhere)
        # files are re-clustered — delta-spark's liquid behavior,
        # where a steady-state OPTIMIZE on an unchanged table
        # rewrites nothing. OPTIMIZE FULL (explicit zorder_by)
        # bypasses the skip and re-clusters everything — but its
        # outputs are tagged too, so the next incremental run skips
        # them.
        zorder_by = cluster_cols or None
        incremental_cluster = zorder_by is not None
    elif zorder_by and cluster_cols and list(zorder_by) != list(cluster_cols):
        from deltalake_datafusion_spark.delta.writer import DeltaWriteError

        # delta-spark: ZORDER BY is rejected on clustered tables —
        # the clustering declaration owns the layout; re-declare via
        # ALTER TABLE ... CLUSTER BY instead (OPTIMIZE FULL re-clusters
        # by the declared columns and is allowed).
        raise DeltaWriteError(
            f"OPTIMIZE ... ZORDER BY {list(zorder_by)} is not allowed on "
            f"a table clustered by {cluster_cols}; use ALTER TABLE ... "
            "CLUSTER BY to change the clustering columns"
        )
    cluster_tag: dict[str, str] | None = (
        {
            "clusteringProvider": "liquidClustering",
            "clusteredBy": ",".join(zorder_by),
        }
        if zorder_by and list(zorder_by) == list(cluster_cols)
        else None
    )
    if distributed:
        _validate_partition_predicate(snap, predicate)
        if purge:
            cond = F.col("deletionVector.storageType").isNotNull()
        elif incremental_cluster:
            cond = (
                F.coalesce(
                    F.col("tags").getItem("clusteredBy"), F.lit("")
                )
                != F.lit(cluster_tag["clusteredBy"])
            )
        elif zorder_by:
            cond = None
        else:
            cond = F.col("size") < F.lit(threshold)
        victims = scanmod.collect_planned_files(
            spark, table_path, predicate, where=cond
        )
        if only_partitions is not None:
            victims = [
                f for f in victims if f.partition_values in only_partitions
            ]
        # observability only (numFilesSkipped): in-scope count, one
        # metadata-scale job
        scope_count = (
            scanmod.scan_files_spark(spark, table_path, predicate).count()
            if cond is not None
            else len(victims)
        )
    else:
        scope = _partition_scope_files(snap, predicate)
        if only_partitions is not None:
            # auto-compaction scope: exactly the partitions the write
            # touched
            scope = [
                f for f in scope if f.partition_values in only_partitions
            ]
        if purge:
            victims = [f for f in scope if f.dv is not None]
        elif incremental_cluster:
            victims = [
                f
                for f in scope
                if (f.tags or {}).get("clusteredBy")
                != cluster_tag["clusteredBy"]
            ]
        elif zorder_by:
            victims = list(scope)  # explicit ZORDER rewrites all in scope
        else:
            victims = [f for f in scope if f.size < threshold]
        scope_count = len(scope)
    if (purge or incremental_cluster) and not victims:
        return {"files_compacted": 0, "files_added": 0, "version": snap.version}
    if not purge and not incremental_cluster and not zorder_by and len(victims) < 2:
        return {"files_compacted": 0, "files_added": 0, "version": snap.version}

    # group victims by partition tuple; rewrite per partition
    groups: dict[tuple, list] = defaultdict(list)
    for f in victims:
        groups[tuple(sorted(f.partition_values.items()))].append(f)

    from deltalake_datafusion_spark.delta.writer import (
        physical_schema as _ps,
    )

    logical = snap.schema
    phys = _ps(logical)
    part_cols = snap.partition_columns
    part_idx = {logical.fieldNames().index(p) for p in part_cols}
    data_schema = StructType(
        [f for i, f in enumerate(phys.fields) if i not in part_idx]
    )
    # Row-tracking tables persist each rewritten row's stable id AND
    # last-modified commit version in the materialized columns (Delta
    # rowTracking spec) — both survive compaction (rows unmodified);
    # readers coalesce them over baseRowId + row_index / the file
    # default.
    rt_mat = _materialized_row_id_col(snap)
    rt_ver = _materialized_row_ver_col(snap)
    rt_cols = [c for c in (rt_mat, rt_ver) if c]
    # Mode-'id' tables resolve parquet columns by FIELD ID (the files
    # may carry alien names, e.g. Iceberg-converted) — annotate the
    # read schema and flip Spark's fieldId reader, exactly like the
    # scan path; rewritten files are stamped with the same ids below.
    id_mode = snap.column_mapping_mode == "id"
    if id_mode:
        from deltalake_datafusion_spark.delta.writer import (
            physical_schema_field_ids,
        )

        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        fid = physical_schema_field_ids(logical)
        data_schema = StructType(
            [f for i, f in enumerate(fid.fields) if i not in part_idx]
        )
    read_schema = (
        StructType(
            data_schema.fields
            + [StructField(c, LongType()) for c in rt_cols]
        )
        if rt_cols else data_schema
    )
    from deltalake_datafusion_spark.delta.writer import write_data_files

    def _rewrite_group(key, group) -> list[dict]:
        total = sum(f.size for f in group)
        n_out = max(1, -(-total // target_file_size))
        paths = [os.path.join(snap.table_path, f.path) for f in group]
        df = spark.read.schema(read_schema).parquet(*paths)
        if any(f.dv is not None for f in group) or rt_cols:
            from deltalake_datafusion_spark.delta.deletion_vectors import (
                dv_row_filter,
            )
            from deltalake_datafusion_spark.delta.scan import (
                FileKeys,
                _inject_row_ids,
            )

            df = df.select(
                "*",
                F.col("_metadata.row_index").alias("__row_index"),
                F.col("_metadata.file_path").alias("__file_path"),
            )
            keys = FileKeys(df, snap.table_path, group)
            # Materialize deletion vectors during the rewrite — never
            # resurrect deleted rows; the compacted files carry no DV.
            df = dv_row_filter(spark, snap, keys, df)
            if rt_cols:
                df = _inject_row_ids(
                    spark, keys, df, rt_mat, rt_ver,
                    id_col=rt_mat, ver_out=rt_ver,
                )
            df = df.drop("__row_index", "__file_path")
        if zorder_by:
            zcols = []
            for zc in zorder_by:
                li = logical.fieldNames().index(zc)
                zcols.append(phys.fields[li].name)
            if len(zcols) >= 2:
                # True multi-dimensional Z-order: lexicographic
                # range-sort gives the 2nd+ columns no skipping power
                # (their per-file ranges span the domain). Interleave
                # quantile-bucket bits into one Z-value and cluster on
                # it — every ordered column gets bounded per-file
                # ranges.
                df = _cluster_by_zvalue(df, zcols, n_out)
            else:
                df = df.repartitionByRange(
                    n_out, *zcols
                ).sortWithinPartitions(*zcols)
        else:
            df = df.coalesce(n_out)

        group_actions = write_data_files(
            spark, df, snap.table_path, logical, part_cols,
            snap.metadata.configuration, snap.column_mapping_mode,
            extra_cols=rt_cols, data_change=False, tags=cluster_tag,
            partition_values=dict(key),
        )
        for f in group:
            a = _remove_action(f)
            a["remove"]["dataChange"] = False
            group_actions.append(a)
        return group_actions

    # Per-partition rewrites are independent Spark jobs — submit them
    # from a driver-side thread pool so a many-partition OPTIMIZE
    # saturates the cluster instead of serializing one partition at a
    # time (Spark job submission is thread-safe; every group writes to
    # its own staging dir).
    actions: list[dict] = []
    items = list(groups.items())
    if len(items) > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(8, len(items))) as pool:
            for part in pool.map(
                lambda kv: _rewrite_group(kv[0], kv[1]), items
            ):
                actions.extend(part)
    else:
        for key, group in items:
            actions.extend(_rewrite_group(key, group))
    n_added = sum(1 for a in actions if a.get("add"))

    from deltalake_datafusion_spark.delta.writer import (
        ConcurrentModificationError,
        commit_with_retries,
    )

    try:
        version = commit_with_retries(
            spark, snap.table_path, snap, actions,
            "REORG" if purge else "OPTIMIZE",
            {f.path for f in victims},
            operation_metrics={
                # incremental clustering observability: how many
                # in-scope files were already clustered and skipped
                "numFilesSkipped": str(scope_count - len(victims)),
            },
        )
    except ConcurrentModificationError:
        _cleanup_staged_adds(spark, snap.table_path, actions)
        raise
    _dml_finish(spark, table_path, distributed)
    return {
        "files_compacted": len(victims),
        "files_added": n_added,
        "version": version,
    }


def restore_delta(
    spark,
    table_path: str,
    version: int | None = None,
    timestamp_as_of: int | None = None,
) -> dict:
    """RESTORE TABLE ... TO VERSION / TIMESTAMP: make the table's live
    file set equal the target version's, as a new commit (history
    preserved — time travel to the pre-restore tip still works)."""
    if version is None:
        if timestamp_as_of is None:
            raise ValueError("restore needs version or timestamp_as_of")
        from deltalake_datafusion_spark.delta.snapshot import (
            resolve_version_at_timestamp,
        )

        version = resolve_version_at_timestamp(table_path, timestamp_as_of, spark)
    current = load_snapshot(table_path, spark=spark)
    check_writable(current)
    target = load_snapshot(table_path, version=version, spark=spark)
    cur_keys = {(f.path, f.dv_id): f for f in current.files}
    tgt_keys = {(f.path, f.dv_id): f for f in target.files}

    # delta-spark's missing-file guard: a VACUUM may have reclaimed
    # files the target version references — restoring would commit a
    # table whose reads fail later. Verify every file being RE-ADDED
    # still exists BEFORE committing (files already live in the
    # current version need no check).
    readds = [f for key, f in tgt_keys.items() if key not in cur_keys]
    fs = fs_for(table_path, spark)
    missing = [
        f.path
        for f in readds
        if not fs.exists(os.path.join(table_path, f.path))
    ]
    if missing:
        raise FileNotFoundError(
            f"RESTORE to version {version} needs {len(missing)} data "
            f"file(s) already reclaimed (e.g. by VACUUM): "
            f"{missing[:5]}{'…' if len(missing) > 5 else ''}"
        )

    actions: list[dict] = []
    for key, f in cur_keys.items():
        if key not in tgt_keys:
            actions.append(_remove_action(f))
    for key, f in tgt_keys.items():
        if key not in cur_keys:
            actions.append(
                {
                    "add": {
                        "path": _url_encode_path(f.path),
                        "partitionValues": f.partition_values,
                        "size": f.size,
                        "modificationTime": f.modification_time,
                        "dataChange": True,
                        "stats": f.stats,
                        **({"deletionVector": _dv_to_json(f.dv)} if f.dv else {}),
                        **_row_id_fields(f),
                    }
                }
            )
    new_version = current.version + 1
    commit(
        current.table_path, new_version, actions, "RESTORE", spark,
        configuration=current.metadata.configuration,
    )
    return {
        "restored_to": version,
        "files_removed": sum(1 for a in actions if "remove" in a),
        "files_readded": sum(1 for a in actions if "add" in a),
        "version": new_version,
    }


def _scan_with_rowmeta(
    spark, snap, predicate: str | None, files=None,
    row_id_col: str | None = None,
    row_ver_col: str | None = None,
):
    """Candidate scan carrying __row_index/__file_path through the
    logical projection, with deletion vectors applied (shared by
    DELETE/UPDATE/MERGE).

    ``row_id_col`` (the table's materialized row-id column, row
    tracking) additionally surfaces each row's stable id as
    ``__old_row_id`` = coalesce(materialized, baseRowId + row_index),
    so DML rewrites can persist it into replacement files;
    ``row_ver_col`` likewise surfaces ``__old_row_commit`` =
    coalesce(materialized, defaultRowCommitVersion) for rewrites that
    must keep unmodified rows' last-modified versions."""
    logical = snap.schema
    l2p = _logical_to_physical_map(logical)
    if files is not None:
        candidates = files
    elif predicate:
        from deltalake_datafusion_spark.delta.scan import _pruning_predicate

        candidates = prune_files(
            snap.files, _pruning_predicate(snap, predicate), logical,
            snap.partition_columns, l2p,
        )
    else:
        candidates = snap.files
    phys_full = physical_schema(logical)
    part_cols = snap.partition_columns
    part_idx = {logical.fieldNames().index(p) for p in part_cols}
    data_schema = StructType(
        [f for i, f in enumerate(phys_full.fields) if i not in part_idx]
    )
    if snap.column_mapping_mode == "id":
        # resolve parquet columns by FIELD ID (alien file names), same
        # as the scan path and the OPTIMIZE rewrite
        from deltalake_datafusion_spark.delta.writer import (
            physical_schema_field_ids,
        )

        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        fid = physical_schema_field_ids(logical)
        data_schema = StructType(
            [f for i, f in enumerate(fid.fields) if i not in part_idx]
        )
    mat_cols = [c for c in (row_id_col, row_ver_col) if c]
    read_schema = (
        StructType(
            data_schema.fields
            + [StructField(c, LongType()) for c in mat_cols]
        )
        if mat_cols else data_schema
    )
    meta_cols = ["__row_index", "__file_path"] + mat_cols
    if not candidates:
        empty_schema = StructType(
            logical.fields
            + [
                StructField("__row_index", LongType()),
                StructField("__file_path", StringType()),
            ]
            + ([StructField("__old_row_id", LongType())] if row_id_col else [])
            + ([StructField("__old_row_commit", LongType())]
               if row_ver_col else [])
        )
        return spark.createDataFrame([], empty_schema)
    # ONE spark.read over every candidate file — plan size is O(1) in
    # partition count (partition values come from the same broadcast
    # (file → values) map the read path uses), not one union branch
    # per partition tuple.
    from deltalake_datafusion_spark.delta.deletion_vectors import (
        dv_row_filter,
    )
    from deltalake_datafusion_spark.delta.scan import (
        FileKeys,
        _inject_partition_values,
        _inject_row_ids,
    )

    paths = [os.path.join(snap.table_path, f.path) for f in candidates]
    out = (
        spark.read.schema(read_schema)
        .parquet(*paths)
        .select(
            "*",
            F.col("_metadata.row_index").alias("__row_index"),
            F.col("_metadata.file_path").alias("__file_path"),
        )
    )
    keys = FileKeys(out, snap.table_path, candidates)
    if part_cols:
        out = _inject_partition_values(spark, snap, keys, out, phys_full)
    out = apply_schema(out, logical, extra_cols=meta_cols)
    # Apply deletion vectors — DML must never see (or resurrect) rows
    # already deleted in place; files without a DV pass through intact.
    out = dv_row_filter(spark, snap, keys, out)
    if mat_cols:
        out = _inject_row_ids(
            spark, keys, out, row_id_col, row_ver_col,
            id_col="__old_row_id" if row_id_col else None,
            ver_out="__old_row_commit" if row_ver_col else None,
        )
    return out


def _materialized_row_id_col(snap) -> str | None:
    """The table's materialized row-id column name, or None when row
    tracking is off (DML then skips all id plumbing)."""
    from deltalake_datafusion_spark.delta.writer import (
        MATERIALIZED_ROW_ID_PROP,
        row_tracking_enabled,
    )

    if not row_tracking_enabled(snap.metadata.configuration):
        return None
    return snap.metadata.configuration.get(MATERIALIZED_ROW_ID_PROP)


def _materialized_row_ver_col(snap) -> str | None:
    """The materialized row-commit-version column name, or None."""
    from deltalake_datafusion_spark.delta.writer import (
        MATERIALIZED_ROW_VER_PROP,
        row_tracking_enabled,
    )

    if not row_tracking_enabled(snap.metadata.configuration):
        return None
    return snap.metadata.configuration.get(MATERIALIZED_ROW_VER_PROP)


def _row_id_fields(f) -> dict:
    """baseRowId / tags carry-through for re-adds of an existing
    AddFile (DV update, RESTORE): the physical file is unchanged, so
    its row-id block and clustered-ness marker stay valid."""
    out: dict = {}
    if getattr(f, "base_row_id", None) is not None:
        out["baseRowId"] = f.base_row_id
        out["defaultRowCommitVersion"] = f.default_row_commit_version
    if getattr(f, "tags", None):
        out["tags"] = f.tags
    return out


def _relativize(file_path: str, table_path: str) -> str:
    from deltalake_datafusion_spark.delta.fs import decode_file_uri

    p = decode_file_uri(file_path)
    rel = os.path.relpath(p, table_path)
    # Files outside the table root (shallow clones reference the
    # source's files by absolute path) keep their absolute form — the
    # snapshot's AddFile.path is absolute for them too.
    return p if rel.startswith("..") else rel


def _commit_configuration(
    spark,
    snap,
    configuration: dict[str, str],
    op: str,
    needed_features: set[str] | None = None,
) -> int:
    """Re-emit metaData with an updated configuration (same table id /
    schema / partitioning) in one new commit, upgrading the protocol
    first when the new configuration needs a table feature."""
    from deltalake_datafusion_spark.delta.writer import (
        _metadata_action,
        protocol_upgrade_action,
    )

    actions: list[dict] = []
    if needed_features:
        up = protocol_upgrade_action(snap.protocol, needed_features)
        if up is not None:
            actions.append(up)
    md = _metadata_action(
        snap.schema,
        snap.partition_columns,
        configuration,
        snap.metadata.id,
        snap.metadata.name,
    )
    md["metaData"]["createdTime"] = snap.metadata.created_time
    md["metaData"]["description"] = (
        snap.metadata.description
    )
    actions.append(md)
    version = snap.version + 1
    commit(snap.table_path, version, actions, op, spark)
    return version


def add_check_constraint(spark, table_path: str, name: str, expr: str) -> dict:
    """ALTER TABLE ... ADD CONSTRAINT name CHECK (expr): existing rows
    must already satisfy the expression (one aggregate over the
    table — Delta's own semantics), then the constraint is recorded as
    ``delta.constraints.<name>`` and enforced on every future write."""
    from deltalake_datafusion_spark.delta.constraints import (
        CONSTRAINT_PREFIX,
        ConstraintViolationError,
        validate_constraints,
    )
    from deltalake_datafusion_spark.delta.scan import read_delta

    snap = load_snapshot(table_path, spark=spark)
    key = CONSTRAINT_PREFIX + name
    conf = dict(snap.metadata.configuration)
    if key in conf:
        raise ConstraintViolationError(f"constraint {name!r} already exists")
    validate_constraints(read_delta(spark, table_path), {name: expr})
    conf[key] = expr
    version = _commit_configuration(
        spark, snap, conf, "ADD CONSTRAINT",
        needed_features={"checkConstraints"},
    )
    return {"constraint": name, "expr": expr, "version": version}


def drop_check_constraint(
    spark, table_path: str, name: str, if_exists: bool = False
) -> dict:
    from deltalake_datafusion_spark.delta.constraints import (
        CONSTRAINT_PREFIX,
        ConstraintViolationError,
    )

    snap = load_snapshot(table_path, spark=spark)
    key = CONSTRAINT_PREFIX + name
    conf = dict(snap.metadata.configuration)
    if key not in conf:
        if if_exists:
            return {"constraint": name, "expr": None, "version": snap.version}
        raise ConstraintViolationError(f"no such constraint {name!r}")
    expr = conf.pop(key)
    version = _commit_configuration(spark, snap, conf, "DROP CONSTRAINT")
    return {"constraint": name, "expr": expr, "version": version}


def compute_delta_statistics(
    spark, table_path: str, max_restarts: int = 3
) -> dict:
    """``ANALYZE TABLE … COMPUTE DELTA STATISTICS`` (delta-spark):
    recompute per-file stats for live files that have NONE — the
    post-CONVERT / foreign-writer case where missing stats disable
    all file skipping. Executor-distributed footer reads
    (``collect_stats_batch``); each fixed file is re-added with
    ``dataChange=false`` carrying its DV / row-id / tag fields, in
    one commit. Files that already have stats are untouched."""
    return _restart_on_conflict(
        lambda: _compute_stats_attempt(spark, table_path), max_restarts
    )


def _compute_stats_attempt(spark, table_path: str) -> dict:
    from deltalake_datafusion_spark.delta.stats import (
        collect_stats_batch,
        data_skipping_stats_columns,
    )
    from deltalake_datafusion_spark.delta.writer import (
        commit_with_retries,
        physical_schema as _ps,
    )

    snap = load_snapshot(table_path, spark=spark)
    victims = [f for f in snap.files if not f.stats]
    if not victims:
        return {"files_updated": 0, "version": snap.version}
    logical = snap.schema
    phys = _ps(logical)
    part_phys = {
        phys.fields[logical.fieldNames().index(p)].name
        for p in snap.partition_columns
    }
    stats_by_rel = collect_stats_batch(
        spark,
        snap.table_path,
        [(f.path, f.size) for f in victims],
        skip_columns=part_phys,
        stats_columns=data_skipping_stats_columns(
            logical, snap.metadata.configuration
        ),
    )
    # footers this pyarrow can't parse (e.g. VARIANT columns) yield no
    # stats — skip them instead of committing a pointless re-add every
    # run (keeps ANALYZE idempotent on such tables)
    victims = [f for f in victims if stats_by_rel.get(f.path)]
    if not victims:
        return {"files_updated": 0, "version": snap.version}
    actions = []
    for f in victims:
        actions.append(
            {
                "add": {
                    "path": _url_encode_path(f.path),
                    "partitionValues": f.partition_values,
                    "size": f.size,
                    "modificationTime": f.modification_time,
                    # a stats backfill changes no data — streaming
                    # readers must skip it, like OPTIMIZE rewrites
                    "dataChange": False,
                    "stats": stats_by_rel[f.path],
                    **(
                        {"deletionVector": _dv_to_json(f.dv)}
                        if f.dv else {}
                    ),
                    **_row_id_fields(f),
                }
            }
        )
    version = commit_with_retries(
        spark, snap.table_path, snap, actions, "COMPUTE STATISTICS",
        {f.path for f in victims},
    )
    return {"files_updated": len(victims), "version": version}
