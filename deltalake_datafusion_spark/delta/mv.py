"""Incrementally-maintained aggregate materialized views driven by
the Change Data Feed, and the ONE signed-delta core every view shape
maintains itself through.

The lakehouse pattern the reference's CDF surface exists to serve
(reference CDF read path: `crates/datafusion` table-changes scan;
SURVEY.md §2.1 S1/S7): keep a groupBy aggregate table in sync with a
large base table WITHOUT recomputing it — read the base's row-level
changes since the last applied version, reduce them to per-group
SIGNED deltas, and MERGE the deltas into the view. For
count/sum-style (abelian-group) aggregates this is exact:

- ``insert`` / ``update_postimage`` rows contribute ``+1`` count and
  ``+value`` sums;
- ``delete`` / ``update_preimage`` rows contribute ``-1`` / ``-value``;
- a group whose maintained count reaches 0 is DELETED from the view
  (it no longer exists in the base aggregate).

MIN/MAX (``minmax_cols``) are not abelian — a delete can invalidate
an extremum. The deltas then also carry the min/max of the inserted
and of the retracted values: groups whose retractions stay strictly
inside their stored extrema merge monotonically via
``least``/``greatest``; only groups that lost an extremum (or were
born and retracted inside the window) get an authoritative recompute.

The core (:func:`apply_signed_rows`) takes any frame of signed rows
(``__sign`` = ±1) — a single table's change feed, or the three-term
join algebra of :mod:`delta.mv_join` — and applies it in ONE guarded
MERGE, or ONE txn-only commit when the deltas cancel
(:func:`_commit_watermarks`). The authoritative min/max recompute is
the one view-shape-specific step and comes in as a callback: the
single-table view re-reads the base AS OF the target version, the
join view re-reads fact⋈dim AS OF the pinned versions. Batch and
streaming entry points of both shapes feed the same core; the
streaming ones share one foreachBatch driver
(:func:`_drive_change_stream`).

CRASH SAFETY (ADVICE r9): the applied-version watermark commits
ATOMICALLY with the merged data — a ``txn`` (SetTransaction) action
with ``appId = "lakehouse.mv"`` rides the very same Delta commit as
the MERGE's add/remove actions (delta-spark's idempotent-write
pattern). There is no second commit to lose, so a crash can never
leave the watermark lagging the data and double-apply a CDF range on
the next refresh. The ``lakehouse.mv.baseVersion`` table property
still records the FULL-BUILD version (it is written atomically with
the build's data by ``write_delta(configuration=...)``) and marks the
table as a maintained view; the effective watermark is
``max(txn version, property)``.

The streaming path keys its replay guard on the base's
``_commit_version`` (monotone, lineage-independent) instead of the
micro-batch id — a restart with a FRESH checkpoint directory (batch
ids reset to 0) or a later batch refresh both consult the same
committed watermark, so nothing is double-applied or silently
skipped across checkpoint lineages.

Scale shape: the refresh touches only the CDF of the new commits
(O(changed rows)) and the matched groups of the view (MERGE prunes by
file stats on the group key). Nothing rescans the base table; the
map-side combine reduces change rows to one delta row per group
before the shuffle. See :mod:`delta.mv_join` for the fact⋈dim star
MV with two-sided delta maintenance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MV_BASE_VERSION_KEY = "lakehouse.mv.baseVersion"
MV_TXN_APP = "lakehouse.mv"
MV_COUNT_COL = "mv_count"
# past this many keys, an inlined IN predicate (stats-prunable) gives
# way to a broadcast semi-join — for the min/max recompute's group
# keys and the join view's changed dim keys alike
MAX_INLINE_KEYS = 10_000


def _sum_col(c: str) -> str:
    return f"mv_sum_{c}"


def _cnt_col(c: str) -> str:
    """Per-column NON-NULL count (``COUNT(c)``), maintained alongside
    every ``mv_sum_<c>`` (ADVICE r11, high): it is what makes the
    stored SUM NULL-exact (an all-NULL group's SUM is NULL, and must
    STAY NULL through incremental merges instead of coalescing to 0)
    and what lets the transparent rewrite derive ``AVG(c)`` —
    ``SUM(c)/COUNT(c)`` per ANSI, NOT ``SUM(c)/COUNT(*)`` — and
    ``COUNT(c)`` for nullable measure columns."""
    return f"mv_cnt_{c}"


def _min_col(c: str) -> str:
    return f"mv_min_{c}"


def _max_col(c: str) -> str:
    return f"mv_max_{c}"


def _view_aggs(sum_cols: list[str], minmax_cols: list[str]) -> list:
    """The full-build aggregates of every view shape: ``COUNT(*)``,
    each ``SUM(c)`` with its non-null count, and each MIN/MAX."""
    return (
        [F.count(F.lit(1)).cast("long").alias(MV_COUNT_COL)]
        + [F.sum(c).alias(_sum_col(c)) for c in sum_cols]
        + [F.count(c).cast("long").alias(_cnt_col(c)) for c in sum_cols]
        + [F.min(c).alias(_min_col(c)) for c in minmax_cols]
        + [F.max(c).alias(_max_col(c)) for c in minmax_cols]
    )


def _now_ms() -> int:
    import time

    return int(time.time() * 1000)


def _txn(app: str, version: int) -> dict:
    return {
        "txn": {
            "appId": app,
            "version": int(version),
            "lastUpdated": _now_ms(),
        }
    }


def mv_watermark(mv_snap) -> int | None:
    """Effective applied-base-version watermark of a maintained view:
    the ``lakehouse.mv`` SetTransaction version (advanced atomically
    with every incremental MERGE) or, for a freshly-built view, the
    ``lakehouse.mv.baseVersion`` property (committed atomically with
    the full build). None → not a maintained view."""
    txn = mv_snap.app_transactions.get(MV_TXN_APP)
    raw = (mv_snap.metadata.configuration or {}).get(MV_BASE_VERSION_KEY)
    prop = int(raw) if raw is not None else None
    if txn is None and prop is None:
        return None
    return max(v for v in (txn, prop) if v is not None)


def _maintained_view(spark, mv_path: str, minmax_cols, watermark_of):
    """Load a view for refresh: ``(snapshot, watermark)``. Raises when
    ``watermark_of`` finds no watermark (not a maintained view), or
    when ``minmax_cols`` does not name exactly the view's
    ``mv_min_*``/``mv_max_*`` columns — a refresh that skipped them
    would leave the extrema silently STALE, the one shape of
    wrongness the maintenance layer must never produce."""
    from deltalake_datafusion_spark.delta.snapshot import load_snapshot

    snap = load_snapshot(mv_path, spark=spark)
    wm = watermark_of(snap)
    if wm is None:
        raise ValueError(
            f"{mv_path} carries no maintenance watermark — not a "
            "maintained view (build_aggregate_mv / build_join_mv first)"
        )
    have = {
        f.name
        for f in snap.schema.fields
        if f.name.startswith(("mv_min_", "mv_max_"))
    }
    want = {g(c) for c in minmax_cols or [] for g in (_min_col, _max_col)}
    if have != want:
        raise ValueError(
            f"{mv_path} maintains MIN/MAX columns {sorted(have)} but the "
            f"refresh passed minmax_cols={list(minmax_cols or [])} — pass "
            "the view's own MIN/MAX columns (extrema would go silently "
            "stale or fail to merge)"
        )
    return snap, wm


def _retry_concurrent_refresh(attempt, max_attempts: int = 3):
    """Serialize racing refreshes of the same view: when the merge's
    txn guard detects a concurrent refresh overlapped the frozen
    CDF range (:class:`~delta.ops.ConcurrentRefreshError`), re-run
    ``attempt`` — it re-reads the (now advanced) watermark and
    computes a fresh, non-overlapping delta (usually a no-op)."""
    from deltalake_datafusion_spark.delta.ops import (
        ConcurrentRefreshError,
    )

    last: Exception | None = None
    for _ in range(max(1, max_attempts)):
        try:
            return attempt()
        except ConcurrentRefreshError as e:
            last = e
    raise last


def build_aggregate_mv(
    spark,
    base_path: str,
    mv_path: str,
    group_cols: list[str],
    sum_cols: list[str],
    minmax_cols: list[str] | None = None,
    extra_conf: dict | None = None,
) -> dict:
    """Full build of the aggregate view at the base table's current
    version: per group, ``COUNT(*)``, each ``SUM(c)``, each
    per-column non-null count ``mv_cnt_<c>`` (what keeps SUM
    NULL-exact through incremental merges and lets the rewrite derive
    ANSI AVG / COUNT(col)), and ``mv_min_<c>``/``mv_max_<c>`` for
    each of ``minmax_cols``. The watermark (property + txn) commits
    atomically with the built data."""
    from deltalake_datafusion_spark.delta.scan import read_delta
    from deltalake_datafusion_spark.delta.snapshot import load_snapshot
    from deltalake_datafusion_spark.delta.writer import write_delta

    base_ver = load_snapshot(base_path, spark=spark).version
    df = read_delta(spark, base_path)
    mv = df.groupBy(*group_cols).agg(
        *_view_aggs(sum_cols, list(minmax_cols or []))
    )
    write_delta(
        spark,
        mv,
        mv_path,
        configuration={
            MV_BASE_VERSION_KEY: str(base_ver), **(extra_conf or {})
        },
        txn=(MV_TXN_APP, base_ver),
    )
    return {"base_version": base_ver, "mode": "full"}


def refresh_aggregate_mv(
    spark,
    base_path: str,
    mv_path: str,
    group_cols: list[str],
    sum_cols: list[str],
    minmax_cols: list[str] | None = None,
) -> dict:
    """Incremental refresh: apply the base's CDF since the view's
    recorded watermark through :func:`apply_signed_rows` — ONE MERGE
    commit that also carries the advanced watermark (txn action).
    ``minmax_cols`` must name the view's MIN/MAX columns (the build's
    ``minmax_cols``). No-op (and no commit) when the base has no new
    versions. Racing refreshes of the same view serialize safely: the
    loser's guarded merge detects the overlap and this retries from
    the advanced watermark (:func:`_retry_concurrent_refresh`)."""
    from deltalake_datafusion_spark.delta.cdf import table_changes
    from deltalake_datafusion_spark.delta.snapshot import load_snapshot

    minmax_cols = list(minmax_cols or [])

    def attempt():
        _, applied = _maintained_view(
            spark, mv_path, minmax_cols, mv_watermark
        )
        base_ver = load_snapshot(base_path, spark=spark).version
        if base_ver <= applied:
            return {
                "base_version": applied,
                "mode": "noop",
                "groups_touched": 0,
            }
        n_groups = _apply_base_changes(
            spark, base_path, mv_path,
            table_changes(spark, base_path, applied + 1, base_ver),
            group_cols, sum_cols, minmax_cols, applied, base_ver,
        )
        return {
            "base_version": base_ver,
            "mode": "incremental",
            "groups_touched": n_groups,
        }

    return _retry_concurrent_refresh(attempt)


def streaming_refresh_aggregate_mv(
    spark,
    base_path: str,
    mv_path: str,
    group_cols: list[str],
    sum_cols: list[str],
    checkpoint_dir: str,
    starting_version: int | None = None,
    timeout_s: int = 300,
    minmax_cols: list[str] | None = None,
) -> None:
    """CONTINUOUS view maintenance: consume the base's change feed as
    a stream (``streaming/cdf_source.py``) and apply each micro-batch
    through the same core as :func:`refresh_aggregate_mv` — MIN/MAX
    recomputes read the base AS OF the batch's high commit — in the
    exactly-once sink of :func:`_drive_change_stream`: replayed
    batches and fresh checkpoint directories merge nothing twice, and
    a later batch refresh sees the advanced watermark."""
    minmax_cols = list(minmax_cols or [])
    _, wm = _maintained_view(spark, mv_path, minmax_cols, mv_watermark)

    def apply(_snap, fresh, applied, hi):
        _apply_base_changes(
            spark, base_path, mv_path, fresh, group_cols, sum_cols,
            minmax_cols, applied, hi,
        )

    _drive_change_stream(
        spark, base_path, mv_path, checkpoint_dir,
        wm + 1 if starting_version is None else starting_version,
        timeout_s, mv_watermark, apply,
    )


def _apply_base_changes(
    spark, base_path, mv_path, changes: DataFrame, group_cols,
    sum_cols, minmax_cols, applied: int, target: int,
) -> int:
    """Apply a single table's change-feed frame covering
    ``(applied, target]`` to its view; returns touched groups."""
    cols = list(dict.fromkeys([*group_cols, *sum_cols, *minmax_cols]))

    def recompute(keys, keys_df):
        # authoritative min/max from the base AS OF ``target``, pruned
        # to the affected groups: an IN predicate pushed into the
        # Delta scan (stats-based file skipping) when the keys inline,
        # else a broadcast semi-join (never a truncated key set)
        from deltalake_datafusion_spark.delta.scan import read_delta

        pred = (
            _key_predicate([k[0] for k in keys], group_cols[0])
            if len(group_cols) == 1
            else None
        )
        base = read_delta(spark, base_path, version=target, predicate=pred)
        if pred is not None:
            base = base.filter(F.expr(pred))
        else:
            base = _nullsafe_semi_join(base, keys_df, list(group_cols))
        return base.groupBy(*group_cols).agg(
            *[F.min(c).alias(f"re_min_{c}") for c in minmax_cols],
            *[F.max(c).alias(f"re_max_{c}") for c in minmax_cols],
        )

    return apply_signed_rows(
        spark, mv_path, signed_rows(changes, cols), group_cols, sum_cols,
        {MV_TXN_APP: (applied, target)}, minmax_cols, recompute,
    )


def _drive_change_stream(
    spark, source_path: str, mv_path: str, checkpoint_dir: str,
    starting_version: int, timeout_s: int, applied_of, apply,
) -> None:
    """The one streaming sink of every view shape: consume
    ``source_path``'s change feed (availableNow) and hand each
    micro-batch's not-yet-applied rows to
    ``apply(mv_snapshot, fresh_rows, applied, hi)``, where ``hi`` is
    the batch's high ``_commit_version`` — the watermark the apply
    commits IN THE SAME COMMIT as its merge.

    Exactly-once across restarts AND checkpoint lineages: each batch
    first drops rows at-or-below the view's committed watermark
    (``applied_of(snapshot)``, read from the view's log — not from
    this process), so a replayed batch (crash after merge, before
    checkpoint) filters to empty and a fresh checkpoint dir (batch
    ids restart at 0) is harmless. A concurrent batch refresh racing
    the stream re-filters the batch against the advanced watermark
    and retries."""
    from deltalake_datafusion_spark.delta.snapshot import load_snapshot
    from deltalake_datafusion_spark.streaming.cdf_source import (
        read_change_stream,
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        def attempt():
            snap = load_snapshot(mv_path, spark=spark)
            applied = applied_of(snap)
            # lazy checkpoint: the watermark aggregate right below
            # materializes it in the SAME job
            fresh = batch_df.filter(
                F.col("_commit_version") > F.lit(applied)
            ).localCheckpoint(eager=False)
            hi = fresh.agg(
                F.max("_commit_version").alias("v")
            ).collect()[0]["v"]
            if hi is None:
                return  # fully-replayed batch — merged before a crash
            apply(snap, fresh, applied, int(hi))

        _retry_concurrent_refresh(attempt)

    q = (
        read_change_stream(spark, source_path, starting_version)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)


# ------------------------------------------------------------------ #
# The signed-delta core                                               #
# ------------------------------------------------------------------ #


def signed_rows(changes: DataFrame, cols: list[str]) -> DataFrame:
    """Project a change-feed frame to ``cols`` + ``__sign`` (+1 for
    insert/update_postimage, −1 for delete/update_preimage)."""
    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    return changes.select(*cols, sign.alias("__sign"))


def _delta_aggs(sum_cols: list[str], minmax_cols: list[str]) -> list:
    """Per-group reduction of signed rows: ``d_count``, ``d_<c>`` and
    the non-null count delta ``dc_<c>`` per sum column; with MIN/MAX,
    the extrema of the inserted (``ins_*``) and retracted
    (``del_*``) values and whether the group saw a retraction."""
    sign = F.col("__sign")
    is_ins = sign == 1
    aggs = [F.sum("__sign").cast("long").alias("d_count")]
    for c in sum_cols:
        aggs.append(F.sum(F.col(c) * sign).alias(f"d_{c}"))
        aggs.append(
            F.sum(F.when(F.col(c).isNotNull(), sign).otherwise(F.lit(0)))
            .cast("long")
            .alias(f"dc_{c}")
        )
    for c in minmax_cols:
        aggs += [
            F.min(F.when(is_ins, F.col(c))).alias(f"ins_min_{c}"),
            F.max(F.when(is_ins, F.col(c))).alias(f"ins_max_{c}"),
            F.min(F.when(~is_ins, F.col(c))).alias(f"del_min_{c}"),
            F.max(F.when(~is_ins, F.col(c))).alias(f"del_max_{c}"),
        ]
    if minmax_cols:
        aggs.append(F.max((~is_ins).cast("int")).alias("__saw_delete"))
    return aggs


def apply_signed_rows(
    spark,
    mv_path: str,
    rows: DataFrame,
    group_cols: list[str],
    sum_cols: list[str],
    watermarks: dict[str, tuple[int, int]],
    minmax_cols: list[str] | None = None,
    recompute=None,
) -> int:
    """Reduce signed rows (group cols + measure cols + ``__sign`` =
    ±1) to per-group deltas and apply them to the view in ONE guarded
    MERGE commit; returns the number of touched groups. The reduction
    happens map-side before the merge's shuffle.

    ``watermarks`` maps each txn appId to ``(applied, target)``: the
    rows cover the change range ``(applied, target]``. Every
    ``target`` is committed as a txn action IN THE SAME COMMIT as the
    merge; when the deltas all cancel (zero touched groups) they
    still advance — as a txn-only commit — so the range is never
    re-read forever. The ``applied`` ends arm the concurrent-refresh
    guard (ADVICE r10): the merge no-ops when another refresh already
    covered every target and raises
    :class:`~delta.ops.ConcurrentRefreshError` when one advanced a
    watermark into the middle of the range — the refresh entry points
    retry from the new watermark.

    ``minmax_cols`` maintain ``mv_min_*``/``mv_max_*``: interior
    retractions and inserts merge monotonically; the groups that lost
    an extremum (or are absent from the view yet saw a retraction)
    take their authoritative values from
    ``recompute(keys, keys_df)`` — ``keys`` the first
    ``MAX_INLINE_KEYS + 1`` affected group-key tuples, ``keys_df``
    all of them — which returns group cols + ``re_min_<c>`` /
    ``re_max_<c>``. It is never called when no group needs it."""
    from deltalake_datafusion_spark.delta.ops import merge_delta

    minmax_cols = list(minmax_cols or [])
    # a NULL→value update moves dc without moving d_count or d_<c>
    # (e.g. NULL→0): the non-null count still changes
    changed = F.col("d_count") != 0
    for c in sum_cols:
        changed = changed | (F.col(f"d_{c}") != 0)
        changed = changed | (F.col(f"dc_{c}") != 0)
    if minmax_cols:
        changed = changed | (F.col("__saw_delete") == 1)
    # lazy: the count right below materializes the checkpoint in the
    # SAME job (eager cost a separate materialization job per refresh)
    deltas = (
        rows.groupBy(*group_cols)
        .agg(*_delta_aggs(sum_cols, minmax_cols))
        .filter(changed)
        .localCheckpoint(eager=False)
    )
    n_groups = deltas.count()
    if n_groups == 0:
        _commit_watermarks(spark, mv_path, watermarks)
        return 0

    src = deltas
    if minmax_cols:
        src = _flag_needs_authority(
            spark, mv_path, deltas, group_cols, minmax_cols
        )
        need = src.filter("__need_auth = 1").select(*group_cols)
        keys = [
            tuple(r) for r in need.limit(MAX_INLINE_KEYS + 1).collect()
        ]
        if keys:
            src = _nullsafe_left_join(
                src, recompute(keys, need), list(group_cols)
            )
        else:
            for c in minmax_cols:
                src = src.withColumn(f"re_min_{c}", F.lit(None))
                src = src.withColumn(f"re_max_{c}", F.lit(None))

    update = {
        MV_COUNT_COL: f"t.{MV_COUNT_COL} + s.d_count",
        **_sum_update_exprs(sum_cols),
    }
    insert_vals = {
        **{c: f"s.`{c}`" for c in group_cols},
        MV_COUNT_COL: "s.d_count",
        **{_sum_col(c): f"s.d_{c}" for c in sum_cols},
        **{_cnt_col(c): f"s.dc_{c}" for c in sum_cols},
    }
    for c in minmax_cols:
        # interior retractions (``__need_auth = 0``) cannot move an
        # extremum: they merge monotonically like inserts. A BRAND-NEW
        # group can still have seen in-window retractions (rows
        # created and removed inside the range): its authoritative
        # min/max come from the recompute, not the inserted values.
        for kind, ext, col in (
            ("min", "least", _min_col(c)), ("max", "greatest", _max_col(c))
        ):
            auth = f"CASE WHEN s.__need_auth = 1 THEN s.re_{kind}_{c} ELSE "
            update[col] = f"{auth}{ext}(t.{col}, s.ins_{kind}_{c}) END"
            insert_vals[col] = f"{auth}s.ins_{kind}_{c} END"
    res = merge_delta(
        spark,
        mv_path,
        src,
        on=" AND ".join(f"t.`{c}` <=> s.`{c}`" for c in group_cols),
        when_matched=[
            {
                "condition": f"t.{MV_COUNT_COL} + s.d_count <= 0",
                "delete": True,
            },
            {"update": update},
        ],
        when_not_matched=[
            {"condition": "s.d_count > 0", "values": insert_vals}
        ],
        extra_actions=[
            _txn(app, target) for app, (_, target) in watermarks.items()
        ],
        txn_guards=[
            {"appId": app, "applied": applied, "target": target}
            for app, (applied, target) in watermarks.items()
        ],
    )
    if res.get("skipped") == "txn-covered":
        return 0
    return n_groups


def _commit_watermarks(
    spark, mv_path: str, watermarks: dict[str, tuple[int, int]]
) -> None:
    """Commit that carries ONLY watermark txn actions (the deltas of
    the applied range cancelled to nothing). A concurrent refresh
    that advanced a watermark INTO its range (past ``applied`` but
    short of ``target``) raises — jumping over it would silently skip
    the sub-range it did NOT apply (whose net deltas need not be zero
    even though the full range's were). Watermarks a concurrent
    refresh already advanced to or past their target are left
    alone."""
    from deltalake_datafusion_spark.delta.ops import (
        ConcurrentRefreshError,
    )
    from deltalake_datafusion_spark.delta.snapshot import load_snapshot
    from deltalake_datafusion_spark.delta.writer import (
        ConcurrentModificationError,
        check_writable,
        commit_with_retries,
    )

    # The guard must hold AT COMMIT TIME, not just when first checked
    # (ADVICE r11): commit_with_retries treats any concurrent commit
    # carrying one of these appIds' txns as a conflict, and this loop
    # re-validates against the advanced ledger instead of rebasing
    # over it (which would regress the watermark and double-apply the
    # range on the next refresh).
    last: Exception | None = None
    for _ in range(5):
        snap = load_snapshot(mv_path, spark=spark)
        check_writable(snap)
        fresh = []
        for app, (applied, target) in watermarks.items():
            rec = snap.app_transactions.get(app, -1)
            if applied < rec < target:
                raise ConcurrentRefreshError(
                    f"txn {app!r} advanced to {rec} inside the range "
                    f"({applied}, {target}] — a concurrent refresh "
                    "overlapped this range; recompute from the new "
                    "watermark"
                )
            if rec < target:
                fresh.append(_txn(app, target))
        if not fresh:
            return  # a concurrent refresh already advanced past us
        try:
            commit_with_retries(
                spark, mv_path, snap, fresh, "SET TRANSACTION", set(),
                conflict_txn_appids=set(watermarks),
            )
            return
        except ConcurrentModificationError as e:
            last = e  # ledger moved mid-commit — re-validate
    raise last


def _sum_update_exprs(sum_cols: list[str]) -> dict[str, str]:
    """MERGE UPDATE expressions keeping each maintained SUM NULL-exact
    (ADVICE r11): SQL's ``SUM`` over a group with no non-NULL values
    is NULL, so when the maintained non-null count reaches 0 the
    stored sum must return to NULL — a plain
    ``coalesce(t)+coalesce(s)`` would freeze it at 0, diverging from
    the full build."""
    out: dict[str, str] = {}
    for c in sum_cols:
        cnt, s = _cnt_col(c), _sum_col(c)
        out[s] = (
            f"CASE WHEN t.{cnt} + s.dc_{c} <= 0 THEN NULL "
            f"ELSE coalesce(t.{s}, 0) + coalesce(s.d_{c}, 0) END"
        )
        out[cnt] = f"t.{cnt} + s.dc_{c}"
    return out


def _key_predicate(keys: list, key_col: str) -> str | None:
    """Inline an IN predicate over ``keys`` for a Delta scan's
    stats-based file skipping — int/str keys only, at most
    ``MAX_INLINE_KEYS`` of them; None otherwise (the caller falls
    back to a broadcast semi-join)."""
    if not keys or len(keys) > MAX_INLINE_KEYS:
        return None
    if all(isinstance(k, int) and not isinstance(k, bool) for k in keys):
        lits = ", ".join(str(k) for k in sorted(keys))
    elif all(isinstance(k, str) for k in keys):
        esc = [k.replace("'", "''") for k in sorted(keys)]
        lits = ", ".join(f"'{k}'" for k in esc)
    else:
        return None
    return f"{key_col} IN ({lits})"


def _distinct_keys(df: DataFrame, col: str) -> list:
    """Up to ``MAX_INLINE_KEYS + 1`` distinct values of ``col`` — one
    job, enough for :func:`_key_predicate` to decide whether they
    inline."""
    return [
        r[0]
        for r in df.select(col).distinct().limit(MAX_INLINE_KEYS + 1)
        .collect()
    ]


def _nullsafe_left_join(
    left: DataFrame, right: DataFrame, group_cols: list[str]
) -> DataFrame:
    """LEFT join on NULL-SAFE group-key equality (ADVICE r11: the
    MERGE's own ON uses ``<=>``, so NULL group keys are first-class —
    a name-list equi-join here would silently drop the recomputed
    min/max of a NULL-keyed group and write NULL extrema while the
    group still has rows). The right side's key columns are renamed
    to fresh aliases (fresh exprIds) and the frame localCheckpointed
    (fresh subtree) — the full self-join firewall, since ``right``
    derives from ``left``'s affected-group keys; it is bounded by the
    number of recomputed groups."""
    renamed = right.select(
        *[
            F.col(c).alias(f"__rk_{i}")
            for i, c in enumerate(group_cols)
        ],
        *[F.col(c) for c in right.columns if c not in group_cols],
    ).localCheckpoint(eager=True)
    cond = None
    for i, c in enumerate(group_cols):
        e = left[c].eqNullSafe(renamed[f"__rk_{i}"])
        cond = e if cond is None else (cond & e)
    return left.join(renamed, cond, "left").drop(
        *[f"__rk_{i}" for i in range(len(group_cols))]
    )


def _nullsafe_semi_join(
    left: DataFrame, keys_df: DataFrame, cols: list[str]
) -> DataFrame:
    """Broadcast LEFT SEMI join on NULL-SAFE equality over ``cols`` —
    prunes ``left`` to rows whose key tuple appears in ``keys_df``,
    keeping NULL-keyed groups matchable (same ADVICE r11 defect as
    :func:`_nullsafe_left_join`: a name-list semi join silently drops
    the NULL group from the recompute). Fresh aliases +
    localCheckpoint = self-join firewall; the key set is bounded by
    the affected-group count."""
    renamed = (
        keys_df.select(
            *[F.col(c).alias(f"__sk_{i}") for i, c in enumerate(cols)]
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    cond = None
    for i, c in enumerate(cols):
        e = left[c].eqNullSafe(renamed[f"__sk_{i}"])
        cond = e if cond is None else (cond & e)
    return left.join(F.broadcast(renamed), cond, "left_semi")


def _flag_needs_authority(
    spark, mv_path: str, deltas: DataFrame, group_cols, minmax_cols,
) -> DataFrame:
    """Add ``__need_auth`` to the per-group deltas — the MIN/MAX
    retraction FAST-PATH (VERDICT r11 #3): a retraction strictly
    INSIDE a group's stored (min, max) cannot move either extremum,
    so only groups where a retracted value ties-or-beats a stored
    extremum — or groups absent from the view (created and retracted
    inside the CDF window) — need the authoritative recompute.
    Everything else merges monotonically via least/greatest, so the
    all-groups-retracted worst case shrinks from full-join cost to
    the groups that actually lost an extremum.

    Cost: ONE read of the VIEW (O(#groups) rows, pruned to the
    retraction-touched groups with a broadcast null-safe semi-join) —
    always cheaper than the base recompute it avoids. NULL algebra:
    a comparison against a NULL deleted-value or NULL stored
    extremum yields NULL → treated as 'does not touch' (a group
    whose retractions were all NULL-valued cannot have lost a
    non-NULL extremum; a group with all-NULL extrema has nothing to
    lose)."""
    from deltalake_datafusion_spark.delta.scan import read_delta

    touched = deltas.filter("__saw_delete = 1")
    if touched.limit(1).count() == 0:
        return deltas.withColumn("__need_auth", F.lit(0))
    stored = _nullsafe_semi_join(
        read_delta(spark, mv_path),
        touched.select(*group_cols),
        list(group_cols),
    ).select(
        *group_cols,
        F.lit(1).alias("__in_view"),
        *[F.col(_min_col(c)).alias(f"__st_min_{c}") for c in minmax_cols],
        *[F.col(_max_col(c)).alias(f"__st_max_{c}") for c in minmax_cols],
    )
    out = _nullsafe_left_join(deltas, stored, list(group_cols))
    touch = F.lit(False)
    for c in minmax_cols:
        touch = touch | (
            F.col(f"del_min_{c}") <= F.col(f"__st_min_{c}")
        )
        touch = touch | (
            F.col(f"del_max_{c}") >= F.col(f"__st_max_{c}")
        )
    need = (F.col("__saw_delete") == 1) & (
        F.col("__in_view").isNull() | touch
    )
    drop = ["__in_view"] + [
        f"__st_{k}_{c}" for c in minmax_cols for k in ("min", "max")
    ]
    return out.withColumn(
        "__need_auth",
        F.when(need, F.lit(1)).otherwise(F.lit(0)),
    ).drop(*drop)
