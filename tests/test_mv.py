"""Incremental aggregate materialized views (delta/mv.py): every
refresh must leave the view EXACTLY equal to the full recompute of
the base at its current version — inserts, updates (including
group-moving updates), deletes, group disappearance, and idempotent
no-op refreshes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from deltalake_datafusion_spark.delta.mv import (
    MV_BASE_VERSION_KEY,
    build_aggregate_mv,
    refresh_aggregate_mv,
)
from deltalake_datafusion_spark.delta.ops import (
    delete_delta,
    update_delta,
)
from deltalake_datafusion_spark.delta.scan import read_delta
from deltalake_datafusion_spark.delta.writer import write_delta

CDF = {"delta.enableChangeDataFeed": "true"}


def _base(spark, path, n=40):
    df = spark.range(n).select(
        F.col("id"),
        (F.col("id") % 4).alias("g"),
        (F.col("id") * 10).alias("v"),
    )
    write_delta(spark, df, path, configuration=CDF)
    return df


def _mv_state(spark, mv_path):
    return {
        (r.g): (r.mv_count, r.mv_sum_v)
        for r in read_delta(spark, mv_path).collect()
    }


def _expected(spark, base_path):
    return {
        (r.g): (r.c, r.s)
        for r in read_delta(spark, base_path)
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("c"),
            F.sum("v").alias("s"),
        )
        .collect()
    }


def test_full_build_matches_group_agg(spark, tmp_path):
    b, m = str(tmp_path / "b"), str(tmp_path / "m")
    _base(spark, b)
    res = build_aggregate_mv(spark, b, m, ["g"], ["v"])
    assert res["mode"] == "full"
    assert _mv_state(spark, m) == _expected(spark, b)


def test_incremental_insert_update_delete(spark, tmp_path):
    b, m = str(tmp_path / "b"), str(tmp_path / "m")
    _base(spark, b)
    build_aggregate_mv(spark, b, m, ["g"], ["v"])
    # append rows into existing and brand-new groups
    extra = spark.createDataFrame(
        [(100, 0, 7), (101, 9, 11), (102, 9, 13)], "id long, g long, v long"
    )
    write_delta(spark, extra, b, mode="append", configuration=CDF)
    # update some values in place
    update_delta(spark, b, set_exprs={"v": "v + 1"}, predicate="id < 4")
    # delete a few rows
    delete_delta(spark, b, "id >= 36 AND id < 40")
    res = refresh_aggregate_mv(spark, b, m, ["g"], ["v"])
    assert res["mode"] == "incremental"
    assert _mv_state(spark, m) == _expected(spark, b)


def test_group_disappears_when_count_reaches_zero(spark, tmp_path):
    b, m = str(tmp_path / "b"), str(tmp_path / "m")
    _base(spark, b)
    build_aggregate_mv(spark, b, m, ["g"], ["v"])
    delete_delta(spark, b, "g = 2")
    refresh_aggregate_mv(spark, b, m, ["g"], ["v"])
    state = _mv_state(spark, m)
    assert 2 not in state
    assert state == _expected(spark, b)


def test_group_moving_update(spark, tmp_path):
    b, m = str(tmp_path / "b"), str(tmp_path / "m")
    _base(spark, b)
    build_aggregate_mv(spark, b, m, ["g"], ["v"])
    # move all of group 1 into group 0 (key-changing update)
    update_delta(spark, b, set_exprs={"g": "0"}, predicate="g = 1")
    refresh_aggregate_mv(spark, b, m, ["g"], ["v"])
    state = _mv_state(spark, m)
    assert 1 not in state
    assert state == _expected(spark, b)


def test_noop_refresh_and_watermark(spark, tmp_path):
    b, m = str(tmp_path / "b"), str(tmp_path / "m")
    _base(spark, b)
    build_aggregate_mv(spark, b, m, ["g"], ["v"])
    res = refresh_aggregate_mv(spark, b, m, ["g"], ["v"])
    assert res["mode"] == "noop"
    # refresh after change bumps the recorded watermark
    delete_delta(spark, b, "id = 0")
    res2 = refresh_aggregate_mv(spark, b, m, ["g"], ["v"])
    assert res2["mode"] == "incremental"
    from deltalake_datafusion_spark.delta.mv import MV_TXN_APP, mv_watermark
    from deltalake_datafusion_spark.delta.snapshot import load_snapshot

    snap = load_snapshot(m, spark=spark)
    # ADVICE r9: the watermark is a SetTransaction in the SAME commit
    # as the merge — never a trailing property commit that a crash
    # could lose
    assert snap.app_transactions[MV_TXN_APP] == res2["base_version"]
    assert mv_watermark(snap) == res2["base_version"]
    # the build-time property stays at the full-build version (it is
    # not rewritten per refresh)
    assert MV_BASE_VERSION_KEY in snap.metadata.configuration
    # and a second refresh is a no-op again (idempotence)
    assert refresh_aggregate_mv(spark, b, m, ["g"], ["v"])["mode"] == "noop"


def test_multi_round_equivalence(spark, tmp_path):
    b, m = str(tmp_path / "b"), str(tmp_path / "m")
    _base(spark, b, n=60)
    build_aggregate_mv(spark, b, m, ["g"], ["v"])
    for step in range(3):
        write_delta(
            spark,
            spark.createDataFrame(
                [(1000 + step * 10 + i, (i + step) % 6, i * 3 + step)
                 for i in range(8)],
                "id long, g long, v long",
            ),
            b,
            mode="append",
            configuration=CDF,
        )
        update_delta(
            spark, b,
            set_exprs={"v": "v * 2"},
            predicate=f"id % 7 = {step}",
        )
        delete_delta(spark, b, f"id % 11 = {step}")
        refresh_aggregate_mv(spark, b, m, ["g"], ["v"])
        assert _mv_state(spark, m) == _expected(spark, b), f"step {step}"


def test_refresh_requires_mv_property(spark, tmp_path):
    b, m = str(tmp_path / "b"), str(tmp_path / "m")
    _base(spark, b)
    write_delta(spark, spark.range(3), m)  # plain table, not an MV
    with pytest.raises(ValueError, match="not a"):
        refresh_aggregate_mv(spark, b, m, ["g"], ["v"])


def test_streaming_refresh_matches_full_recompute(spark, tmp_path):
    from deltalake_datafusion_spark.delta.mv import (
        streaming_refresh_aggregate_mv,
    )

    b, m = str(tmp_path / "b"), str(tmp_path / "m")
    ck = str(tmp_path / "ck")
    _base(spark, b)
    build_aggregate_mv(spark, b, m, ["g"], ["v"])
    write_delta(
        spark,
        spark.createDataFrame(
            [(200, 7, 5), (201, 7, 6)], "id long, g long, v long"
        ),
        b,
        mode="append",
        configuration=CDF,
    )
    update_delta(spark, b, set_exprs={"v": "v + 100"}, predicate="g = 3")
    delete_delta(spark, b, "g = 0")
    streaming_refresh_aggregate_mv(spark, b, m, ["g"], ["v"], ck)
    assert _mv_state(spark, m) == _expected(spark, b)
    # a second run over the SAME checkpoint applies nothing new
    streaming_refresh_aggregate_mv(spark, b, m, ["g"], ["v"], ck)
    assert _mv_state(spark, m) == _expected(spark, b)


def test_streaming_refresh_then_more_changes(spark, tmp_path):
    from deltalake_datafusion_spark.delta.mv import (
        streaming_refresh_aggregate_mv,
    )

    b, m = str(tmp_path / "b"), str(tmp_path / "m")
    ck = str(tmp_path / "ck")
    _base(spark, b, n=24)
    build_aggregate_mv(spark, b, m, ["g"], ["v"])
    delete_delta(spark, b, "id < 4")
    streaming_refresh_aggregate_mv(spark, b, m, ["g"], ["v"], ck)
    assert _mv_state(spark, m) == _expected(spark, b)
    update_delta(spark, b, set_exprs={"v": "v * 3"}, predicate="id >= 20")
    streaming_refresh_aggregate_mv(spark, b, m, ["g"], ["v"], ck)
    assert _mv_state(spark, m) == _expected(spark, b)


def test_refresh_is_one_atomic_commit_with_watermark(spark, tmp_path):
    """ADVICE r9: the watermark must ride the SAME commit as the
    merged deltas — the MV log's tip commit carries both the txn
    action and the data actions, and no property-only commit
    follows."""
    import json
    import os

    from deltalake_datafusion_spark.delta.mv import MV_TXN_APP
    from deltalake_datafusion_spark.delta.snapshot import load_snapshot

    b, m = str(tmp_path / "b"), str(tmp_path / "m")
    _base(spark, b)
    build_aggregate_mv(spark, b, m, ["g"], ["v"])
    v0 = load_snapshot(m, spark=spark).version
    write_delta(
        spark,
        spark.createDataFrame([(500, 1, 9)], "id long, g long, v long"),
        b,
        mode="append",
        configuration=CDF,
    )
    refresh_aggregate_mv(spark, b, m, ["g"], ["v"])
    snap = load_snapshot(m, spark=spark)
    assert snap.version == v0 + 1  # exactly ONE commit for the refresh
    tip = os.path.join(m, "_delta_log", f"{snap.version:020d}.json")
    kinds = set()
    with open(tip) as f:
        for line in f:
            kinds.update(k for k, v in json.loads(line).items() if v)
    assert "txn" in kinds and ("add" in kinds or "remove" in kinds)
    assert _mv_state(spark, m) == _expected(spark, b)


def test_cancelling_changes_still_advance_watermark(spark, tmp_path):
    """Deltas that cancel to nothing must still advance the watermark
    (txn-only commit) so the CDF range is not re-read forever."""
    from deltalake_datafusion_spark.delta.mv import mv_watermark
    from deltalake_datafusion_spark.delta.snapshot import load_snapshot

    b, m = str(tmp_path / "b"), str(tmp_path / "m")
    _base(spark, b)
    build_aggregate_mv(spark, b, m, ["g"], ["v"])
    # insert then delete the same rows: net per-group delta = 0
    write_delta(
        spark,
        spark.createDataFrame(
            [(900, 2, 7), (901, 3, 8)], "id long, g long, v long"
        ),
        b,
        mode="append",
        configuration=CDF,
    )
    delete_delta(spark, b, "id >= 900")
    res = refresh_aggregate_mv(spark, b, m, ["g"], ["v"])
    assert res["mode"] == "incremental" and res["groups_touched"] == 0
    snap = load_snapshot(m, spark=spark)
    assert mv_watermark(snap) == res["base_version"]
    assert refresh_aggregate_mv(spark, b, m, ["g"], ["v"])["mode"] == "noop"
    assert _mv_state(spark, m) == _expected(spark, b)


def test_streaming_fresh_checkpoint_does_not_double_apply(spark, tmp_path):
    """ADVICE r9: a second streaming run with a FRESH checkpoint dir
    restarts micro-batch ids at 0 — the replay guard is keyed on the
    committed _commit_version watermark, so already-merged changes
    filter to empty instead of double-counting."""
    from deltalake_datafusion_spark.delta.mv import (
        streaming_refresh_aggregate_mv,
    )

    b, m = str(tmp_path / "b"), str(tmp_path / "m")
    _base(spark, b)
    build_aggregate_mv(spark, b, m, ["g"], ["v"])
    write_delta(
        spark,
        spark.createDataFrame([(300, 5, 50)], "id long, g long, v long"),
        b,
        mode="append",
        configuration=CDF,
    )
    streaming_refresh_aggregate_mv(
        spark, b, m, ["g"], ["v"], str(tmp_path / "ck1")
    )
    assert _mv_state(spark, m) == _expected(spark, b)
    # new changes, then a run with a BRAND-NEW checkpoint that replays
    # the whole CDF from the build watermark
    delete_delta(spark, b, "g = 1")
    streaming_refresh_aggregate_mv(
        spark, b, m, ["g"], ["v"], str(tmp_path / "ck2"),
        starting_version=1,
    )
    assert _mv_state(spark, m) == _expected(spark, b)


def test_streaming_then_batch_refresh_no_double_apply(spark, tmp_path):
    """ADVICE r9: a batch refresh AFTER a streaming run must see the
    stream-advanced watermark (it commits with every merge) and apply
    nothing twice."""
    from deltalake_datafusion_spark.delta.mv import (
        streaming_refresh_aggregate_mv,
    )

    b, m = str(tmp_path / "b"), str(tmp_path / "m")
    _base(spark, b)
    build_aggregate_mv(spark, b, m, ["g"], ["v"])
    write_delta(
        spark,
        spark.createDataFrame([(400, 6, 60)], "id long, g long, v long"),
        b,
        mode="append",
        configuration=CDF,
    )
    streaming_refresh_aggregate_mv(
        spark, b, m, ["g"], ["v"], str(tmp_path / "ck")
    )
    assert _mv_state(spark, m) == _expected(spark, b)
    res = refresh_aggregate_mv(spark, b, m, ["g"], ["v"])
    assert res["mode"] == "noop"  # stream already advanced the watermark
    assert _mv_state(spark, m) == _expected(spark, b)


# ---------------------------------------------------------------- #
# MIN/MAX-bearing MVs (delete-aware recompute)                      #
# ---------------------------------------------------------------- #


def _mm_state(spark, mv_path):
    return {
        r.g: (r.mv_count, r.mv_sum_v, r.mv_min_v, r.mv_max_v)
        for r in read_delta(spark, mv_path).collect()
    }


def _mm_expected(spark, base_path):
    return {
        r.g: (r.c, r.s, r.mn, r.mx)
        for r in read_delta(spark, base_path)
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("c"),
            F.sum("v").alias("s"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        .collect()
    }


def test_minmax_mv_insert_only_monotone_merge(spark, tmp_path):

    b, m = str(tmp_path / "b"), str(tmp_path / "m")
    _base(spark, b)
    build_aggregate_mv(spark, b, m, ["g"], ["v"], ["v"])
    assert _mm_state(spark, m) == _mm_expected(spark, b)
    write_delta(
        spark,
        spark.createDataFrame(
            [(100, 0, -5), (101, 9, 999)], "id long, g long, v long"
        ),
        b,
        mode="append",
        configuration=CDF,
    )
    res = refresh_aggregate_mv(spark, b, m, ["g"], ["v"], ["v"])
    assert res["mode"] == "incremental"
    assert _mm_state(spark, m) == _mm_expected(spark, b)


def test_minmax_mv_delete_of_minimum_recomputes_group(spark, tmp_path):

    b, m = str(tmp_path / "b"), str(tmp_path / "m")
    _base(spark, b)  # v = id * 10; min of group g is id=g
    build_aggregate_mv(spark, b, m, ["g"], ["v"], ["v"])
    # delete group 1's minimum (id=1, v=10) and group 2's MAXIMUM
    delete_delta(spark, b, "id IN (1, 38)")
    refresh_aggregate_mv(spark, b, m, ["g"], ["v"], ["v"])
    st = _mm_state(spark, m)
    assert st == _mm_expected(spark, b)
    assert st[1][2] == 50  # new min of group 1 is id=5 -> 50
    assert st[2][3] == 340  # new max of group 2 is id=34 -> 340


def test_minmax_mv_group_move_and_multi_round(spark, tmp_path):

    b, m = str(tmp_path / "b"), str(tmp_path / "m")
    _base(spark, b, n=60)
    build_aggregate_mv(spark, b, m, ["g"], ["v"], ["v"])
    for step in range(3):
        write_delta(
            spark,
            spark.createDataFrame(
                [(3000 + step * 10 + i, (i + step) % 7, (i - 3) * 11)
                 for i in range(6)],
                "id long, g long, v long",
            ),
            b,
            mode="append",
            configuration=CDF,
        )
        update_delta(
            spark, b, set_exprs={"g": "(g + 1) % 5"},
            predicate=f"id % 9 = {step}",
        )
        delete_delta(spark, b, f"id % 7 = {step}")
        refresh_aggregate_mv(spark, b, m, ["g"], ["v"], ["v"])
        assert _mm_state(spark, m) == _mm_expected(spark, b), f"step {step}"


def test_minmax_mv_new_group_with_inwindow_delete(spark, tmp_path):
    """A group born AND partially deleted inside one refresh window:
    its min/max must come from the recompute, not the inserted-value
    stats (which would include the already-deleted row)."""

    b, m = str(tmp_path / "b"), str(tmp_path / "m")
    _base(spark, b)
    build_aggregate_mv(spark, b, m, ["g"], ["v"], ["v"])
    write_delta(
        spark,
        spark.createDataFrame(
            [(900, 77, -1000), (901, 77, 5), (902, 77, 60)],
            "id long, g long, v long",
        ),
        b,
        mode="append",
        configuration=CDF,
    )
    delete_delta(spark, b, "id = 900")  # removes the would-be minimum
    refresh_aggregate_mv(spark, b, m, ["g"], ["v"], ["v"])
    st = _mm_state(spark, m)
    assert st[77] == (2, 65, 5, 60)
    assert st == _mm_expected(spark, b)


def test_minmax_mv_insert_only_never_opens_base(spark, tmp_path, monkeypatch):
    """SCALE GUARD: an insert-only refresh merges min/max
    monotonically — the base table is never re-read."""
    import deltalake_datafusion_spark.delta.scan as scan_mod


    b, m = str(tmp_path / "b"), str(tmp_path / "m")
    _base(spark, b)
    build_aggregate_mv(spark, b, m, ["g"], ["v"], ["v"])
    write_delta(
        spark,
        spark.createDataFrame([(700, 3, 1)], "id long, g long, v long"),
        b,
        mode="append",
        configuration=CDF,
    )
    real = scan_mod.read_delta
    opened = []

    def spy(spark_, path, *a, **kw):
        opened.append(path)
        return real(spark_, path, *a, **kw)

    monkeypatch.setattr(scan_mod, "read_delta", spy)
    refresh_aggregate_mv(spark, b, m, ["g"], ["v"], ["v"])
    assert not any(p == b for p in opened), opened
    assert _mm_state(spark, m) == _mm_expected(spark, b)


def test_minmax_mv_delete_refresh_pushes_group_predicate(
    spark, tmp_path, monkeypatch
):
    """SCALE GUARD: the delete-triggered recompute reads the base
    pruned to the affected group keys via a pushed IN predicate."""
    import deltalake_datafusion_spark.delta.scan as scan_mod


    b, m = str(tmp_path / "b"), str(tmp_path / "m")
    _base(spark, b)
    build_aggregate_mv(spark, b, m, ["g"], ["v"], ["v"])
    delete_delta(spark, b, "id = 2")  # group 2 only
    real = scan_mod.read_delta
    preds = []

    def spy(spark_, path, *a, **kw):
        if path == b:
            preds.append(kw.get("predicate"))
        return real(spark_, path, *a, **kw)

    monkeypatch.setattr(scan_mod, "read_delta", spy)
    refresh_aggregate_mv(spark, b, m, ["g"], ["v"], ["v"])
    assert preds and all(p and "g IN (2)" in p for p in preds), preds
    assert _mm_state(spark, m) == _mm_expected(spark, b)


# ------------------------------------------------------------------ #
# Concurrent-refresh watermark guards (ADVICE r10)                    #
# ------------------------------------------------------------------ #


def _apply(spark, m, changes, applied, target):
    """Apply a frozen change frame covering ``(applied, target]``
    through the signed-delta core, as a stale maintainer would."""
    from deltalake_datafusion_spark.delta.mv import (
        MV_TXN_APP,
        apply_signed_rows,
        signed_rows,
    )

    return apply_signed_rows(
        spark, m, signed_rows(changes, ["g", "v"]), ["g"], ["v"],
        {MV_TXN_APP: (applied, target)},
    )


def test_concurrent_refresh_fully_covered_skips(spark, tmp_path):
    """A stale maintainer re-applying a CDF range a concurrent
    refresh already fully covered must no-op, not double-count."""
    from deltalake_datafusion_spark.delta.cdf import table_changes
    from deltalake_datafusion_spark.delta.mv import mv_watermark
    from deltalake_datafusion_spark.delta.snapshot import load_snapshot

    b, m = str(tmp_path / "b"), str(tmp_path / "m")
    _base(spark, b)
    build_aggregate_mv(spark, b, m, ["g"], ["v"])
    extra = spark.createDataFrame(
        [(200, 1, 17), (201, 2, 19)], "id long, g long, v long"
    )
    write_delta(spark, extra, b, mode="append", configuration=CDF)
    applied = mv_watermark(load_snapshot(m, spark=spark))
    base_ver = load_snapshot(b, spark=spark).version
    # the stale maintainer freezes its delta source…
    ch = table_changes(spark, b, applied + 1, base_ver).localCheckpoint(
        eager=True
    )
    # …while a concurrent refresh wins the race
    refresh_aggregate_mv(spark, b, m, ["g"], ["v"])
    state = _mv_state(spark, m)
    assert state == _expected(spark, b)
    n = _apply(spark, m, ch, applied, base_ver)
    assert n == 0
    assert _mv_state(spark, m) == state  # nothing double-applied


def test_concurrent_partial_overlap_raises_then_entrypoint_heals(
    spark, tmp_path
):
    """A concurrent refresh advancing the watermark INTO a stale
    delta's range makes the frozen delta unusable: the guarded merge
    raises, and the public refresh recomputes from the new watermark."""
    from deltalake_datafusion_spark.delta.cdf import table_changes
    from deltalake_datafusion_spark.delta.mv import mv_watermark
    from deltalake_datafusion_spark.delta.ops import (
        ConcurrentRefreshError,
    )
    from deltalake_datafusion_spark.delta.snapshot import load_snapshot

    b, m = str(tmp_path / "b"), str(tmp_path / "m")
    _base(spark, b)
    build_aggregate_mv(spark, b, m, ["g"], ["v"])
    applied = mv_watermark(load_snapshot(m, spark=spark))
    e1 = spark.createDataFrame([(300, 1, 23)], "id long, g long, v long")
    write_delta(spark, e1, b, mode="append", configuration=CDF)
    v1 = load_snapshot(b, spark=spark).version
    e2 = spark.createDataFrame([(301, 2, 29)], "id long, g long, v long")
    write_delta(spark, e2, b, mode="append", configuration=CDF)
    v2 = load_snapshot(b, spark=spark).version
    # stale maintainer freezes the FULL range (applied, v2]
    ch_full = table_changes(spark, b, applied + 1, v2).localCheckpoint(
        eager=True
    )
    # concurrent refresh applies only the sub-range (applied, v1]
    _apply(spark, m, table_changes(spark, b, applied + 1, v1), applied, v1)
    with pytest.raises(ConcurrentRefreshError):
        _apply(spark, m, ch_full, applied, v2)
    # the entry point retries from the advanced watermark
    res = refresh_aggregate_mv(spark, b, m, ["g"], ["v"])
    assert res["mode"] == "incremental"
    assert _mv_state(spark, m) == _expected(spark, b)


def test_cancelling_range_partial_overlap_cannot_jump_watermark(
    spark, tmp_path
):
    """Net-zero FULL-range deltas do not license jumping the
    watermark over a concurrent refresh that applied only a NON-zero
    sub-range (the unapplied complement's net is then non-zero)."""
    from deltalake_datafusion_spark.delta.cdf import table_changes
    from deltalake_datafusion_spark.delta.mv import mv_watermark
    from deltalake_datafusion_spark.delta.ops import (
        ConcurrentRefreshError,
    )
    from deltalake_datafusion_spark.delta.snapshot import load_snapshot

    b, m = str(tmp_path / "b"), str(tmp_path / "m")
    _base(spark, b)
    build_aggregate_mv(spark, b, m, ["g"], ["v"])
    applied = mv_watermark(load_snapshot(m, spark=spark))
    # insert then delete the same row: full range nets to zero
    e1 = spark.createDataFrame([(400, 1, 31)], "id long, g long, v long")
    write_delta(spark, e1, b, mode="append", configuration=CDF)
    v1 = load_snapshot(b, spark=spark).version
    delete_delta(spark, b, "id = 400")
    v2 = load_snapshot(b, spark=spark).version
    ch_full = table_changes(spark, b, applied + 1, v2).localCheckpoint(
        eager=True
    )
    # concurrent refresh applied the insert half only
    _apply(spark, m, table_changes(spark, b, applied + 1, v1), applied, v1)
    with pytest.raises(ConcurrentRefreshError):
        _apply(spark, m, ch_full, applied, v2)
    refresh_aggregate_mv(spark, b, m, ["g"], ["v"])
    assert _mv_state(spark, m) == _expected(spark, b)


def test_minmax_semi_join_fallback_past_inline_ceiling(
    spark, tmp_path, monkeypatch
):
    """Force the > MAX_INLINE_KEYS broadcast-semi-join recompute
    path (the at-scale branch): still exactly the full recompute."""
    import deltalake_datafusion_spark.delta.mv as mv_mod

    monkeypatch.setattr(mv_mod, "MAX_INLINE_KEYS", 1)
    b, m = str(tmp_path / "b"), str(tmp_path / "m")
    _base(spark, b)
    build_aggregate_mv(spark, b, m, ["g"], ["v"], ["v"])
    delete_delta(spark, b, "id % 10 < 4")  # deletes touch every group
    res = refresh_aggregate_mv(spark, b, m, ["g"], ["v"], ["v"])
    assert res["mode"] == "incremental"
    assert _mm_state(spark, m) == _mm_expected(spark, b)


def test_minmax_null_group_key_retraction(spark, tmp_path):
    """ADVICE r11: a NULL group key touched by a retraction must get
    its RECOMPUTED min/max (the delta↔recompute join and the
    recompute's group pruning are null-safe, like the MERGE's own
    ``<=>`` ON) — not NULL extrema while the group still has rows."""

    b, m = str(tmp_path / "b"), str(tmp_path / "m")
    rows = [(1, None, 10), (2, None, 50), (3, None, 90),
            (4, 7, 20), (5, 7, 80)]
    df = spark.createDataFrame(rows, "id long, g long, v long")
    write_delta(spark, df, b, configuration=CDF)
    build_aggregate_mv(spark, b, m, ["g"], ["v"], ["v"])
    # retract the NULL group's MAX and the keyed group's MIN
    delete_delta(spark, b, "id = 3 OR id = 4")
    refresh_aggregate_mv(spark, b, m, ["g"], ["v"], ["v"])
    got = {
        r.g: (r.mv_count, r.mv_sum_v, r.mv_min_v, r.mv_max_v)
        for r in read_delta(spark, m).collect()
    }
    assert got == {None: (2, 60, 10, 50), 7: (1, 80, 80, 80)}


def test_watermark_only_commit_revalidates_after_concurrent_txn(
    spark, tmp_path, monkeypatch
):
    """ADVICE r11: a watermark-only commit racing a concurrent
    refresh's txn advance must NOT be silently rebased over it
    (regressing the watermark → the next refresh re-applies the CDF
    range). Injected race: the first commit attempt loses to a
    concurrent commit that advances the watermark PAST the target —
    the loop re-validates and returns without regressing."""
    import deltalake_datafusion_spark.delta.writer as writer_mod
    from deltalake_datafusion_spark.delta.mv import (
        MV_TXN_APP,
        _commit_watermarks,
        _txn,
        mv_watermark,
    )
    from deltalake_datafusion_spark.delta.snapshot import load_snapshot

    b, m = str(tmp_path / "b"), str(tmp_path / "m")
    _base(spark, b)
    build_aggregate_mv(spark, b, m, ["g"], ["v"])
    applied = mv_watermark(load_snapshot(m, spark=spark))

    real_commit = writer_mod.commit
    state = {"raced": False}

    def racing_commit(table_path, version, actions, operation, sp,
                      **kw):
        if not state["raced"] and any("txn" in a for a in actions):
            state["raced"] = True
            # concurrent refresh wins the version with a HIGHER
            # watermark than this caller's target
            real_commit(
                table_path, version, [_txn(MV_TXN_APP, applied + 5)],
                "SET TRANSACTION", sp,
                configuration=kw.get("configuration"),
            )
        return real_commit(
            table_path, version, actions, operation, sp, **kw
        )

    monkeypatch.setattr(writer_mod, "commit", racing_commit)
    _commit_watermarks(spark, m, {MV_TXN_APP: (applied, applied + 2)})
    assert state["raced"]
    # the loser re-validated and did NOT regress the watermark
    assert mv_watermark(load_snapshot(m, spark=spark)) == applied + 5


def test_interleaved_refreshes_both_succeed(spark, tmp_path, monkeypatch):
    """VERDICT r11 #1: two refreshes of the same MV racing — the
    loser's MERGE commit collides with the winner's, the guard
    detects the covered range, and BOTH callers return success with
    the view equal to the full recompute (no double-apply). Injected
    race: a full concurrent refresh runs right before the outer
    refresh's merge commit lands."""
    import deltalake_datafusion_spark.delta.writer as writer_mod

    b, m = str(tmp_path / "b"), str(tmp_path / "m")
    _base(spark, b)
    build_aggregate_mv(spark, b, m, ["g"], ["v"])
    extra = spark.createDataFrame(
        [(200, 1, 17), (201, 5, 19)], "id long, g long, v long"
    )
    write_delta(spark, extra, b, mode="append", configuration=CDF)
    delete_delta(spark, b, "id = 0")

    real_commit = writer_mod.commit
    state = {"raced": False, "inner": None, "in_race": False}

    def racing_commit(table_path, version, actions, operation, sp,
                      **kw):
        if (
            not state["raced"]
            and not state["in_race"]
            and operation == "MERGE"
            and table_path == m
        ):
            state["raced"] = True
            state["in_race"] = True
            try:  # the concurrent refresh applies the SAME range
                state["inner"] = refresh_aggregate_mv(
                    spark, b, m, ["g"], ["v"]
                )
            finally:
                state["in_race"] = False
        return real_commit(
            table_path, version, actions, operation, sp, **kw
        )

    monkeypatch.setattr(writer_mod, "commit", racing_commit)
    outer = refresh_aggregate_mv(spark, b, m, ["g"], ["v"])
    assert state["raced"]
    assert state["inner"]["mode"] == "incremental"
    assert outer["mode"] in ("incremental", "noop")
    assert _mv_state(spark, m) == _expected(spark, b)


def test_sum_null_exactness_and_cnt_cols(spark, tmp_path):
    """ADVICE r11 (high): the maintained SUM must be NULL-exact — a
    group whose non-null count reaches 0 returns to SUM=NULL (not a
    coalesced 0), and per-column non-null counts (mv_cnt_<c>) track
    COUNT(c) through build and every incremental shape, including a
    NULL→value update that moves ONLY the non-null count."""
    b, m = str(tmp_path / "b"), str(tmp_path / "m")
    rows = [(1, 0, None), (2, 0, None), (3, 1, 5), (4, 1, None),
            (5, 2, 7)]
    df = spark.createDataFrame(rows, "id long, g long, v long")
    write_delta(spark, df, b, configuration=CDF)
    build_aggregate_mv(spark, b, m, ["g"], ["v"])

    def state():
        return {
            r.g: (r.mv_count, r.mv_sum_v, r.mv_cnt_v)
            for r in read_delta(spark, m).collect()
        }

    assert state() == {0: (2, None, 0), 1: (2, 5, 1), 2: (1, 7, 1)}
    # group 1 loses its only non-null value → SUM returns to NULL
    delete_delta(spark, b, "id = 3")
    refresh_aggregate_mv(spark, b, m, ["g"], ["v"])
    assert state() == {0: (2, None, 0), 1: (1, None, 0), 2: (1, 7, 1)}
    # NULL→0 update: d_count=0 and d_v=0, but the non-null count moves
    update_delta(spark, b, set_exprs={"v": "0"}, predicate="id = 1")
    refresh_aggregate_mv(spark, b, m, ["g"], ["v"])
    assert state() == {0: (2, 0, 1), 1: (1, None, 0), 2: (1, 7, 1)}
    # and back to all-NULL
    update_delta(spark, b, set_exprs={"v": "NULL"}, predicate="id = 1")
    refresh_aggregate_mv(spark, b, m, ["g"], ["v"])
    assert state() == {0: (2, None, 0), 1: (1, None, 0), 2: (1, 7, 1)}


def test_minmax_interior_delete_never_opens_base(
    spark, tmp_path, monkeypatch
):
    """VERDICT r11 #3 (fast-path): retractions strictly INSIDE every
    touched group's stored (min, max) cannot move an extremum — the
    refresh must not open the base table at all."""
    import deltalake_datafusion_spark.delta.scan as scan_mod


    b, m = str(tmp_path / "b"), str(tmp_path / "m")
    _base(spark, b)
    build_aggregate_mv(spark, b, m, ["g"], ["v"], ["v"])
    # group 1 holds ids 1,5,...,37 (v = 10..370): id=5 (v=50) and
    # id=9 (v=90) are strictly interior
    delete_delta(spark, b, "id = 5 OR id = 9")
    real = scan_mod.read_delta
    opened = []

    def spy(spark_, path, *a, **kw):
        opened.append(path)
        return real(spark_, path, *a, **kw)

    monkeypatch.setattr(scan_mod, "read_delta", spy)
    refresh_aggregate_mv(spark, b, m, ["g"], ["v"], ["v"])
    base_opens = [p for p in opened if p == b]
    assert not base_opens, base_opens
    assert _mm_state(spark, m) == _mm_expected(spark, b)


def test_minmax_mixed_interior_and_extremum_deletes(
    spark, tmp_path, monkeypatch
):
    """Mixed retractions: only the group that lost an extremum is
    recomputed (the pushed IN predicate names it alone); the
    interior group merges monotonically. Result equals recompute."""
    import deltalake_datafusion_spark.delta.scan as scan_mod


    b, m = str(tmp_path / "b"), str(tmp_path / "m")
    _base(spark, b)
    build_aggregate_mv(spark, b, m, ["g"], ["v"], ["v"])
    # id=5 → group 1 interior (v=50); id=2 → group 2 MIN (v=20);
    # also insert a new group-1 row below its min (monotone merge)
    delete_delta(spark, b, "id = 5 OR id = 2")
    write_delta(
        spark,
        spark.createDataFrame([(900, 1, -5)], "id long, g long, v long"),
        b, mode="append", configuration=CDF,
    )
    real = scan_mod.read_delta
    preds = []

    def spy(spark_, path, *a, **kw):
        if path == b:
            preds.append(kw.get("predicate"))
        return real(spark_, path, *a, **kw)

    monkeypatch.setattr(scan_mod, "read_delta", spy)
    refresh_aggregate_mv(spark, b, m, ["g"], ["v"], ["v"])
    assert preds and all(p and "g IN (2)" in p for p in preds), preds
    assert _mm_state(spark, m) == _mm_expected(spark, b)


def test_streaming_minmax_refresh_matches_full_recompute(
    spark, tmp_path
):
    """CONTINUOUS maintenance of a MIN/MAX-bearing view
    (streaming_refresh_aggregate_mv with minmax_cols):
    extremum-removing deletes,
    interior deletes, and inserts across micro-batches leave the
    view exactly equal to the full recompute; a second run over the
    same checkpoint applies nothing."""
    from deltalake_datafusion_spark.delta.mv import (
        streaming_refresh_aggregate_mv,
    )

    b, m = str(tmp_path / "b"), str(tmp_path / "m")
    ck = str(tmp_path / "ck")
    _base(spark, b)
    build_aggregate_mv(spark, b, m, ["g"], ["v"], ["v"])
    # extremum delete (id=2 is group 2's min), interior delete
    # (id=5 is inside group 1's range), inserts incl. a new group
    delete_delta(spark, b, "id = 2 OR id = 5")
    write_delta(
        spark,
        spark.createDataFrame(
            [(300, 1, -7), (301, 9, 4)], "id long, g long, v long"
        ),
        b, mode="append", configuration=CDF,
    )
    streaming_refresh_aggregate_mv(
        spark, b, m, ["g"], ["v"], ck, minmax_cols=["v"]
    )
    assert _mm_state(spark, m) == _mm_expected(spark, b)
    streaming_refresh_aggregate_mv(
        spark, b, m, ["g"], ["v"], ck, minmax_cols=["v"]
    )
    assert _mm_state(spark, m) == _mm_expected(spark, b)
    # more changes, same checkpoint: only the new commits apply
    delete_delta(spark, b, "g = 3")
    streaming_refresh_aggregate_mv(
        spark, b, m, ["g"], ["v"], ck, minmax_cols=["v"]
    )
    assert _mm_state(spark, m) == _mm_expected(spark, b)


def test_sum_only_refresh_rejects_minmax_view(spark, tmp_path):
    """A refresh whose ``minmax_cols`` omit the view's MIN/MAX columns
    is refused (extrema would go silently stale), batch and
    streaming alike — and so is one naming MIN/MAX columns a
    count/sum view does not maintain."""
    from deltalake_datafusion_spark.delta.mv import (
        streaming_refresh_aggregate_mv,
    )

    b, m = str(tmp_path / "b"), str(tmp_path / "m")
    _base(spark, b)
    build_aggregate_mv(spark, b, m, ["g"], ["v"], ["v"])
    delete_delta(spark, b, "id = 0")
    with pytest.raises(ValueError, match="MIN/MAX"):
        refresh_aggregate_mv(spark, b, m, ["g"], ["v"])
    with pytest.raises(ValueError, match="MIN/MAX"):
        streaming_refresh_aggregate_mv(
            spark, b, m, ["g"], ["v"], str(tmp_path / "ck2")
        )
    c = str(tmp_path / "c")
    build_aggregate_mv(spark, b, c, ["g"], ["v"])
    with pytest.raises(ValueError, match="MIN/MAX"):
        refresh_aggregate_mv(spark, b, c, ["g"], ["v"], ["v"])


def test_minmax_small_interior_and_extremum_deletes(spark, tmp_path):
    """Tier-1 twin of the min/max refresh paths on a 12-row base:
    an interior delete (monotone merge), an extremum delete
    (targeted recompute), a whole-group delete and an insert in one
    refresh, equal to the full recompute."""
    b, m = str(tmp_path / "b"), str(tmp_path / "m")
    _base(spark, b, n=12)  # g = id % 4, v = id * 10
    build_aggregate_mv(spark, b, m, ["g"], ["v"], ["v"])
    # g1 = {10, 50, 90}: 50 is interior; g2 = {20, 60, 100}: 20 is
    # its minimum; g3 disappears
    delete_delta(spark, b, "id IN (5, 2) OR g = 3")
    write_delta(
        spark,
        spark.createDataFrame([(99, 0, 7)], "id long, g long, v long"),
        b, mode="append", configuration=CDF,
    )
    res = refresh_aggregate_mv(spark, b, m, ["g"], ["v"], ["v"])
    assert res["mode"] == "incremental"
    st = _mm_state(spark, m)
    assert st == _mm_expected(spark, b)
    assert st[1] == (2, 100, 10, 90) and st[2] == (2, 160, 60, 100)
