"""Fact⋈dim star materialized views with two-sided CDF delta
maintenance (delta/mv_join.py): every refresh must leave the view
EXACTLY equal to the full recompute of fact⋈dim at the bases'
current versions — fact inserts/updates/deletes, dim attribute
updates (SCD), dim inserts that ACTIVATE standing fact rows, dim
deletes that deactivate them, and simultaneous two-sided changes.
Also pins the crash-safety and scale contracts: one atomic commit
carrying both watermark txns, and a fact-only refresh that never
opens the fact table (CDF tail only)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from deltalake_datafusion_spark.delta.cdf import table_changes
from deltalake_datafusion_spark.delta.mv_join import (
    MV_DIM_TXN_APP,
    MV_FACT_TXN_APP,
    build_join_mv,
    join_mv_watermarks,
    refresh_join_mv,
)
from deltalake_datafusion_spark.delta.ops import delete_delta, update_delta
from deltalake_datafusion_spark.delta.scan import read_delta
from deltalake_datafusion_spark.delta.snapshot import load_snapshot
from deltalake_datafusion_spark.delta.writer import write_delta

CDF = {"delta.enableChangeDataFeed": "true"}
KW = dict(
    fact_key="fk",
    dim_key="dk",
    group_cols=["seg"],
    sum_cols=["amt"],
)


def _bases(spark, fp, dp, n=60, n_dim=8):
    fact = spark.range(n).select(
        F.col("id"),
        (F.col("id") % 10).alias("fk"),  # keys 8,9 dangle (no dim row)
        (F.col("id") * 5 + 1).alias("amt"),
    )
    dim = spark.range(n_dim).select(
        F.col("id").alias("dk"),
        F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("seg"),
    )
    write_delta(spark, fact, fp, configuration=CDF)
    write_delta(spark, dim, dp, configuration=CDF)


def _mv_state(spark, mv_path):
    return {
        r.seg: (r.mv_count, r.mv_sum_amt)
        for r in read_delta(spark, mv_path).collect()
    }


def _expected(spark, fp, dp):
    f, d = read_delta(spark, fp), read_delta(spark, dp)
    return {
        r.seg: (r.c, r.s)
        for r in f.join(d, f.fk == d.dk)
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).cast("long").alias("c"),
            F.sum("amt").alias("s"),
        )
        .collect()
    }


def test_full_build_matches_join_agg(spark, tmp_path):
    fp, dp, m = (str(tmp_path / x) for x in ("f", "d", "m"))
    _bases(spark, fp, dp)
    res = build_join_mv(spark, fp, dp, m, **KW)
    assert res["mode"] == "full"
    assert _mv_state(spark, m) == _expected(spark, fp, dp)


def test_fact_changes_only(spark, tmp_path):
    fp, dp, m = (str(tmp_path / x) for x in ("f", "d", "m"))
    _bases(spark, fp, dp)
    build_join_mv(spark, fp, dp, m, **KW)
    write_delta(
        spark,
        spark.createDataFrame(
            [(500, 0, 1000), (501, 9, 7)],  # 9 dangles: joins nothing
            "id long, fk long, amt long",
        ),
        fp,
        mode="append",
        configuration=CDF,
    )
    update_delta(spark, fp, set_exprs={"amt": "amt + 2"}, predicate="id < 5")
    delete_delta(spark, fp, "id >= 55 AND id < 60")
    res = refresh_join_mv(spark, fp, dp, m, **KW)
    assert res["mode"] == "incremental"
    assert _mv_state(spark, m) == _expected(spark, fp, dp)


def test_dim_scd_attribute_update(spark, tmp_path):
    """A dim attribute update (SCD overwrite) re-aggregates every
    affected group via the dim key — fact rows move between groups."""
    fp, dp, m = (str(tmp_path / x) for x in ("f", "d", "m"))
    _bases(spark, fp, dp)
    build_join_mv(spark, fp, dp, m, **KW)
    update_delta(spark, dp, set_exprs={"seg": "'s9'"}, predicate="dk IN (1, 4)")
    res = refresh_join_mv(spark, fp, dp, m, **KW)
    assert res["mode"] == "incremental"
    assert _mv_state(spark, m) == _expected(spark, fp, dp)


def test_dim_insert_activates_dangling_fact_rows(spark, tmp_path):
    fp, dp, m = (str(tmp_path / x) for x in ("f", "d", "m"))
    _bases(spark, fp, dp)
    build_join_mv(spark, fp, dp, m, **KW)
    write_delta(
        spark,
        spark.createDataFrame([(8, "s8"), (9, "s8")], "dk long, seg string"),
        dp,
        mode="append",
        configuration=CDF,
    )
    refresh_join_mv(spark, fp, dp, m, **KW)
    state = _mv_state(spark, m)
    assert "s8" in state  # the previously-dangling fk 8,9 rows joined in
    assert state == _expected(spark, fp, dp)


def test_dim_delete_deactivates_group(spark, tmp_path):
    fp, dp, m = (str(tmp_path / x) for x in ("f", "d", "m"))
    _bases(spark, fp, dp)
    build_join_mv(spark, fp, dp, m, **KW)
    delete_delta(spark, dp, "seg = 's2'")
    refresh_join_mv(spark, fp, dp, m, **KW)
    state = _mv_state(spark, m)
    assert "s2" not in state
    assert state == _expected(spark, fp, dp)


def test_both_sides_change_in_one_refresh(spark, tmp_path):
    """The −ΔF⋈ΔD correction term: simultaneous fact appends AND dim
    updates touching the same keys must not double-count."""
    fp, dp, m = (str(tmp_path / x) for x in ("f", "d", "m"))
    _bases(spark, fp, dp)
    build_join_mv(spark, fp, dp, m, **KW)
    write_delta(
        spark,
        spark.createDataFrame(
            [(600, 1, 11), (601, 4, 13)], "id long, fk long, amt long"
        ),
        fp,
        mode="append",
        configuration=CDF,
    )
    update_delta(spark, dp, set_exprs={"seg": "'sx'"}, predicate="dk IN (1, 4)")
    delete_delta(spark, fp, "id IN (1, 11)")
    res = refresh_join_mv(spark, fp, dp, m, **KW)
    assert res["mode"] == "incremental"
    assert _mv_state(spark, m) == _expected(spark, fp, dp)


def test_multi_round_two_sided_equivalence(spark, tmp_path):
    fp, dp, m = (str(tmp_path / x) for x in ("f", "d", "m"))
    _bases(spark, fp, dp, n=80, n_dim=10)
    build_join_mv(spark, fp, dp, m, **KW)
    for step in range(3):
        write_delta(
            spark,
            spark.createDataFrame(
                [(2000 + step * 10 + i, (i * 3 + step) % 12, i + step)
                 for i in range(6)],
                "id long, fk long, amt long",
            ),
            fp,
            mode="append",
            configuration=CDF,
        )
        update_delta(
            spark, dp,
            set_exprs={"seg": f"concat('t', {step})"},
            predicate=f"dk % 4 = {step}",
        )
        delete_delta(spark, fp, f"id % 13 = {step}")
        refresh_join_mv(spark, fp, dp, m, **KW)
        assert _mv_state(spark, m) == _expected(spark, fp, dp), f"step {step}"


def test_noop_and_watermarks(spark, tmp_path):
    fp, dp, m = (str(tmp_path / x) for x in ("f", "d", "m"))
    _bases(spark, fp, dp)
    build_join_mv(spark, fp, dp, m, **KW)
    assert refresh_join_mv(spark, fp, dp, m, **KW)["mode"] == "noop"
    delete_delta(spark, fp, "id = 0")
    res = refresh_join_mv(spark, fp, dp, m, **KW)
    snap = load_snapshot(m, spark=spark)
    assert join_mv_watermarks(snap) == (
        res["fact_version"], res["dim_version"]
    )
    assert refresh_join_mv(spark, fp, dp, m, **KW)["mode"] == "noop"


def test_refresh_is_one_atomic_commit_with_both_txns(spark, tmp_path):
    """Crash safety: the merged deltas and BOTH watermark txns are one
    Delta commit — no trailing watermark commit to lose."""
    import json
    import os

    fp, dp, m = (str(tmp_path / x) for x in ("f", "d", "m"))
    _bases(spark, fp, dp)
    build_join_mv(spark, fp, dp, m, **KW)
    v0 = load_snapshot(m, spark=spark).version
    update_delta(spark, dp, set_exprs={"seg": "'sz'"}, predicate="dk = 2")
    refresh_join_mv(spark, fp, dp, m, **KW)
    snap = load_snapshot(m, spark=spark)
    assert snap.version == v0 + 1
    tip = os.path.join(m, "_delta_log", f"{snap.version:020d}.json")
    apps, kinds = set(), set()
    with open(tip) as f:
        for line in f:
            for k, v in json.loads(line).items():
                if not v:
                    continue
                kinds.add(k)
                if k == "txn":
                    apps.add(v["appId"])
    assert apps == {MV_FACT_TXN_APP, MV_DIM_TXN_APP}
    assert "add" in kinds or "remove" in kinds


def test_cancelling_changes_still_advance_watermarks(spark, tmp_path):
    fp, dp, m = (str(tmp_path / x) for x in ("f", "d", "m"))
    _bases(spark, fp, dp)
    build_join_mv(spark, fp, dp, m, **KW)
    write_delta(
        spark,
        spark.createDataFrame([(900, 2, 7)], "id long, fk long, amt long"),
        fp,
        mode="append",
        configuration=CDF,
    )
    delete_delta(spark, fp, "id = 900")
    res = refresh_join_mv(spark, fp, dp, m, **KW)
    assert res["groups_touched"] == 0
    assert join_mv_watermarks(load_snapshot(m, spark=spark)) == (
        res["fact_version"], res["dim_version"]
    )
    assert refresh_join_mv(spark, fp, dp, m, **KW)["mode"] == "noop"
    assert _mv_state(spark, m) == _expected(spark, fp, dp)


def test_fact_only_refresh_never_scans_fact(spark, tmp_path, monkeypatch):
    """SCALE GUARD: when only the fact changed, the refresh reads the
    fact CDF tail + the (broadcast) current dim — the 100-TB fact
    table itself is NEVER opened."""
    import deltalake_datafusion_spark.delta.scan as scan_mod

    fp, dp, m = (str(tmp_path / x) for x in ("f", "d", "m"))
    _bases(spark, fp, dp)
    build_join_mv(spark, fp, dp, m, **KW)
    write_delta(
        spark,
        spark.createDataFrame([(700, 3, 21)], "id long, fk long, amt long"),
        fp,
        mode="append",
        configuration=CDF,
    )
    real = scan_mod.read_delta
    opened = []

    def spy(spark_, path, *a, **kw):
        opened.append(path)
        return real(spark_, path, *a, **kw)

    monkeypatch.setattr(scan_mod, "read_delta", spy)
    refresh_join_mv(spark, fp, dp, m, **KW)
    assert not any(p == fp for p in opened), opened
    assert _mv_state(spark, m) == _expected(spark, fp, dp)


def test_dim_refresh_pushes_changed_key_predicate(spark, tmp_path, monkeypatch):
    """SCALE GUARD: a dim-side refresh prunes the standing-fact scan
    to the changed dim keys via a pushed IN predicate (stats-based
    file skipping), never an unpredicated full-table read."""
    import deltalake_datafusion_spark.delta.scan as scan_mod

    fp, dp, m = (str(tmp_path / x) for x in ("f", "d", "m"))
    _bases(spark, fp, dp)
    build_join_mv(spark, fp, dp, m, **KW)
    update_delta(spark, dp, set_exprs={"seg": "'sy'"}, predicate="dk = 5")
    real = scan_mod.read_delta
    fact_preds = []

    def spy(spark_, path, *a, **kw):
        if path == fp:
            fact_preds.append(kw.get("predicate"))
        return real(spark_, path, *a, **kw)

    monkeypatch.setattr(scan_mod, "read_delta", spy)
    refresh_join_mv(spark, fp, dp, m, **KW)
    assert fact_preds and all(p and "fk IN (5)" in p for p in fact_preds)
    assert _mv_state(spark, m) == _expected(spark, fp, dp)


def test_group_col_side_resolution_errors(spark, tmp_path):
    fp, dp, m = (str(tmp_path / x) for x in ("f", "d", "m"))
    _bases(spark, fp, dp)
    with pytest.raises(ValueError, match="neither"):
        build_join_mv(
            spark, fp, dp, m,
            fact_key="fk", dim_key="dk",
            group_cols=["nope"], sum_cols=["amt"],
        )


def test_streaming_fact_side_then_batch_dim_reconcile(spark, tmp_path):
    """streaming_refresh_join_mv: fact CDF streams through the
    foreachBatch sink (term dF*D_new per micro-batch + fact watermark
    txn in the same commit); a later dim change reconciles through
    the batch two-sided refresh reading the stream-advanced fact
    watermark. End state == full recompute at every step."""
    from deltalake_datafusion_spark.delta.mv_join import (
        streaming_refresh_join_mv,
    )

    fp, dp, m = (str(tmp_path / x) for x in ("f", "d", "m"))
    _bases(spark, fp, dp)
    build_join_mv(spark, fp, dp, m, **KW)
    write_delta(
        spark,
        spark.createDataFrame(
            [(800, 2, 21), (801, 9, 5)], "id long, fk long, amt long"
        ),
        fp,
        mode="append",
        configuration=CDF,
    )
    delete_delta(spark, fp, "id IN (3, 13)")
    streaming_refresh_join_mv(
        spark, fp, dp, m, checkpoint_dir=str(tmp_path / "ck"), **KW
    )
    assert _mv_state(spark, m) == _expected(spark, fp, dp)
    # batch refresh right after: fact watermark already advanced
    assert refresh_join_mv(spark, fp, dp, m, **KW)["mode"] == "noop"
    # dim SCD update + more fact rows -> batch two-sided reconcile
    update_delta(spark, dp, set_exprs={"seg": "'sm'"}, predicate="dk = 2")
    write_delta(
        spark,
        spark.createDataFrame([(900, 2, 100)], "id long, fk long, amt long"),
        fp,
        mode="append",
        configuration=CDF,
    )
    refresh_join_mv(spark, fp, dp, m, **KW)
    assert _mv_state(spark, m) == _expected(spark, fp, dp)


def test_streaming_join_mv_fresh_checkpoint_no_double_apply(
    spark, tmp_path
):
    from deltalake_datafusion_spark.delta.mv_join import (
        streaming_refresh_join_mv,
    )

    fp, dp, m = (str(tmp_path / x) for x in ("f", "d", "m"))
    _bases(spark, fp, dp)
    build_join_mv(spark, fp, dp, m, **KW)
    write_delta(
        spark,
        spark.createDataFrame([(850, 5, 11)], "id long, fk long, amt long"),
        fp,
        mode="append",
        configuration=CDF,
    )
    streaming_refresh_join_mv(
        spark, fp, dp, m, checkpoint_dir=str(tmp_path / "ck1"), **KW
    )
    assert _mv_state(spark, m) == _expected(spark, fp, dp)
    # replay the whole CDF from version 1 under a NEW checkpoint: the
    # commit-version guard must merge nothing twice
    streaming_refresh_join_mv(
        spark, fp, dp, m, checkpoint_dir=str(tmp_path / "ck2"),
        starting_version=1, **KW
    )
    assert _mv_state(spark, m) == _expected(spark, fp, dp)


# ------------------------------------------------------------------ #
# Version pinning + concurrent-refresh guards (ADVICE r10)            #
# ------------------------------------------------------------------ #


def _at(spark, path, version):
    return load_snapshot(path, version=version, spark=spark)


def test_term_reads_pinned_to_target_versions(spark, tmp_path):
    """The 'current' fact/dim reads of terms 1 and 2 are pinned to
    the versions the watermarks will record — a commit landing after
    the snapshot load must NOT leak into the delta."""
    from deltalake_datafusion_spark.delta.mv_join import (
        _join_mv_delta_rows,
    )

    fp, dp, mp = (
        str(tmp_path / "f"), str(tmp_path / "d"), str(tmp_path / "m")
    )
    _bases(spark, fp, dp)
    build_join_mv(spark, fp, dp, mp, **KW)
    f0 = load_snapshot(fp, spark=spark).version
    d0 = load_snapshot(dp, spark=spark).version

    # --- term 2 (F_new ⋈ ΔD): dim update at d1, then a RACING fact
    # append AFTER the refresh captured f_ver=f0
    update_delta(spark, dp, set_exprs={"seg": "'s9'"}, predicate="dk = 1")
    d1 = load_snapshot(dp, spark=spark).version
    race = spark.createDataFrame([(900, 1, 1000)], "id long, fk long, amt long")
    write_delta(spark, race, fp, mode="append", configuration=CDF)

    rows = _join_mv_delta_rows(
        spark, _at(spark, fp, f0), _at(spark, dp, d1), **KW, f_changes=None,
        d_changes=table_changes(spark, dp, d0 + 1, d1),
    )
    sums = {
        r.seg: r.s
        for r in rows.groupBy("seg")
        .agg(F.sum(F.col("amt") * F.col("__sign")).alias("s"))
        .collect()
    }
    # fact rows with fk=1 AS OF f0: ids 1,11,21,31,41,51 → amts 6+56+…
    expected_moved = sum(i * 5 + 1 for i in (1, 11, 21, 31, 41, 51))
    assert sums.get("s9") == expected_moved  # raced +1000 row excluded
    assert sums.get("s1") == -expected_moved

    # --- term 1 (ΔF ⋈ D_new): fact append at f2, then a RACING dim
    # update AFTER the refresh captured d_ver=d1
    add = spark.createDataFrame([(901, 2, 77)], "id long, fk long, amt long")
    write_delta(spark, add, fp, mode="append", configuration=CDF)
    f2 = load_snapshot(fp, spark=spark).version
    update_delta(spark, dp, set_exprs={"seg": "'s8'"}, predicate="dk = 2")

    rows = _join_mv_delta_rows(
        spark, _at(spark, fp, f2), _at(spark, dp, d1), **KW,
        f_changes=table_changes(spark, fp, f2, f2), d_changes=None,
    )
    got = {(r["seg"], r["amt"], r["__sign"]) for r in rows.collect()}
    # dim AS OF d1 still maps dk=2 → 's2', not the raced 's8'
    assert got == {("s2", 77, 1)}


def test_join_refresh_concurrent_fully_covered_skips(spark, tmp_path):
    """A stale maintainer merging a frozen signed-row delta after a
    concurrent refresh covered both ranges must no-op."""
    from deltalake_datafusion_spark.delta.mv import apply_signed_rows
    from deltalake_datafusion_spark.delta.mv_join import (
        _join_mv_delta_rows,
    )

    fp, dp, mp = (
        str(tmp_path / "f"), str(tmp_path / "d"), str(tmp_path / "m")
    )
    _bases(spark, fp, dp)
    build_join_mv(spark, fp, dp, mp, **KW)
    f0, d0 = join_mv_watermarks(load_snapshot(mp, spark=spark))
    add = spark.createDataFrame([(910, 3, 55)], "id long, fk long, amt long")
    write_delta(spark, add, fp, mode="append", configuration=CDF)
    f1 = load_snapshot(fp, spark=spark).version
    # stale maintainer computes + freezes its rows…
    rows = _join_mv_delta_rows(
        spark, _at(spark, fp, f1), _at(spark, dp, d0), **KW,
        f_changes=table_changes(spark, fp, f0 + 1, f1), d_changes=None,
    ).localCheckpoint(eager=True)
    # …concurrent refresh wins
    refresh_join_mv(spark, fp, dp, mp, **KW)
    state = _mv_state(spark, mp)
    assert state == _expected(spark, fp, dp)
    n = apply_signed_rows(
        spark, mp, rows, KW["group_cols"], KW["sum_cols"],
        {MV_FACT_TXN_APP: (f0, f1), MV_DIM_TXN_APP: (d0, d0)},
    )
    assert n == 0
    assert _mv_state(spark, mp) == state  # nothing double-applied


def test_join_refresh_concurrent_partial_overlap_raises(spark, tmp_path):
    """A concurrent refresh that advanced the fact watermark INTO a
    stale delta's range forces a recompute (raise), never a silent
    double-apply."""
    from deltalake_datafusion_spark.delta.mv import apply_signed_rows
    from deltalake_datafusion_spark.delta.mv_join import (
        _join_mv_delta_rows,
    )
    from deltalake_datafusion_spark.delta.ops import (
        ConcurrentRefreshError,
    )

    fp, dp, mp = (
        str(tmp_path / "f"), str(tmp_path / "d"), str(tmp_path / "m")
    )
    _bases(spark, fp, dp)
    build_join_mv(spark, fp, dp, mp, **KW)
    f0, d0 = join_mv_watermarks(load_snapshot(mp, spark=spark))
    a1 = spark.createDataFrame([(920, 4, 41)], "id long, fk long, amt long")
    write_delta(spark, a1, fp, mode="append", configuration=CDF)
    f1 = load_snapshot(fp, spark=spark).version
    a2 = spark.createDataFrame([(921, 5, 43)], "id long, fk long, amt long")
    write_delta(spark, a2, fp, mode="append", configuration=CDF)
    f2 = load_snapshot(fp, spark=spark).version
    # stale maintainer freezes the FULL fact range (f0, f2]
    rows = _join_mv_delta_rows(
        spark, _at(spark, fp, f2), _at(spark, dp, d0), **KW,
        f_changes=table_changes(spark, fp, f0 + 1, f2), d_changes=None,
    ).localCheckpoint(eager=True)
    # concurrent refresh applies only (f0, f1]
    sub = _join_mv_delta_rows(
        spark, _at(spark, fp, f1), _at(spark, dp, d0), **KW,
        f_changes=table_changes(spark, fp, f0 + 1, f1), d_changes=None,
    )
    apply_signed_rows(
        spark, mp, sub, KW["group_cols"], KW["sum_cols"],
        {MV_FACT_TXN_APP: (f0, f1), MV_DIM_TXN_APP: (d0, d0)},
    )
    with pytest.raises(ConcurrentRefreshError):
        apply_signed_rows(
            spark, mp, rows, KW["group_cols"], KW["sum_cols"],
            {MV_FACT_TXN_APP: (f0, f2), MV_DIM_TXN_APP: (d0, d0)},
        )
    # the public entry point reconciles from the advanced watermark
    refresh_join_mv(spark, fp, dp, mp, **KW)
    assert _mv_state(spark, mp) == _expected(spark, fp, dp)


# ------------------------------------------------------------------ #
# MIN/MAX on join MVs (VERDICT r10 next-round #2)                     #
# ------------------------------------------------------------------ #

MMKW = dict(
    fact_key="fk",
    dim_key="dk",
    group_cols=["seg"],
    sum_cols=["amt"],
    minmax_cols=["amt"],
)


def _mm_state(spark, mv_path):
    return {
        r.seg: (r.mv_count, r.mv_sum_amt, r.mv_min_amt, r.mv_max_amt)
        for r in read_delta(spark, mv_path).collect()
    }


def _mm_expected(spark, fp, dp):
    f, d = read_delta(spark, fp), read_delta(spark, dp)
    return {
        r.seg: (r.c, r.s, r.lo, r.hi)
        for r in f.join(d, f.fk == d.dk)
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).cast("long").alias("c"),
            F.sum("amt").alias("s"),
            F.min("amt").alias("lo"),
            F.max("amt").alias("hi"),
        )
        .collect()
    }


def test_join_minmax_full_build(spark, tmp_path):
    from deltalake_datafusion_spark.delta.mv_join import (
        streaming_refresh_join_mv,
    )

    fp, dp, m = (str(tmp_path / x) for x in ("f", "d", "m"))
    _bases(spark, fp, dp)
    build_join_mv(spark, fp, dp, m, **MMKW)
    assert _mm_state(spark, m) == _mm_expected(spark, fp, dp)
    # a refresh that omits the view's MIN/MAX columns would leave the
    # extrema stale: batch and streaming refuse it up front
    with pytest.raises(ValueError, match="MIN/MAX"):
        refresh_join_mv(spark, fp, dp, m, **KW)
    with pytest.raises(ValueError, match="MIN/MAX"):
        streaming_refresh_join_mv(
            spark, fp, dp, m, checkpoint_dir=str(tmp_path / "ck"), **KW
        )


def test_join_minmax_fact_delete_of_extremum_recomputes(spark, tmp_path):
    fp, dp, m = (str(tmp_path / x) for x in ("f", "d", "m"))
    _bases(spark, fp, dp)
    build_join_mv(spark, fp, dp, m, **MMKW)
    # delete the global max row(s) of a group: monotone merge cannot
    # recover — the targeted recompute must
    delete_delta(spark, fp, "id >= 55")
    res = refresh_join_mv(spark, fp, dp, m, **MMKW)
    assert res["mode"] == "incremental"
    assert _mm_state(spark, m) == _mm_expected(spark, fp, dp)


def test_join_minmax_dim_update_moves_groups(spark, tmp_path):
    fp, dp, m = (str(tmp_path / x) for x in ("f", "d", "m"))
    _bases(spark, fp, dp)
    build_join_mv(spark, fp, dp, m, **MMKW)
    # SCD attribute flip: fact rows of dk=1 move from 's1' to 'sx' —
    # both the vacated and the receiving groups need authoritative
    # min/max
    update_delta(spark, dp, set_exprs={"seg": "'sx'"}, predicate="dk = 1")
    refresh_join_mv(spark, fp, dp, m, **MMKW)
    assert _mm_state(spark, m) == _mm_expected(spark, fp, dp)


def test_join_minmax_insert_only_monotone_and_never_opens_fact(
    spark, tmp_path, monkeypatch
):
    """SCALE GUARD: fact-only INSERTS merge min/max monotonically —
    no retraction, no recompute, fact table never opened."""
    import deltalake_datafusion_spark.delta.scan as scan_mod

    fp, dp, m = (str(tmp_path / x) for x in ("f", "d", "m"))
    _bases(spark, fp, dp)
    build_join_mv(spark, fp, dp, m, **MMKW)
    extra = spark.createDataFrame(
        [(800, 0, 100000), (801, 1, -7)], "id long, fk long, amt long"
    )
    write_delta(spark, extra, fp, mode="append", configuration=CDF)
    real = scan_mod.read_delta
    opened = []

    def spy(spark_, path, *a, **kw):
        opened.append(path)
        return real(spark_, path, *a, **kw)

    monkeypatch.setattr(scan_mod, "read_delta", spy)
    refresh_join_mv(spark, fp, dp, m, **MMKW)
    assert not any(p == fp for p in opened), opened
    assert _mm_state(spark, m) == _mm_expected(spark, fp, dp)


def test_join_minmax_multi_round_equivalence(spark, tmp_path):
    fp, dp, m = (str(tmp_path / x) for x in ("f", "d", "m"))
    _bases(spark, fp, dp)
    build_join_mv(spark, fp, dp, m, **MMKW)
    # round 1: inserts + a fact update that lowers a max
    write_delta(
        spark,
        spark.createDataFrame(
            [(810, 2, 9), (811, 9, 5)], "id long, fk long, amt long"
        ),
        fp, mode="append", configuration=CDF,
    )
    update_delta(spark, fp, set_exprs={"amt": "1"}, predicate="id = 57")
    refresh_join_mv(spark, fp, dp, m, **MMKW)
    assert _mm_state(spark, m) == _mm_expected(spark, fp, dp)
    # round 2: both sides change at once (dim insert activates the
    # dangling fk=9 row; dim delete deactivates dk=3; fact delete)
    write_delta(
        spark,
        spark.createDataFrame([(9, "s9")], "dk long, seg string"),
        dp, mode="append", configuration=CDF,
    )
    delete_delta(spark, dp, "dk = 3")
    delete_delta(spark, fp, "id % 11 = 2")
    refresh_join_mv(spark, fp, dp, m, **MMKW)
    assert _mm_state(spark, m) == _mm_expected(spark, fp, dp)
    # round 3: no-op
    res = refresh_join_mv(spark, fp, dp, m, **MMKW)
    assert res["mode"] == "noop"
    assert _mm_state(spark, m) == _mm_expected(spark, fp, dp)


def test_join_minmax_group_vanishes_and_reappears(spark, tmp_path):
    fp, dp, m = (str(tmp_path / x) for x in ("f", "d", "m"))
    _bases(spark, fp, dp, n=12, n_dim=3)  # seg s0:{0}, s1:{1}, s2:{2}
    build_join_mv(spark, fp, dp, m, **MMKW)
    delete_delta(spark, fp, "fk = 2")  # empty out s2
    refresh_join_mv(spark, fp, dp, m, **MMKW)
    st = _mm_state(spark, m)
    assert "s2" not in st and st == _mm_expected(spark, fp, dp)
    write_delta(
        spark,
        spark.createDataFrame(
            [(900, 2, 42), (901, 2, 17)], "id long, fk long, amt long"
        ),
        fp, mode="append", configuration=CDF,
    )
    refresh_join_mv(spark, fp, dp, m, **MMKW)
    assert _mm_state(spark, m) == _mm_expected(spark, fp, dp)


def test_join_minmax_sql_lifecycle(spark, tmp_path):
    from deltalake_datafusion_spark.sql.dispatcher import sql

    fp, dp, m = (str(tmp_path / x) for x in ("f", "d", "m"))
    _bases(spark, fp, dp)
    sql(
        spark,
        f"CREATE MATERIALIZED VIEW delta.`{m}` AS "
        f"SELECT seg, COUNT(*) AS n, SUM(amt) AS s, "
        f"MIN(amt) AS lo, MAX(amt) AS hi "
        f"FROM delta.`{fp}` JOIN delta.`{dp}` ON fk = dk GROUP BY seg",
    )
    assert _mm_state(spark, m) == _mm_expected(spark, fp, dp)
    delete_delta(spark, fp, "id >= 50")
    out = sql(spark, f"REFRESH MATERIALIZED VIEW delta.`{m}`").collect()[0]
    assert out.mode == "incremental"
    assert _mm_state(spark, m) == _mm_expected(spark, fp, dp)
    # the rewrite answers MIN/MAX from the refreshed star MV
    q = sql(
        spark,
        f"SELECT seg, MIN(amt) AS lo, MAX(amt) AS hi "
        f"FROM delta.`{fp}` JOIN delta.`{dp}` ON fk = dk GROUP BY seg",
    )
    files = q.inputFiles()
    assert files and all(str(tmp_path / "m") in f for f in files), files


# ------------------------------------------------------------------ #
# Broadcast-size fallback for join-MV dims (VERDICT r10 watch #3)     #
# ------------------------------------------------------------------ #


def test_dim_side_respects_broadcast_threshold(spark):
    from deltalake_datafusion_spark.delta.mv_join import _dim_side

    df = spark.range(3)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1kb")
        # small dim → broadcast hint present
        plan = spark.range(5).join(
            _dim_side(spark, df, 512), "id"
        )._jdf.queryExecution().executedPlan().toString()
        assert "Broadcast" in plan
        # dim past the threshold → no broadcast hint from us
        plan = spark.range(5).join(
            _dim_side(spark, df, 10_000_000), "id"
        )._jdf.queryExecution().optimizedPlan().toString()
        assert "ResolvedHint" not in plan
        # broadcasting disabled entirely
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = spark.range(5).join(
            _dim_side(spark, df, 10), "id"
        )._jdf.queryExecution().optimizedPlan().toString()
        assert "ResolvedHint" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_join_mv_refresh_equivalent_under_shuffle_join(spark, tmp_path):
    """Forcing the dim side off the broadcast path (threshold -1)
    must leave the two-sided refresh — including MIN/MAX recompute —
    bit-identical to the full recompute."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    fp, dp, m = (str(tmp_path / x) for x in ("f", "d", "m"))
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        _bases(spark, fp, dp)
        build_join_mv(spark, fp, dp, m, **MMKW)
        assert _mm_state(spark, m) == _mm_expected(spark, fp, dp)
        write_delta(
            spark,
            spark.createDataFrame(
                [(850, 1, 9999)], "id long, fk long, amt long"
            ),
            fp, mode="append", configuration=CDF,
        )
        update_delta(
            spark, dp, set_exprs={"seg": "'sw'"}, predicate="dk = 2"
        )
        delete_delta(spark, fp, "id >= 55")
        res = refresh_join_mv(spark, fp, dp, m, **MMKW)
        assert res["mode"] == "incremental"
        assert _mm_state(spark, m) == _mm_expected(spark, fp, dp)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_semi_join_paths_past_inline_key_ceiling(spark, tmp_path,
                                                 monkeypatch):
    """Force the > MAX_INLINE_KEYS fallbacks: both the term-2 fact
    pruning and the MIN/MAX recompute must take the broadcast
    SEMI-JOIN branch without tripping Spark's self-join ambiguity
    check (the lineage-shared key sets are localCheckpointed), and
    stay exactly equivalent to the full recompute."""
    import deltalake_datafusion_spark.delta.mv as mv_mod

    monkeypatch.setattr(mv_mod, "MAX_INLINE_KEYS", 2)
    fp, dp, m = (str(tmp_path / x) for x in ("f", "d", "m"))
    _bases(spark, fp, dp)
    build_join_mv(spark, fp, dp, m, **MMKW)
    # dim update touching MANY keys (> ceiling) moves fact rows
    update_delta(
        spark, dp, set_exprs={"seg": "concat(seg, 'x')"},
        predicate="dk >= 1",
    )
    # and a fact delete so the MIN/MAX recompute path runs too
    delete_delta(spark, fp, "id >= 50")
    res = refresh_join_mv(spark, fp, dp, m, **MMKW)
    assert res["mode"] == "incremental"
    assert _mm_state(spark, m) == _mm_expected(spark, fp, dp)


def test_join_minmax_null_dim_group_retraction(spark, tmp_path):
    """ADVICE r11 (join form): a NULL dim-side group value touched by
    a retraction gets RECOMPUTED min/max — the delta↔recompute join
    and the recompute's dim-group pruning are null-safe."""
    fp, dp, mv = (
        str(tmp_path / "f"), str(tmp_path / "d"), str(tmp_path / "m")
    )
    fact = spark.createDataFrame(
        [(1, 0, 10), (2, 0, 90), (3, 1, 30), (4, 1, 70)],
        "id long, fk long, amt long",
    )
    dim = spark.createDataFrame(
        [(0, None), (1, "s1")], "dk long, seg string"
    )
    write_delta(spark, fact, fp, configuration=CDF)
    write_delta(spark, dim, dp, configuration=CDF)
    build_join_mv(
        spark, fp, dp, mv, fact_key="fk", dim_key="dk",
        group_cols=["seg"], sum_cols=["amt"], minmax_cols=["amt"],
    )
    # retract the NULL group's MAX (id=2) and s1's MIN (id=3)
    delete_delta(spark, fp, "id = 2 OR id = 3")
    refresh_join_mv(
        spark, fp, dp, mv, fact_key="fk", dim_key="dk",
        group_cols=["seg"], sum_cols=["amt"], minmax_cols=["amt"],
    )
    got = {
        r.seg: (r.mv_count, r.mv_sum_amt, r.mv_min_amt, r.mv_max_amt)
        for r in read_delta(spark, mv).collect()
    }
    assert got == {None: (1, 10, 10, 10), "s1": (1, 70, 70, 70)}


def test_join_minmax_interior_delete_never_opens_fact(
    spark, tmp_path, monkeypatch
):
    """VERDICT r11 #3 (join form): fact retractions strictly inside
    every touched group's stored (min, max) skip the authoritative
    fact⋈dim recompute entirely — the fact table is never opened."""
    import deltalake_datafusion_spark.delta.scan as scan_mod

    fp, dp, mv = (
        str(tmp_path / "f"), str(tmp_path / "d"), str(tmp_path / "m")
    )
    _bases(spark, fp, dp)
    kw = dict(
        fact_key="fk", dim_key="dk", group_cols=["seg"],
        sum_cols=["amt"], minmax_cols=["amt"],
    )
    build_join_mv(spark, fp, dp, mv, **kw)
    # seg s0 ⊃ fk 0,3,6 → ids 0,3,6,10,13,…; amt = id*5+1. The global
    # s0 extremes are amt=1 (id=0) and amt=281 (id=56): id=23
    # (amt=116) and id=30 (amt=151) are strictly interior.
    delete_delta(spark, fp, "id = 23 OR id = 30")
    real = scan_mod.read_delta
    opened = []

    def spy(spark_, path, *a, **kw_):
        opened.append(path)
        return real(spark_, path, *a, **kw_)

    monkeypatch.setattr(scan_mod, "read_delta", spy)
    refresh_join_mv(spark, fp, dp, mv, **kw)
    fact_opens = [p for p in opened if p == fp]
    assert not fact_opens, fact_opens
    f, d = read_delta(spark, fp), read_delta(spark, dp)
    want = {
        r.seg: (r.c, r.s, r.lo, r.hi)
        for r in f.join(d, f.fk == d.dk)
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).cast("long").alias("c"),
            F.sum("amt").alias("s"),
            F.min("amt").alias("lo"),
            F.max("amt").alias("hi"),
        )
        .collect()
    }
    got = {
        r.seg: (r.mv_count, r.mv_sum_amt, r.mv_min_amt, r.mv_max_amt)
        for r in read_delta(spark, mv).collect()
    }
    assert got == want


def test_join_txns_only_commit_revalidates_after_concurrent_txn(
    spark, tmp_path, monkeypatch
):
    """ADVICE r11 (join form): a txn-only watermark commit racing a
    concurrent refresh's advance re-validates against the advanced
    ledger instead of being rebased over it (which would regress the
    fact watermark and double-apply the range on the next refresh)."""
    import deltalake_datafusion_spark.delta.writer as writer_mod
    from deltalake_datafusion_spark.delta.mv import (
        _commit_watermarks,
        _txn,
    )

    fp, dp, mv = (
        str(tmp_path / "f"), str(tmp_path / "d"), str(tmp_path / "m")
    )
    _bases(spark, fp, dp)
    build_join_mv(spark, fp, dp, mv, **KW)
    f_applied, d_applied = join_mv_watermarks(
        load_snapshot(mv, spark=spark)
    )

    real_commit = writer_mod.commit
    state = {"raced": False}

    def racing_commit(table_path, version, actions, operation, sp,
                      **kw):
        if not state["raced"] and any("txn" in a for a in actions):
            state["raced"] = True
            real_commit(
                table_path, version,
                [_txn(MV_FACT_TXN_APP, f_applied + 5)],
                "SET TRANSACTION", sp,
                configuration=kw.get("configuration"),
            )
        return real_commit(
            table_path, version, actions, operation, sp, **kw
        )

    monkeypatch.setattr(writer_mod, "commit", racing_commit)
    _commit_watermarks(
        spark, mv,
        {MV_FACT_TXN_APP: (f_applied, f_applied + 2),
         MV_DIM_TXN_APP: (d_applied, d_applied)},
    )
    assert state["raced"]
    wm = join_mv_watermarks(load_snapshot(mv, spark=spark))
    assert wm[0] == f_applied + 5  # not regressed by the loser


def test_join_minmax_small_extremum_delete_and_dim_update(
    spark, tmp_path, monkeypatch
):
    """Tier-1 twin of the join-MV min/max refresh on ≤16-row bases: a
    fact delete that removes a group's maximum plus a dim update that
    moves standing fact rows between groups, in one refresh. That
    refresh runs every term and the group recompute, yet opens each
    base's log ONCE outside the data readers (read_delta /
    table_changes): the attempt's two snapshots serve the version pin,
    both schemas and the dim size."""
    import sys

    import deltalake_datafusion_spark.delta.snapshot as snapmod

    fp, dp, m = (str(tmp_path / x) for x in ("f", "d", "m"))
    _bases(spark, fp, dp, n=16, n_dim=4)  # s0 ⊃ fk 0,3: amt 1,51,16,66
    build_join_mv(spark, fp, dp, m, **MMKW)
    delete_delta(spark, fp, "id = 13")  # amt 66: s0's maximum
    update_delta(spark, dp, set_exprs={"seg": "'sx'"}, predicate="dk = 1")

    orig = snapmod.load_snapshot
    loads = {fp: 0, dp: 0}

    def spy(path, *a, **kw):
        f, callers = sys._getframe(1), set()
        while f is not None:
            callers.add(f.f_code.co_name)
            f = f.f_back
        if path in loads and not callers & {"read_delta", "table_changes"}:
            loads[path] += 1
        return orig(path, *a, **kw)

    monkeypatch.setattr(snapmod, "load_snapshot", spy)
    res = refresh_join_mv(spark, fp, dp, m, **MMKW)
    monkeypatch.undo()
    assert res["mode"] == "incremental"
    assert loads == {fp: 1, dp: 1}
    st = _mm_state(spark, m)
    assert st == _mm_expected(spark, fp, dp)
    assert st["s0"] == (3, 68, 1, 51) and "s1" not in st


def test_streaming_join_minmax_matches_full_recompute(spark, tmp_path):
    """The streaming join refresh maintains MIN/MAX through the same
    core as the batch one: an appended new maximum and a deleted
    minimum leave count, sum, min and max equal to the full
    recompute."""
    from deltalake_datafusion_spark.delta.mv_join import (
        streaming_refresh_join_mv,
    )

    fp, dp, m = (str(tmp_path / x) for x in ("f", "d", "m"))
    _bases(spark, fp, dp)
    build_join_mv(spark, fp, dp, m, **MMKW)
    write_delta(
        spark,
        spark.createDataFrame(
            [(800, 2, 100000)], "id long, fk long, amt long"
        ),
        fp, mode="append", configuration=CDF,
    )
    delete_delta(spark, fp, "id = 0")  # amt 1: s0's minimum
    streaming_refresh_join_mv(
        spark, fp, dp, m, checkpoint_dir=str(tmp_path / "ck"), **MMKW
    )
    st = _mm_state(spark, m)
    assert st == _mm_expected(spark, fp, dp)
    assert st["s0"][2] == 16 and st["s2"][3] == 100000


def test_stream_after_dim_change_then_batch_refresh_no_double_count(
    spark, tmp_path
):
    """The streaming sink joins the dim AS OF the view's dim
    watermark, not the dim's current version: a dim change that lands
    before the stream runs is applied once, by the next batch
    refresh's two-sided algebra — never also by the stream."""
    from deltalake_datafusion_spark.delta.mv_join import (
        streaming_refresh_join_mv,
    )

    fp, dp, m = (str(tmp_path / x) for x in ("f", "d", "m"))
    _bases(spark, fp, dp)
    build_join_mv(spark, fp, dp, m, **KW)
    update_delta(spark, dp, set_exprs={"seg": "'sm'"}, predicate="dk = 2")
    write_delta(
        spark,
        spark.createDataFrame([(900, 2, 100)], "id long, fk long, amt long"),
        fp, mode="append", configuration=CDF,
    )
    streaming_refresh_join_mv(
        spark, fp, dp, m, checkpoint_dir=str(tmp_path / "ck"), **KW
    )
    refresh_join_mv(spark, fp, dp, m, **KW)
    st = _mv_state(spark, m)
    assert st == _expected(spark, fp, dp)
    assert st["s2"] == (6, 906) and st["sm"] == (7, 916)
