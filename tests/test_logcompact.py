"""Minor log compaction ({start}.{end}.compacted.json).

Write-side: ``compact_log`` reconciles a commit range into one file
(PROTOCOL.md "Log Compaction Files"). Read-side: ``load_snapshot``
substitutes a compacted file for the individual commits exactly when
the replay window needs the whole range — never for a time travel
into the middle of the range.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

import deltalake_datafusion_spark.delta.snapshot as snapmod
from deltalake_datafusion_spark.delta.logcompact import (
    compact_log,
    list_compacted_files,
    reconcile_actions,
)
from deltalake_datafusion_spark.delta.log_cleanup import cleanup_expired_logs
from deltalake_datafusion_spark.delta.ops import delete_delta
from deltalake_datafusion_spark.delta.scan import read_delta
from deltalake_datafusion_spark.delta.snapshot import load_snapshot
from deltalake_datafusion_spark.delta.writer import (
    write_checkpoint,
    write_delta,
)


@pytest.fixture
def counters(monkeypatch):
    c = {"commits": 0, "paths": []}
    orig = snapmod._iter_commit_actions

    def count(path, fs, with_files=True):
        c["commits"] += 1
        c["paths"].append(os.path.basename(path))
        return orig(path, fs, with_files)

    monkeypatch.setattr(snapmod, "_iter_commit_actions", count)
    return c


def _snap_state(s):
    return (
        s.version,
        sorted((f.path, f.dv_id) for f in s.files),
        s.metadata.configuration,
        sorted(s.app_transactions.items()),
        sorted(s.domain_metadata.items()),
    )


def _build(spark, tmp_path, n_appends=4):
    path = os.path.join(str(tmp_path), "t")
    write_delta(
        spark,
        spark.range(20).select("id", (F.col("id") % 3).alias("g")),
        path,
    )
    for i in range(n_appends):
        write_delta(
            spark,
            spark.range(20 * (i + 1), 20 * (i + 2)).select(
                "id", (F.col("id") % 3).alias("g")
            ),
            path,
            mode="append",
        )
    delete_delta(spark, path, "id % 7 = 0")
    return path


def test_compact_then_cold_load_equivalent_and_fewer_opens(
    spark, tmp_path, counters
):
    path = _build(spark, tmp_path)
    before = load_snapshot(path, spark=spark)

    res = compact_log(spark, path)
    assert res["written"] and res["start"] == 0
    end = res["end"]
    assert list_compacted_files(path) == [
        (0, end, os.path.join(
            path, "_delta_log", f"{0:020d}.{end:020d}.compacted.json"
        ))
    ]

    counters["commits"] = 0
    counters["paths"].clear()
    after = load_snapshot(path, spark=spark)
    assert counters["commits"] == 1  # one compacted file, not end+1 commits
    assert counters["paths"] == [f"{0:020d}.{end:020d}.compacted.json"]
    assert _snap_state(after) == _snap_state(before)
    # data content identical through the scan path
    assert (
        read_delta(spark, path).agg(F.sum("id")).collect()[0][0]
        == sum(i for i in range(100) if i % 7 != 0)
    )


def test_time_travel_into_range_ignores_compacted(
    spark, tmp_path, counters
):
    path = _build(spark, tmp_path)
    compact_log(spark, path)
    mid = 2
    counters["commits"] = 0
    counters["paths"].clear()
    snap = load_snapshot(path, version=mid, spark=spark)
    assert snap.version == mid
    # replayed individual commits 0..mid — the compacted file covers
    # versions past the request and may not stand in
    assert counters["paths"] == [f"{v:020d}.json" for v in range(mid + 1)]


def test_partial_range_compaction_plus_tail_commits(
    spark, tmp_path, counters
):
    path = _build(spark, tmp_path, n_appends=4)  # versions 0..5
    res = compact_log(spark, path, start=1, end=3)
    assert res["written"]
    counters["commits"] = 0
    counters["paths"].clear()
    before = load_snapshot(path, spark=spark)
    assert counters["paths"] == [
        f"{0:020d}.json",
        f"{1:020d}.{3:020d}.compacted.json",
        f"{4:020d}.json",
        f"{5:020d}.json",
    ]
    assert before.version == 5


def test_compacted_after_checkpoint_only_covers_tail(spark, tmp_path):
    path = _build(spark, tmp_path)
    snap = load_snapshot(path, spark=spark)
    write_checkpoint(spark, snap)
    write_delta(
        spark, spark.range(200, 210).select(
            "id", (F.col("id") % 3).alias("g")), path, mode="append",
    )
    write_delta(
        spark, spark.range(210, 220).select(
            "id", (F.col("id") % 3).alias("g")), path, mode="append",
    )
    res = compact_log(spark, path)  # defaults: checkpoint+1 .. tip
    assert (res["start"], res["end"]) == (snap.version + 1, snap.version + 2)
    after = load_snapshot(path, spark=spark)
    assert after.version == snap.version + 2
    assert read_delta(spark, path).count() == (
        sum(1 for i in range(100) if i % 7 != 0) + 20
    )


def test_compact_is_idempotent_and_validates_range(spark, tmp_path):
    path = _build(spark, tmp_path)
    r1 = compact_log(spark, path, start=0, end=2)
    r2 = compact_log(spark, path, start=0, end=2)
    assert r1["written"] and not r2["written"]
    with pytest.raises(snapmod.DeltaNotFoundError):
        compact_log(spark, path, start=0, end=99)
    assert compact_log(spark, path, start=3, end=3)["written"] is False


def test_reconcile_drops_cancelled_adds_and_keeps_tombstones():
    a = [
        [{"commitInfo": {"operation": "WRITE"}},
         {"metaData": {"id": "m1", "configuration": {}}},
         {"add": {"path": "a.parquet", "size": 1}},
         {"add": {"path": "b.parquet", "size": 1}}],
        [{"remove": {"path": "a.parquet", "deletionTimestamp": 5}},
         {"add": {"path": "c.parquet", "size": 1}},
         {"txn": {"appId": "app", "version": 9}}],
    ]
    out = reconcile_actions(a)
    keys = [next(iter(x)) for x in out]
    assert "commitInfo" not in keys
    adds = {x["add"]["path"] for x in out if "add" in x}
    removes = {x["remove"]["path"] for x in out if "remove" in x}
    assert adds == {"b.parquet", "c.parquet"}
    assert removes == {"a.parquet"}
    assert [x for x in out if "txn" in x][0]["txn"]["version"] == 9


def test_cleanup_deletes_superseded_compacted_files(spark, tmp_path):
    path = _build(spark, tmp_path)
    compact_log(spark, path)
    snap = load_snapshot(path, spark=spark)
    write_checkpoint(spark, snap)
    res = cleanup_expired_logs(spark, path, retention_ms=0)
    assert res["compacted_deleted"] == 1
    assert list_compacted_files(path) == []
    # table still loads from the checkpoint
    assert load_snapshot(path, spark=spark).version == snap.version


def test_foreign_compacted_file_is_used(spark, tmp_path, counters):
    """A compacted file written by another engine (arbitrary range
    alignment, no checkpoint) is honored on read."""
    path = os.path.join(str(tmp_path), "t")
    write_delta(spark, spark.range(10).select("id"), path)
    write_delta(spark, spark.range(10, 20).select("id"), path,
                mode="append")
    write_delta(spark, spark.range(20, 30).select("id"), path,
                mode="append")
    # hand-write 0.1.compacted.json the way delta-spark would
    fs_actions = []
    log = os.path.join(path, "_delta_log")
    for v in range(2):
        with open(os.path.join(log, f"{v:020d}.json")) as fh:
            fs_actions.append([json.loads(l) for l in fh if l.strip()])
    merged = reconcile_actions(fs_actions)
    with open(
        os.path.join(log, f"{0:020d}.{1:020d}.compacted.json"), "w"
    ) as fh:
        fh.write("\n".join(json.dumps(a) for a in merged) + "\n")
    counters["commits"] = 0
    counters["paths"].clear()
    assert read_delta(spark, path).count() == 30
    assert f"{0:020d}.{1:020d}.compacted.json" in counters["paths"]
    assert f"{1:020d}.json" not in counters["paths"]


# ------------------------------------------------------------------ #
# Property: reconciled replay ≡ sequential replay                     #
# ------------------------------------------------------------------ #

from hypothesis import given, settings
from hypothesis import strategies as st

_PATHS = [f"p{i}.parquet" for i in range(6)]
_APPS = ["appA", "appB"]
_DOMAINS = ["d1", "d2"]


def _action(draw):
    kind = draw(st.sampled_from(
        ["add", "remove", "metaData", "txn", "domain", "domain_rm"]
    ))
    if kind == "add":
        return {"add": {
            "path": draw(st.sampled_from(_PATHS)),
            "size": draw(st.integers(0, 999)),
            "modificationTime": 1,
            "partitionValues": {},
            "deletionVector": (
                {"storageType": "u", "pathOrInlineDv": "ab12", "offset": 1,
                 "sizeInBytes": 40, "cardinality": 2}
                if draw(st.booleans()) else None
            ),
        }}
    if kind == "remove":
        return {"remove": {
            "path": draw(st.sampled_from(_PATHS)),
            "deletionTimestamp": draw(st.integers(0, 99)),
            "dataChange": True,
        }}
    if kind == "metaData":
        return {"metaData": {
            "id": "m", "schemaString": "{}", "partitionColumns": [],
            "configuration": {"k": str(draw(st.integers(0, 5)))},
        }}
    if kind == "txn":
        return {"txn": {
            "appId": draw(st.sampled_from(_APPS)),
            "version": draw(st.integers(0, 20)),
        }}
    if kind == "domain":
        return {"domainMetadata": {
            "domain": draw(st.sampled_from(_DOMAINS)),
            "configuration": str(draw(st.integers(0, 5))),
        }}
    return {"domainMetadata": {
        "domain": draw(st.sampled_from(_DOMAINS)), "removed": True,
    }}


@st.composite
def _commits(draw):
    n_commits = draw(st.integers(1, 6))
    out = []
    for _ in range(n_commits):
        n = draw(st.integers(1, 5))
        commit = [{"commitInfo": {"timestamp": 1}}]
        commit += [_action(draw) for _ in range(n)]
        out.append(commit)
    return out


@given(_commits())
@settings(max_examples=200, deadline=None)
def test_reconcile_equivalent_to_sequential_replay(commits):
    """Replaying the reconciled action list must land the same state
    as replaying the commits one by one: identical live adds (incl.
    DV identity), metadata, per-app txn watermarks, and domain
    metadata; reconciled tombstones are the subset still standing."""
    base_meta = {"metaData": {
        "id": "m0", "schemaString": "{}", "partitionColumns": [],
        "configuration": {},
    }}

    def replay(action_lists):
        state = snapmod._ReplayState()
        for actions in action_lists:
            snapmod._apply_actions(actions, state, True)
        return state

    seq = replay([[base_meta]] + commits)
    rec = replay([[base_meta], reconcile_actions(commits)])

    assert {
        p: (f.size, f.dv_id) for p, f in seq.adds.items()
    } == {p: (f.size, f.dv_id) for p, f in rec.adds.items()}
    assert seq.metadata.configuration == rec.metadata.configuration
    assert seq.app_transactions == rec.app_transactions
    assert seq.domain_metadata == rec.domain_metadata
    # every reconciled tombstone is a real one, and every path that
    # ended removed (not re-added) is tombstoned in both
    seq_tomb = {t["path"] for t in seq.tombstones}
    rec_tomb = {t["path"] for t in rec.tombstones}
    assert rec_tomb <= seq_tomb
    final_removed = seq_tomb - set(seq.adds)
    assert final_removed <= rec_tomb


def test_auto_log_compaction_conf(spark, tmp_path):
    """lakehouse.delta.log_compaction.interval = n writes
    {v-n+1}.{v}.compacted.json on every n-th commit via the
    post-commit hook; off by default."""
    path = os.path.join(str(tmp_path), "t")
    spark.conf.set("lakehouse.delta.log_compaction.interval", "3")
    try:
        for i in range(6):  # versions 0..5
            write_delta(
                spark, spark.range(i * 5, i * 5 + 5).select("id"),
                path, mode="append" if i else "error",
            )
        got = [(s, e) for s, e, _p in list_compacted_files(path)]
        assert got == [(0, 2), (3, 5)]
        assert read_delta(spark, path).count() == 30
    finally:
        spark.conf.unset("lakehouse.delta.log_compaction.interval")

    # off by default: no new compacted ranges appear
    path2 = os.path.join(str(tmp_path), "t2")
    for i in range(4):
        write_delta(
            spark, spark.range(5).select("id"), path2,
            mode="append" if i else "error",
        )
    assert list_compacted_files(path2) == []


def test_distributed_replay_uses_compacted(spark, tmp_path):
    """log_replay_spark (the Spark-planner replay) reads compacted
    files in place of covered commit runs and lands the identical file
    set; the delta_log metadata table keeps the real per-commit
    stream."""
    from deltalake_datafusion_spark.delta.snapshot import (
        actions_df,
        log_replay_spark,
    )

    path = _build(spark, tmp_path)
    expected = sorted(
        f.path for f in load_snapshot(path, spark=spark).files
    )
    before = sorted(
        r["path"] for r in log_replay_spark(spark, path).collect()
    )
    compact_log(spark, path)
    after_df = log_replay_spark(spark, path)
    after = sorted(r["path"] for r in after_df.collect())
    assert before == after == expected
    # the replay's json scan reads the compacted file, not the
    # individual commits it covers
    inputs = [os.path.basename(f) for f in after_df.inputFiles()]
    assert any(f.endswith(".compacted.json") for f in inputs)
    assert "00000000000000000001.json" not in inputs
    # metadata table unchanged: per-commit rows, no compacted source
    meta_inputs = [
        os.path.basename(f) for f in actions_df(spark, path).inputFiles()
    ]
    assert not any(f.endswith(".compacted.json") for f in meta_inputs)
    assert "00000000000000000001.json" in meta_inputs
    # commit_version survives as the range end for compacted rows
    vmax = after_df.agg(F.max("commit_version")).collect()[0][0]
    assert vmax == load_snapshot(path, spark=spark).version


def test_txn_last_write_wins_matches_foreign_replay(
    spark, tmp_path, counters
):
    """SetTransaction reconciliation is last-occurrence-wins per appId
    (delta-spark / delta-rs replay): a foreign writer committing a
    LOWER version later must yield that lower watermark from the raw
    commits, the compacted file, and a checkpointed replay alike
    (ADVICE r5 — the compacted file must be a drop-in substitute for
    foreign readers too)."""
    path = os.path.join(str(tmp_path), "txn_lww")
    write_delta(spark, spark.range(5).select("id"), path)
    log = os.path.join(path, "_delta_log")
    # two foreign commits: appA v7, then appA v3 (later but lower)
    for v, txv in ((1, 7), (2, 3)):
        with open(os.path.join(log, f"{v:020d}.json"), "w") as f:
            f.write(json.dumps({"txn": {"appId": "appA", "version": txv,
                                        "lastUpdated": 0}}) + "\n")
    snap = load_snapshot(path, spark=spark)
    assert snap.app_transactions == {"appA": 3}

    # reconcile_actions agrees
    out = reconcile_actions(
        [
            [{"txn": {"appId": "appA", "version": 7}}],
            [{"txn": {"appId": "appA", "version": 3}}],
        ]
    )
    txns = [a for a in out if "txn" in a]
    assert txns == [{"txn": {"appId": "appA", "version": 3}}]

    # compacted file substitutes for the raw commits with the same state
    compact_log(spark, path, 0, 2)
    counters["commits"] = 0
    counters["paths"].clear()
    snap2 = load_snapshot(path, spark=spark)
    assert counters["paths"] == [f"{0:020d}.{2:020d}.compacted.json"]
    assert snap2.app_transactions == {"appA": 3}
    assert {r.id for r in read_delta(spark, path).collect()} == set(range(5))
