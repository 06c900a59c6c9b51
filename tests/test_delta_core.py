"""Delta core: write → log replay → scan roundtrips (SURVEY.md §2.1
S1-S8, S15, S30), pruning, DVs, column mapping, schema apply, time
travel, checkpoints. Fixture dimensions follow FIXTURES.md F1-F9."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F

from deltalake_datafusion_spark.delta.scan import read_delta, scan_files
from deltalake_datafusion_spark.delta.snapshot import (
    DeltaNotFoundError,
    load_snapshot,
)
from deltalake_datafusion_spark.delta.writer import (
    DeltaWriteError,
    write_checkpoint,
    write_delta,
)
from deltalake_datafusion_spark.delta.ops import delete_delta


def _rows(df, *cols):
    sel = df.select(*cols) if cols else df
    return sorted([tuple(r) for r in sel.collect()])


def test_roundtrip_append(spark, tmp_path):
    path = str(tmp_path / "t1")
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("grp"), (F.col("id") * 1.5).alias("val")
    )
    snap = write_delta(spark, df, path)
    assert snap.version == 0
    assert len(snap.files) >= 1

    out = read_delta(spark, path)
    assert _rows(out) == _rows(df)

    # Append doubles the data.
    write_delta(spark, df, path, mode="append")
    assert read_delta(spark, path).count() == 200


def test_overwrite_and_time_travel(spark, tmp_path):
    path = str(tmp_path / "t2")
    write_delta(spark, spark.range(10), path)
    write_delta(spark, spark.range(5), path, mode="overwrite")
    assert read_delta(spark, path).count() == 5
    assert read_delta(spark, path, version=0).count() == 10
    snap = load_snapshot(path)
    assert snap.version == 1
    with pytest.raises(DeltaNotFoundError):
        load_snapshot(path, version=99)


def test_error_mode_and_schema_mismatch(spark, tmp_path):
    path = str(tmp_path / "t3")
    write_delta(spark, spark.range(3), path)
    with pytest.raises(DeltaWriteError):
        write_delta(spark, spark.range(3), path, mode="error")
    bad = spark.range(3).select(F.col("id").alias("other"))
    with pytest.raises(DeltaWriteError):
        write_delta(spark, bad, path, mode="append")


def test_partitioned_write_prune_and_values(spark, tmp_path):
    """FIXTURES.md F2: partition values injected, files pruned."""
    path = str(tmp_path / "part")
    df = spark.createDataFrame(
        [(letter, d, i, f"payload{i}")
         for i, (letter, d) in enumerate(
             (l, dt.date(2024, 1, 1 + j)) for l in "abcde" for j in range(3)
         )],
        "letter string, part_date date, value long, payload string",
    )
    write_delta(spark, df, path, partition_by=["letter", "part_date"])
    snap = load_snapshot(path)
    assert snap.partition_columns == ["letter", "part_date"]
    # partition columns are not in the data files
    import pyarrow.parquet as papq

    f0 = os.path.join(path, snap.files[0].path)
    assert set(papq.read_schema(f0).names) == {"value", "payload"}

    # file-level pruning on partition equality
    pruned = scan_files(snap, predicate="letter = 'c'")
    assert 0 < len(pruned) < len(snap.files)
    assert all(f.partition_values["letter"] == "c" for f in pruned)

    out = read_delta(spark, path, predicate="letter = 'c' AND value > 6")
    expect = df.filter("letter = 'c' AND value > 6")
    assert _rows(out) == _rows(expect)

    # range pruning on a date partition column
    pruned = scan_files(snap, predicate="part_date >= DATE '2024-01-03'")
    assert all(
        f.partition_values["part_date"] >= "2024-01-03" for f in pruned
    )


def test_stats_skipping(spark, tmp_path):
    """Stats-based skipping prunes files whose [min,max] excludes the
    predicate; unknown constructs keep everything (inexact)."""
    path = str(tmp_path / "skip")
    for lo in (0, 1000, 2000):
        df = spark.range(lo, lo + 1000).select(
            F.col("id"), F.lit(f"bucket{lo}").alias("tag")
        )
        write_delta(spark, df, path, mode="append")
    snap = load_snapshot(path)
    n_all = len(snap.files)
    assert n_all >= 3

    assert len(scan_files(snap, "id >= 2500")) < n_all
    assert len(scan_files(snap, "id = 1500")) < n_all
    assert len(scan_files(snap, "tag = 'bucket0'")) < n_all
    # unsupported construct → no pruning, still correct
    assert len(scan_files(snap, "id % 2 = 0")) == n_all
    assert read_delta(spark, path, predicate="id >= 2500").count() == 500
    assert read_delta(spark, path, predicate="id % 2 = 0").count() == 1500


def test_limit_truncates_files(spark, tmp_path):
    path = str(tmp_path / "lim")
    for _ in range(4):
        write_delta(spark, spark.range(100).coalesce(1), path, mode="append")
    snap = load_snapshot(path)
    assert len(snap.files) == 4
    assert len(scan_files(snap, limit=150)) == 2
    assert read_delta(spark, path, limit=150).count() == 150


def test_delete_with_deletion_vectors(spark, tmp_path):
    """FIXTURES.md F3: scattered deletes via DV; full-file delete
    becomes a remove; aggregates reflect deletions."""
    path = str(tmp_path / "dv")
    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 10).cast("string").alias("grp"),
        (F.col("id") * 2.0).alias("amount"),
    )
    write_delta(spark, df.repartition(4), path)
    snap0 = load_snapshot(path)
    assert len(snap0.files) == 4

    res = delete_delta(spark, path, "id % 10 = 3")  # scattered ~10%
    assert res["rows_deleted"] == 100
    assert res["files_rewritten"] == 4

    out = read_delta(spark, path)
    assert out.count() == 900
    assert out.filter("id % 10 = 3").count() == 0
    agg = out.agg(F.sum("id")).collect()[0][0]
    assert agg == sum(i for i in range(1000) if i % 10 != 3)

    snap1 = load_snapshot(path)
    assert all(f.dv is not None for f in snap1.files)

    # second delete merges with existing DVs
    res2 = delete_delta(spark, path, "id % 10 = 4")
    assert res2["rows_deleted"] == 100
    assert read_delta(spark, path).count() == 800

    # delete everything else → full-file removes, no files left
    res3 = delete_delta(spark, path, "id >= 0")
    assert read_delta(spark, path).count() == 0
    snap3 = load_snapshot(path)
    assert snap3.files == []


def test_dv_roundtrip_bitmap_codec():
    import numpy as np

    from deltalake_datafusion_spark.delta.deletion_vectors import (
        deserialize_bitmap,
        serialize_bitmap,
        z85_decode,
        z85_encode,
    )

    cases = [
        [],
        [0],
        [0, 1, 2, 65535, 65536, 65537],
        list(range(5000)),                      # bitmap container
        [2**32 + 5, 2**33 + 7, 3],              # multiple high buckets
        list(range(0, 100000, 3)),
    ]
    for idx in cases:
        blob = serialize_bitmap(idx)
        back = deserialize_bitmap(blob)
        assert back.tolist() == sorted(set(idx))

    data = os.urandom(32)
    assert z85_decode(z85_encode(data)) == data


def test_column_mapping(spark, tmp_path):
    """FIXTURES.md F4: physical ≠ logical names, nested rename,
    predicates on logical names still prune."""
    path = str(tmp_path / "cm")
    df = spark.createDataFrame(
        [(i, f"ev{i % 3}", (f"dev{i % 2}", i)) for i in range(50)],
        "user_id long, event_name string, props struct<device:string, version:int>",
    )
    write_delta(spark, df, path, column_mapping=True)
    snap = load_snapshot(path)
    assert snap.column_mapping_mode == "name"

    # physical files contain col-N names, not logical ones
    import pyarrow.parquet as papq

    f0 = os.path.join(path, snap.files[0].path)
    names = papq.read_schema(f0).names
    assert all(n.startswith("col-") for n in names)

    out = read_delta(spark, path)
    assert out.schema.fieldNames() == ["user_id", "event_name", "props"]
    assert out.select("props.device").distinct().count() == 2
    assert _rows(out, "user_id", "event_name") == _rows(df, "user_id", "event_name")

    # logical-name predicate: prunes (stats are under physical names)
    # and filters correctly
    assert read_delta(spark, path, predicate="user_id >= 25").count() == 25

    # append preserves mapping
    write_delta(spark, df, path, mode="append")
    assert read_delta(spark, path).count() == 100


def test_schema_evolution_missing_columns(spark, tmp_path):
    """FIXTURES.md F5: old files lack new columns → typed nulls."""
    from deltalake_datafusion_spark.delta.schema_apply import apply_schema
    from pyspark.sql.types import StructType

    target = StructType.fromJson(
        json.loads(
            spark.createDataFrame(
                [], "id long, name string, added_col double,"
                " nested struct<x:int, y:string, z_new:boolean>"
            ).schema.json()
        )
    )
    old = spark.createDataFrame(
        [(1, "a", (10, "yy"))], "id int, name string, nested struct<x:int, y:string>"
    )
    out = apply_schema(old, target)
    assert [f.name for f in out.schema.fields] == ["id", "name", "added_col", "nested"]
    row = out.collect()[0]
    assert row.id == 1 and row.added_col is None
    assert row.nested.x == 10 and row.nested.z_new is None
    assert dict(out.dtypes)["id"] == "bigint"  # widened


def test_nested_types_roundtrip(spark, tmp_path):
    """FIXTURES.md F6: struct / array / map survive the write+scan."""
    path = str(tmp_path / "nested")
    df = spark.createDataFrame(
        [
            (1, ("a", 1.0), [1, 2, 3], [("k1", 10)], {"m": 1}),
            (2, ("b", 2.5), [], [], {}),
            (3, None, None, None, None),
        ],
        "id long, s struct<c:string, d:double>, arr array<int>,"
        " arr_s array<struct<k:string, v:long>>, m map<string,int>",
    )
    write_delta(spark, df, path)
    out = read_delta(spark, path)
    got = {r.id: r for r in out.collect()}
    assert got[1].s.c == "a" and got[1].arr == [1, 2, 3]
    assert got[1].arr_s[0].k == "k1" and got[1].m == {"m": 1}
    assert got[2].arr == [] and got[3].s is None and got[3].m is None


def test_log_replay_df_matches_driver_replay(spark, tmp_path):
    """Spark-side log replay (S8) agrees with driver-side replay."""
    from deltalake_datafusion_spark.delta.snapshot import log_replay_spark

    path = str(tmp_path / "replaydf")
    write_delta(spark, spark.range(10), path)
    write_delta(spark, spark.range(10, 20), path, mode="append")
    delete_delta(spark, path, "id = 5")
    snap = load_snapshot(path)
    df = log_replay_spark(spark, path)
    spark_side = sorted(r["path"] for r in df.collect())
    driver_side = sorted(f.path for f in snap.files)
    assert spark_side == driver_side


def test_checkpoint_roundtrip(spark, tmp_path):
    """FIXTURES.md F7: snapshot from checkpoint + tail commits."""
    path = str(tmp_path / "cp")
    for i in range(3):
        write_delta(spark, spark.range(i * 10, (i + 1) * 10), path, mode="append")
    snap = load_snapshot(path)
    write_checkpoint(spark, snap)
    # additional commit after the checkpoint
    write_delta(spark, spark.range(30, 40), path, mode="append")

    snap2 = load_snapshot(path)
    assert snap2.version == 3
    assert read_delta(spark, path).count() == 40
    # time travel to pre-checkpoint version still works (json commits kept)
    assert read_delta(spark, path, version=0).count() == 10


def test_projection_and_limit(spark, tmp_path):
    path = str(tmp_path / "proj")
    write_delta(
        spark,
        spark.range(100).select("id", (F.col("id") * 2).alias("x"),
                                F.lit("pad").alias("pad")),
        path,
    )
    out = read_delta(spark, path, columns=["id", "x"], limit=10)
    assert out.columns == ["id", "x"]
    assert out.count() == 10


def test_spark_side_pruning_matches_driver_side(spark, tmp_path):
    """The distributed planning path (log_replay_spark + stats Column)
    must keep exactly the files the driver-side evaluator keeps —
    or a superset never smaller (both conservative), and both must
    retain every truly-matching file."""
    from deltalake_datafusion_spark.delta.scan import scan_files_spark

    path = str(tmp_path / "sparkprune")
    import datetime as dt
    from pyspark.sql import functions as F

    for lo in (0, 1000, 2000, 3000):
        df = spark.range(lo, lo + 1000).select(
            "id",
            (F.col("id") % 4).cast("string").alias("p"),
            F.lit(dt.date(2024, 1, 1 + lo // 1000)).alias("d"),
        )
        write_delta(spark, df, path, mode="append", partition_by=["p"])
    snap = load_snapshot(path)

    for pred in (
        "id >= 3500",
        "id = 1500 AND p = '2'",
        "p = '1'",
        "d >= DATE '2024-01-03'",
        "id IN (5, 2500)",
        "id >= 1000 OR d = DATE '2024-01-01'",
        None,
    ):
        driver = sorted(f.path for f in scan_files(snap, pred))
        sparkside = sorted(
            r.path for r in scan_files_spark(spark, path, pred).collect()
        )
        assert sparkside == driver, (pred, len(sparkside), len(driver))
        if pred:
            assert len(driver) < len(snap.files) or "OR" in pred


def test_commit_conflict_and_retry(spark, tmp_path):
    """Atomic create-if-absent commit: same version twice raises
    ConcurrentWriteError; write_delta's optimistic retry re-resolves
    the snapshot and lands on the next free version."""
    import pytest as _pytest

    from deltalake_datafusion_spark.delta.scan import read_delta
    from deltalake_datafusion_spark.delta.snapshot import load_snapshot
    from deltalake_datafusion_spark.delta.writer import (
        ConcurrentWriteError,
        commit,
        write_delta,
    )

    path = str(tmp_path / "t")
    write_delta(spark, spark.range(10).selectExpr("id", "id * 2 AS v"), path)

    # direct conflict: version 1 committed twice
    commit(path, 1, [], "TEST")
    with _pytest.raises(ConcurrentWriteError):
        commit(path, 1, [], "TEST")

    # optimistic retry: inject a competing commit the moment the
    # writer makes its first attempt — the first commit() call hits
    # ConcurrentWriteError and the loop must re-resolve and land on
    # the next free version.
    from deltalake_datafusion_spark.delta import writer as writer_mod

    real_commit = writer_mod.commit
    state = {"raced": False}

    def racing_commit(table_path, version, actions, op, spark_=None, **kw):
        if not state["raced"]:
            state["raced"] = True
            real_commit(table_path, version, [], "COMPETING", spark_)
        return real_commit(table_path, version, actions, op, spark_)

    writer_mod.commit = racing_commit
    try:
        write_delta(
            spark,
            spark.range(10, 15).selectExpr("id", "id * 2 AS v"),
            path,
            mode="append",
        )
    finally:
        writer_mod.commit = real_commit
    assert state["raced"]
    snap = load_snapshot(path, spark=spark)
    assert snap.version == 3  # v2 stolen by the competitor, append at 3
    assert read_delta(spark, path).count() == 15


def test_distributed_multipart_checkpoint(spark, tmp_path):
    """write_checkpoint_spark: adds derived executor-side from the
    log, multi-part naming, reconstructable without the JSON commits."""
    from deltalake_datafusion_spark.delta.writer import write_checkpoint_spark

    path = str(tmp_path / "cp_spark")
    write_delta(spark, spark.range(50).select("id"), path)
    write_delta(spark, spark.range(50, 90).select("id"), path, mode="append")
    delete_delta(spark, path, "id < 10")
    write_delta(
        spark, spark.range(200, 210).select("id"), path, mode="append",
        txn=("appX", 7),
    )

    finals = write_checkpoint_spark(spark, path, parts=3)
    assert len(finals) == 3
    assert all(".checkpoint." in os.path.basename(p) for p in finals)
    import json as _json

    lc = _json.loads(
        open(os.path.join(path, "_delta_log", "_last_checkpoint")).read()
    )
    assert lc["parts"] == 3 and lc["version"] == 3

    # checkpoint alone reconstructs the snapshot (log cleaned up)
    for v in range(4):
        os.remove(os.path.join(path, "_delta_log", f"{v:020d}.json"))
    snap = load_snapshot(path)
    assert snap.version == 3
    assert snap.app_transactions.get("appX") == 7
    ids = sorted(r.id for r in read_delta(spark, path).collect())
    assert ids == list(range(10, 90)) + list(range(200, 210))

    # incremental: a later commit + re-checkpoint from the checkpoint
    write_delta(spark, spark.range(300, 305).select("id"), path, mode="append")
    finals2 = write_checkpoint_spark(spark, path, parts=1)
    assert len(finals2) == 1
    assert read_delta(spark, path).count() == 95


def test_collect_file_stats_remote_path_via_fs_ranged_reads(spark, tmp_path):
    """Footer stats for a remote-scheme path are parsed from ranged
    reads through the storage handler — identical JSON to the local
    fast path, no local open of the remote object."""
    import json

    from deltalake_datafusion_spark.delta.stats import collect_file_stats

    local = str(tmp_path / "f.parquet")
    spark.range(100).select(
        "id", (F.col("id") % 7).alias("k")
    ).coalesce(1).write.parquet(str(tmp_path / "stage"))
    import glob
    import shutil

    shutil.copyfile(glob.glob(str(tmp_path / "stage" / "*.parquet"))[0], local)

    class FakeRemoteFS:
        """Maps fake://<path> ranged reads onto the local file."""

        def read_bytes(self, path, offset=0, length=None):
            with open(path[len("fake://"):], "rb") as f:
                f.seek(offset)
                return f.read() if length is None else f.read(length)

    size = os.path.getsize(local)
    remote_json = collect_file_stats(
        "fake://" + local, fs=FakeRemoteFS(), size=size
    )
    local_json = collect_file_stats(local)
    assert json.loads(remote_json) == json.loads(local_json)
    # missing fs/size must fail loudly, not fall back to a local open
    import pytest as _pytest

    with _pytest.raises(ValueError, match="remote path"):
        collect_file_stats("fake://" + local)


def test_replay_100k_actions_is_linear(spark, tmp_path):
    """Perf regression guard for the log-replay hot path: a synthetic
    log with 100k add/remove actions must replay on the driver in
    O(actions) — the path-keyed dict gives O(1) replace/pop, so 2s is
    generous headroom even on a noisy VM (the round-1 O(actions^2)
    implementation took minutes). Also pins the replay RESULT against
    the distributed windowed-DataFrame replay on the same log."""
    import json as _json
    import time

    from deltalake_datafusion_spark.delta.snapshot import (
        load_snapshot,
        log_replay_spark,
    )

    path = str(tmp_path / "big_log")
    log_dir = os.path.join(path, "_delta_log")
    os.makedirs(log_dir)
    schema_str = _json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True, "metadata": {}}
            ],
        }
    )
    # v0: protocol + metadata + 50k adds; v1: 25k removes + 25k adds.
    # Survivors: files 25000..74999 → 50k live files.
    with open(os.path.join(log_dir, "%020d.json" % 0), "w") as fh:
        fh.write(
            _json.dumps(
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
            )
            + "\n"
        )
        fh.write(
            _json.dumps(
                {
                    "metaData": {
                        "id": "t",
                        "schemaString": schema_str,
                        "partitionColumns": [],
                        "configuration": {},
                    }
                }
            )
            + "\n"
        )
        for i in range(50_000):
            fh.write(
                _json.dumps(
                    {
                        "add": {
                            "path": f"part-{i:06d}.parquet",
                            "partitionValues": {},
                            "size": 1,
                            "modificationTime": 0,
                            "dataChange": True,
                        }
                    }
                )
                + "\n"
            )
    with open(os.path.join(log_dir, "%020d.json" % 1), "w") as fh:
        for i in range(25_000):
            fh.write(
                _json.dumps(
                    {
                        "remove": {
                            "path": f"part-{i:06d}.parquet",
                            "deletionTimestamp": 0,
                            "dataChange": True,
                        }
                    }
                )
                + "\n"
            )
        for i in range(50_000, 75_000):
            fh.write(
                _json.dumps(
                    {
                        "add": {
                            "path": f"part-{i:06d}.parquet",
                            "partitionValues": {},
                            "size": 1,
                            "modificationTime": 0,
                            "dataChange": True,
                        }
                    }
                )
                + "\n"
            )

    t0 = time.time()
    snap = load_snapshot(path)
    elapsed = time.time() - t0
    assert len(snap.files) == 50_000
    assert snap.files[0].path == "part-025000.parquet"
    assert elapsed < 2.0, f"100k-action replay took {elapsed:.1f}s (O(n^2)?)"

    # distributed replay agrees with the driver-side replay
    spark_paths = {
        r.path
        for r in log_replay_spark(spark, path).select("path").collect()
    }
    assert spark_paths == {f.path for f in snap.files}


# Hive-escaped partition directories: space, '#', '%', '+', '=',
# unicode, null.
SPECIAL_PARTITION_VALUES = [
    "plain", "with space", "a#b", "p%ct", "a+b", "k=v", "naïve-ü", None,
]


def test_partition_injection_join_handles_special_values(spark, tmp_path):
    """The broadcast file->values join keys on Spark's raw
    _metadata.file_path; hive-escaped partition directories and null
    partitions must all round-trip exactly through the multi-tuple
    join path."""
    from deltalake_datafusion_spark.delta.scan import read_delta
    from deltalake_datafusion_spark.delta.writer import write_delta

    vals = SPECIAL_PARTITION_VALUES
    rows = [(i, v) for i, v in enumerate(vals) for _ in range(3)]
    df = spark.createDataFrame(rows, "id long, p string")
    path = str(tmp_path / "t")
    write_delta(spark, df, path, partition_by=["p"])

    out = read_delta(spark, path)
    got = sorted(
        ((r["id"], r["p"]) for r in out.collect()),
        key=lambda t: (t[0], t[1] is None, t[1] or ""),
    )
    assert got == sorted(
        rows, key=lambda t: (t[0], t[1] is None, t[1] or "")
    )
    # per-value predicate prune + read
    assert out.filter("p = 'a#b'").count() == 3
    assert out.filter("p = 'with space'").count() == 3
    assert out.filter("p IS NULL").count() == 3
    assert out.filter("p = 'naïve-ü'").count() == 3


@pytest.mark.parametrize("dv_filter", ["anti_join", "udf"])
def test_file_path_keys_under_special_directory(
    spark, tmp_path, monkeypatch, dv_filter
):
    """Every per-file broadcast map — partition values, row ids,
    deletion vectors — keys on Spark's raw ``_metadata.file_path``.
    A row-tracking table under a directory named with a space, '%',
    '+', '#' and 'é', partitioned by hive-escaped values, must read,
    DELETE, UPDATE, MERGE and OPTIMIZE to the rows computed here, and
    keep every surviving row's id. ``udf`` lowers the anti-join bound
    to 0 so the range-triage + roaring-blob fallback is keyed too."""
    from deltalake_datafusion_spark.delta import deletion_vectors
    from deltalake_datafusion_spark.delta.ops import (
        merge_delta,
        optimize_delta,
        update_delta,
    )

    if dv_filter == "udf":
        monkeypatch.setattr(deletion_vectors, "DV_ANTI_JOIN_MAX_ROWS", 0)
    vals = SPECIAL_PARTITION_VALUES
    path = str(tmp_path / "dir a%25b+c#d é" / "t")
    expected = {i: (vals[i % len(vals)], 10 * i) for i in range(48)}
    write_delta(
        spark,
        spark.createDataFrame(
            [(i, p, v) for i, (p, v) in expected.items()],
            "id long, p string, v long",
        ).repartition(2),
        path,
        partition_by=["p"],
        configuration={"delta.enableRowTracking": "true"},
    )

    def check(prior_ids):
        rows = read_delta(spark, path, with_row_ids=True).collect()
        assert sorted((r["id"], r["p"], r["v"]) for r in rows) == sorted(
            (i, p, v) for i, (p, v) in expected.items()
        )
        ids = {r["id"]: r["_row_id"] for r in rows}
        assert len(set(ids.values())) == len(ids)
        assert all(ids[i] == rid for i, rid in prior_ids.items() if i in ids)
        return ids

    ids = check({})
    delete_delta(spark, path, "id % 5 = 1")
    expected = {i: pv for i, pv in expected.items() if i % 5 != 1}
    assert any(f.dv for f in load_snapshot(path, spark=spark).files)
    ids = check(ids)

    update_delta(spark, path, {"v": "v + 1"}, "id % 3 = 0")
    expected = {
        i: (p, v + 1 if i % 3 == 0 else v) for i, (p, v) in expected.items()
    }
    ids = check(ids)

    source = [(i, vals[i % len(vals)], -i) for i in range(40, 56)]
    merge_delta(
        spark, path,
        spark.createDataFrame(source, "id long, p string, v long"),
        on="t.id = s.id",
        when_matched_update={"v": "s.v"},
        when_not_matched_insert=True,
    )
    expected.update({i: (p, v) for i, p, v in source})
    ids = check(ids)

    optimize_delta(spark, path, small_file_threshold=1 << 30)
    assert not any(f.dv for f in load_snapshot(path, spark=spark).files)
    check(ids)


def test_file_path_keys_raise_for_unlisted_file(spark, tmp_path):
    """A file the scan did not list has no ``_metadata.file_path`` key:
    building the per-file maps raises instead of letting its rows join
    against no map row (a DV file's deleted rows would pass through)."""
    from deltalake_datafusion_spark.delta.scan import FileKeys

    path = str(tmp_path / "t")
    write_delta(spark, spark.range(10).repartition(2), path)
    snap = load_snapshot(path, spark=spark)
    assert len(snap.files) == 2
    one = spark.read.parquet(os.path.join(path, snap.files[0].path))
    assert len(FileKeys(one, path, snap.files[:1]).keyed) == 1
    with pytest.raises(ValueError, match="not among the files Spark listed"):
        FileKeys(one, path, snap.files).keyed


def test_file_path_keys_py4j_calls_do_not_grow_with_files(
    spark, tmp_path, monkeypatch
):
    """Keying a read's files makes the same number of py4j round trips
    for 2000 files as for 10 (a per-file JVM call would cost ~1 ms a
    file on the driver before planning starts), and each key equals
    the ``_metadata.file_path`` Spark reports."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from deltalake_datafusion_spark.delta import scan as scan_mod
    from deltalake_datafusion_spark.delta.snapshot import AddFile

    def table(name, n):
        root = tmp_path / name
        root.mkdir()
        for i in range(n):
            pq.write_table(pa.table({"id": [i]}), root / f"part {i}#.parquet")
        files = [
            AddFile(path=f"part {i}#.parquet", size=0, modification_time=0)
            for i in range(n)
        ]
        return spark.read.parquet(str(root)), str(root), files

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = []

    def counted(command, *args, **kwargs):
        sent.append(command)
        return send(command, *args, **kwargs)

    def round_trips(df, root, files):
        monkeypatch.setattr(scan_mod, "_FILE_PATHS", {})
        sent.clear()
        monkeypatch.setattr(client, "send_command", counted)
        keyed = scan_mod.FileKeys(df, root, files).keyed
        monkeypatch.setattr(client, "send_command", send)
        assert sorted(keyed) == sorted(
            r[0] for r in df.select("_metadata.file_path").collect()
        )
        return len(sent)

    small, large = table("ten", 10), table("two thousand", 2000)
    assert round_trips(*large) <= round_trips(*small)
