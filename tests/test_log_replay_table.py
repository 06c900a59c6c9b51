"""The log-replay table (``log_replay_df``): below the planner cutover
its rows come from the driver replay as one Arrow ``LocalRelation``;
they must equal the Spark-side replay (``log_replay_spark``) in every
column, on every log shape the reader supports."""

from __future__ import annotations

import datetime as dt
import decimal
import json
import os

import pytest
from pyspark.sql import functions as F

from deltalake_datafusion_spark.delta.ops import delete_delta
from deltalake_datafusion_spark.delta.snapshot import (
    DeltaNotFoundError,
    _java_float_str,
    load_snapshot,
    log_replay_df,
    log_replay_spark,
)
from deltalake_datafusion_spark.delta.writer import (
    write_checkpoint,
    write_checkpoint_v2,
    write_delta,
)


def _rows(df):
    return sorted(
        (r.asDict(recursive=True) for r in df.collect()),
        key=lambda d: d["path"],
    )


def _assert_same(spark, path, version=None):
    """The public table (driver branch on these small logs) equals the
    Spark replay row for row on all columns; returns the rows."""
    local = log_replay_df(spark, path, version)
    remote = log_replay_spark(spark, path, version)
    assert [(f.name, f.dataType) for f in local.schema] == [
        (f.name, f.dataType) for f in remote.schema
    ]
    got = _rows(local)
    assert got == _rows(remote)
    return got


def _ids(spark, lo, hi):
    return spark.range(lo, hi).select("id", (F.col("id") * 3).alias("v"))


def test_checkpoint_dvs_tail_and_time_travel(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta(spark, _ids(spark, 0, 40).repartition(2), path)
    write_delta(spark, _ids(spark, 40, 60).coalesce(1), path, mode="append")
    delete_delta(spark, path, "id % 7 = 3")  # deletion vectors
    cp = load_snapshot(path, spark=spark)
    assert any(f.dv is not None for f in cp.files)
    write_checkpoint(spark, cp)
    write_delta(spark, _ids(spark, 60, 70).coalesce(1), path, mode="append")
    delete_delta(spark, path, "id = 61 OR id = 5")
    rows = _assert_same(spark, path)
    assert any(r["deletionVector"] for r in rows)
    # checkpoint-supplied adds carry the checkpoint version, the tail
    # adds their own commit version
    versions = {r["commit_version"] for r in rows}
    assert cp.version in versions and max(versions) > cp.version
    for v in (1, cp.version, cp.version + 1):  # before, at, after
        _assert_same(spark, path, v)


def test_mapped_partitioned_special_names(spark, tmp_path):
    path = str(tmp_path / "dir a%b+c" / "t")
    df = spark.createDataFrame(
        [(i, ["x y", "p%q", "a+b", None][i % 4]) for i in range(12)],
        "id long, `part col%+` string",
    )
    write_delta(spark, df.repartition(2), path,
                partition_by=["part col%+"], column_mapping=True)
    write_delta(spark, df.limit(4), path, mode="append")
    delete_delta(spark, path, "id = 2")
    rows = _assert_same(spark, path)
    assert any("%" in r["path"] for r in rows)  # raw, URL-encoded
    assert all(len(r["partitionValues"]) == 1 for r in rows)


def test_compacted_log(spark, tmp_path):
    from deltalake_datafusion_spark.delta.logcompact import compact_log

    path = str(tmp_path / "t")
    for i in range(4):
        write_delta(spark, _ids(spark, 10 * i, 10 * i + 10).coalesce(1),
                    path, mode="append")
    delete_delta(spark, path, "id < 12")
    compact_log(spark, path)
    rows = _assert_same(spark, path)
    # a compacted file supplies its adds at its range end
    assert max(r["commit_version"] for r in rows) == 4
    _assert_same(spark, path, 2)


def test_v2_checkpoint_with_sidecars(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta(spark, _ids(spark, 0, 20).repartition(2), path,
                configuration={"delta.checkpointPolicy": "v2"})
    write_delta(spark, _ids(spark, 20, 30).coalesce(1), path, mode="append")
    write_checkpoint_v2(spark, path)
    assert os.listdir(os.path.join(path, "_delta_log", "_sidecars"))
    write_delta(spark, _ids(spark, 30, 40).coalesce(1), path, mode="append")
    _assert_same(spark, path)


def test_stats_as_struct_checkpoint(spark, tmp_path):
    """A checkpoint carrying only typed ``stats_parsed`` structs (what
    delta-spark writes under ``writeStatsAsStruct`` with
    ``writeStatsAsJson=false``): both replays write the same stats
    JSON — Java float text, microsecond UTC timestamps — and driver
    skipping still prunes on it."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    from deltalake_datafusion_spark.delta.scan import scan_files

    path = str(tmp_path / "t")
    t0 = dt.datetime(2024, 3, 1, 12, 30, 15, 123456, tzinfo=dt.timezone.utc)
    cols = "id long, x double, f float, s string, d date, ts timestamp, m decimal(12,2)"
    data = [
        (i, i * 1.25e-4, i / 10, f"s{i}", dt.date(2024, 1, 1 + i),
         t0 + dt.timedelta(days=i), decimal.Decimal(i) / 4)
        for i in range(6)
    ]
    for lo in (0, 3):
        write_delta(spark, spark.createDataFrame(data[lo:lo + 3], cols)
                    .coalesce(1), path, mode="append")
    snap = load_snapshot(path, spark=spark)
    vals_t = pa.struct([
        ("id", pa.int64()), ("x", pa.float64()), ("f", pa.float32()),
        ("s", pa.string()), ("d", pa.date32()),
        ("ts", pa.timestamp("us", tz="UTC")), ("m", pa.decimal128(12, 2)),
    ])
    stats_t = pa.struct([
        ("numRecords", pa.int64()), ("minValues", vals_t),
        ("maxValues", vals_t), ("nullCount", pa.struct([("id", pa.int64())])),
    ])
    add_t = pa.struct([
        ("path", pa.string()),
        ("partitionValues", pa.map_(pa.string(), pa.string())),
        ("size", pa.int64()), ("modificationTime", pa.int64()),
        ("dataChange", pa.bool_()), ("stats_parsed", stats_t),
    ])
    names = [c.split()[0] for c in cols.split(", ")]
    adds = []
    for f in snap.files:
        lo = json.loads(f.stats)["minValues"]["id"]
        rows = data[lo:lo + 3]
        adds.append({
            "path": f.log_path, "partitionValues": [], "size": f.size,
            "modificationTime": f.modification_time, "dataChange": False,
            "stats_parsed": {
                "numRecords": 3,
                "minValues": dict(zip(names, rows[0])),
                "maxValues": dict(zip(names, rows[-1])),
                "nullCount": {"id": 0},
            },
        })
    md = snap.metadata
    table = pa.table({
        "add": pa.array([None, None] + adds, add_t),
        "metaData": pa.array([
            {"id": md.id, "format": {"provider": "parquet"},
             "schemaString": md.schema_string, "partitionColumns": [],
             "configuration": [], "createdTime": md.created_time},
            None, None, None,
        ], pa.struct([
            ("id", pa.string()),
            ("format", pa.struct([("provider", pa.string())])),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", pa.map_(pa.string(), pa.string())),
            ("createdTime", pa.int64()),
        ])),
        "protocol": pa.array(
            [None, {"minReaderVersion": 1, "minWriterVersion": 2}, None, None],
            pa.struct([("minReaderVersion", pa.int32()),
                       ("minWriterVersion", pa.int32())]),
        ),
    })
    log_dir = os.path.join(path, "_delta_log")
    papq.write_table(
        table, os.path.join(log_dir, f"{snap.version:020d}.checkpoint.parquet")
    )
    rows = _assert_same(spark, path)
    stats = sorted(r["stats"] for r in rows)
    assert stats[0].startswith('{"numRecords":3,"minValues":{"id":0,"x":0.0,')
    assert '"x":6.25E-4,"f":0.5,' in stats[1]
    assert '"ts":"2024-03-06T12:30:15.123456Z","m":1.25}' in stats[1]
    kept = scan_files(
        load_snapshot(path, spark=spark),
        predicate="ts > TIMESTAMP '2024-03-06 12:30:15.1234'",
    )
    assert len(kept) == 1


def test_row_tracking(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta(spark, _ids(spark, 0, 20).repartition(2), path,
                configuration={"delta.enableRowTracking": "true"})
    write_delta(spark, _ids(spark, 20, 30).coalesce(1), path, mode="append")
    delete_delta(spark, path, "id = 4")
    rows = _assert_same(spark, path)
    assert all(r["baseRowId"] is not None for r in rows)
    assert all(r["defaultRowCommitVersion"] is not None for r in rows)


def test_version_past_tip_raises(spark, tmp_path, monkeypatch):
    from deltalake_datafusion_spark.delta import scan as scanmod

    path = str(tmp_path / "t")
    write_delta(spark, _ids(spark, 0, 5).coalesce(1), path)
    write_delta(spark, _ids(spark, 5, 9).coalesce(1), path, mode="append")
    with pytest.raises(DeltaNotFoundError):
        log_replay_df(spark, path, version=2)
    monkeypatch.setattr(scanmod, "SPARK_PLANNER_FILE_THRESHOLD", 0)
    with pytest.raises(DeltaNotFoundError):
        log_replay_df(spark, path, version=2)
    assert len(log_replay_df(spark, path, version=1).collect()) == 2


def test_small_table_replay_launches_no_job(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta(spark, _ids(spark, 0, 10).coalesce(1), path)
    write_delta(spark, _ids(spark, 10, 20).coalesce(1), path, mode="append")
    delete_delta(spark, path, "id = 3")
    sc = spark.sparkContext
    group = f"log-replay-jobs-{os.path.basename(str(tmp_path))}"
    sc.setJobGroup(group, "log_replay_df")
    try:
        rows = log_replay_df(spark, path).collect()
    finally:
        sc.setJobGroup(None, None)
    assert len(rows) == 2
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


@pytest.mark.parametrize(
    "x, single, text",
    [
        (1.0, False, "1.0"), (100.0, False, "100.0"), (0.001, False, "0.001"),
        (1e-4, False, "1.0E-4"), (1e7, False, "1.0E7"),
        (-123.456, False, "-123.456"), (1234567.5, False, "1234567.5"),
        (2.5e-10, False, "2.5E-10"), (0.1, True, "0.1"),
        (-0.0, False, "-0.0"), (float("nan"), False, '"NaN"'),
    ],
)
def test_java_float_text(x, single, text):
    assert _java_float_str(x, single) == text
