"""UPDATE / MERGE / OPTIMIZE row-level and maintenance DML."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from deltalake_datafusion_spark.delta.ops import (
    delete_delta,
    merge_delta,
    optimize_delta,
    update_delta,
)
from deltalake_datafusion_spark.delta.scan import read_delta
from deltalake_datafusion_spark.delta.snapshot import load_snapshot
from deltalake_datafusion_spark.delta.writer import write_delta


def test_update_basic(spark, tmp_path):
    path = str(tmp_path / "upd")
    df = spark.range(100).select(
        "id", (F.col("id") % 5).alias("grp"), F.lit(1.0).alias("v")
    )
    write_delta(spark, df.repartition(4), path)
    res = update_delta(spark, path, {"v": "v + 10"}, "grp = 2")
    assert res["rows_updated"] == 20

    out = read_delta(spark, path)
    assert out.count() == 100
    assert out.filter("grp = 2 AND v = 11.0").count() == 20
    assert out.filter("grp <> 2 AND v = 1.0").count() == 80
    # untouched rows kept their files; updated rows moved to new files
    snap = load_snapshot(path)
    assert any(f.dv is not None for f in snap.files)


def test_update_matching_no_row_commits_nothing(spark, tmp_path):
    """An UPDATE whose predicate matches no row writes no data file and
    commits no version — it returns the snapshot it read, like a
    no-match DELETE."""
    import os

    path = str(tmp_path / "upd_none")
    write_delta(spark, spark.range(10).select("id", (F.col("id") * 2).alias("k")), path)
    res = update_delta(spark, path, {"k": "k + 1"}, predicate="id < 0")
    assert res == {"rows_updated": 0, "files_added": 0, "version": 0}
    assert load_snapshot(path).version == 0
    data = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(data) == len(load_snapshot(path).files)


def test_empty_write_commits_without_data_file(spark, tmp_path):
    """An empty append still commits its version, with no add: no
    zero-row data file enters the log. An empty first write creates a
    readable, file-less table."""
    import json
    import os

    path = str(tmp_path / "empty_app")
    n_files = len(write_delta(spark, spark.range(5), path).files)
    snap = write_delta(spark, spark.range(0), path, mode="append")
    assert snap.version == 1 and len(snap.files) == n_files
    with open(os.path.join(path, "_delta_log", f"{1:020d}.json")) as fh:
        assert not any("add" in json.loads(ln) for ln in fh)
    assert read_delta(spark, path).count() == 5

    empty = str(tmp_path / "empty_new")
    snap = write_delta(spark, spark.range(0), empty)
    assert snap.version == 0 and snap.files == []
    out = read_delta(spark, empty)
    assert out.columns == ["id"] and out.count() == 0


def test_update_expression_uses_row_values(spark, tmp_path):
    path = str(tmp_path / "upd2")
    write_delta(spark, spark.range(10).select("id", (F.col("id") * 1.0).alias("v")), path)
    update_delta(spark, path, {"v": "v * 2 + id"}, "id >= 5")
    out = {r.id: r.v for r in read_delta(spark, path).collect()}
    for i in range(10):
        assert out[i] == (i * 2.0 + i if i >= 5 else float(i))


def test_merge_upsert(spark, tmp_path):
    path = str(tmp_path / "mrg")
    target = spark.range(10).select("id", F.lit("old").alias("val"))
    write_delta(spark, target.coalesce(2), path)

    source = spark.createDataFrame(
        [(5, "new5"), (7, "new7"), (100, "new100")], "id long, val string"
    )
    res = merge_delta(
        spark,
        path,
        source,
        on="t.id = s.id",
        when_matched_update={"val": "s.val"},
    )
    out = {r.id: r.val for r in read_delta(spark, path).collect()}
    assert len(out) == 11
    assert out[5] == "new5" and out[7] == "new7" and out[100] == "new100"
    assert out[0] == "old" and out[9] == "old"


def test_merge_delete_and_no_insert(spark, tmp_path):
    path = str(tmp_path / "mrgdel")
    write_delta(spark, spark.range(10).select("id", F.lit("x").alias("val")), path)
    source = spark.createDataFrame([(3,), (4,), (99,)], "id long")
    merge_delta(
        spark,
        path,
        source,
        on="t.id = s.id",
        when_matched_delete=True,
        when_not_matched_insert=False,
    )
    ids = {r.id for r in read_delta(spark, path).collect()}
    assert ids == set(range(10)) - {3, 4}


def test_merge_insert_only(spark, tmp_path):
    path = str(tmp_path / "mrgins")
    write_delta(spark, spark.range(5).select("id", F.lit("a").alias("val")), path)
    source = spark.createDataFrame(
        [(2, "dup"), (50, "new")], "id long, val string"
    )
    merge_delta(spark, path, source, on="t.id = s.id")  # no matched clause
    out = {r.id: r.val for r in read_delta(spark, path).collect()}
    assert out[2] == "a"          # matched row untouched (no update clause)
    assert out[50] == "new"
    assert len(out) == 6


def test_optimize_compaction(spark, tmp_path):
    path = str(tmp_path / "opt")
    for i in range(8):
        write_delta(
            spark, spark.range(i * 10, (i + 1) * 10).coalesce(1), path, mode="append"
        )
    snap = load_snapshot(path)
    assert len(snap.files) == 8
    res = optimize_delta(spark, path, target_file_size=1 << 30)
    snap2 = load_snapshot(path)
    assert res["files_compacted"] == 8
    assert len(snap2.files) == 1
    assert read_delta(spark, path).count() == 80
    # time travel before optimize still sees 8 files' worth of data
    assert read_delta(spark, path, version=snap.version).count() == 80


def test_optimize_partitioned_and_zorder(spark, tmp_path):
    path = str(tmp_path / "optz")
    df = spark.range(1000).select(
        "id", (F.col("id") % 4).cast("string").alias("p"),
        (F.col("id") * 7 % 1000).alias("z"),
    )
    write_delta(spark, df.repartition(8), path, partition_by=["p"])
    optimize_delta(spark, path, target_file_size=1 << 30, zorder_by=["z"])
    snap = load_snapshot(path)
    # one file per partition after clustering
    assert len(snap.files) == 4
    assert read_delta(spark, path).count() == 1000
    # clustering tightened z stats: each file's z-range is narrow? one
    # file per partition → full range; but rows are sorted, so row
    # groups are tight. Check scan correctness under predicate instead.
    assert read_delta(spark, path, predicate="z < 100").count() == 100


def test_optimize_after_delete_respects_dvs(spark, tmp_path):
    path = str(tmp_path / "optdv")
    for i in range(4):
        write_delta(
            spark, spark.range(i * 100, (i + 1) * 100).coalesce(1), path, mode="append"
        )
    delete_delta(spark, path, "id % 10 = 0")
    assert read_delta(spark, path).count() == 360
    optimize_delta(spark, path, target_file_size=1 << 30, zorder_by=["id"])
    # NOTE: optimize must materialize DVs (not resurrect deleted rows)
    assert read_delta(spark, path).count() == 360


def test_sql_update_and_optimize(spark, tmp_path):
    from deltalake_datafusion_spark.sql.dispatcher import sql

    path = str(tmp_path / "sqldml")
    write_delta(
        spark,
        spark.range(50).select("id", (F.col("id") * 1.0).alias("v")).repartition(4),
        path,
    )
    res = sql(spark, f"UPDATE '{path}' SET v = v + 0.5, id = id WHERE id < 10")
    assert res.collect()[0].rows_updated == 10
    assert read_delta(spark, path).filter("v = 5.5").count() == 1

    res = sql(spark, f"OPTIMIZE '{path}' ZORDER BY (id)")
    assert res.collect()[0].files_added >= 1
    assert read_delta(spark, path).count() == 50


def test_delete_large_payload_is_bitmap_scale(spark, tmp_path):
    """A ~1M-row delete must ship compressed bitmaps to the driver,
    not raw row indexes: the DV files on disk (and hence the collected
    blobs) stay KB-scale while the deleted row count is ~500k."""
    import os

    path = str(tmp_path / "bigdel")
    write_delta(
        spark,
        spark.range(1_000_000).select("id", (F.col("id") % 2).alias("par")),
        path,
    )
    res = delete_delta(spark, path, "par = 0")
    assert res["rows_deleted"] == 500_000
    dv_bytes = sum(
        os.path.getsize(os.path.join(path, n))
        for n in os.listdir(path)
        if n.startswith("deletion_vector_")
    )
    # 500k contiguous-ish deletes roaring-compress to well under 1 MB;
    # raw int64 indexes would be 4 MB+.
    assert 0 < dv_bytes < 1_000_000
    assert read_delta(spark, path).count() == 500_000


def test_merge_strict_rejects_duplicate_source_match(spark, tmp_path):
    from deltalake_datafusion_spark.delta.ops import MergeCardinalityError

    path = str(tmp_path / "mrg_strict")
    write_delta(spark, spark.range(5).select("id", F.lit("old").alias("val")), path)
    dup_source = spark.createDataFrame(
        [(3, "a"), (3, "b"), (4, "c")], "id long, val string"
    )
    with pytest.raises(MergeCardinalityError):
        merge_delta(
            spark,
            path,
            dup_source,
            on="t.id = s.id",
            when_matched_update={"val": "s.val"},
            strict=True,
        )
    # non-strict keeps the documented (duplicating) behavior
    res = merge_delta(
        spark,
        path,
        dup_source,
        on="t.id = s.id",
        when_matched_update={"val": "s.val"},
    )
    assert res["version"] >= 1


def test_merge_strict_passes_unique_source(spark, tmp_path):
    path = str(tmp_path / "mrg_strict_ok")
    write_delta(spark, spark.range(5).select("id", F.lit("old").alias("val")), path)
    source = spark.createDataFrame([(1, "x"), (9, "y")], "id long, val string")
    merge_delta(
        spark,
        path,
        source,
        on="t.id = s.id",
        when_matched_update={"val": "s.val"},
        strict=True,
    )
    out = {r.id: r.val for r in read_delta(spark, path).collect()}
    assert out[1] == "x" and out[9] == "y" and out[0] == "old"


def test_merge_strict_duplicate_match_tiny(spark, tmp_path):
    """Tier-1 twin of ``test_merge_strict_rejects_duplicate_source_match``:
    a strict MERGE whose source matches one target row twice raises
    before anything is staged or committed."""
    import os

    from deltalake_datafusion_spark.delta.ops import MergeCardinalityError

    path = str(tmp_path / "mrg_strict_tiny")
    write_delta(spark, spark.range(3).select("id", F.lit("old").alias("val")), path)
    before = sorted(os.listdir(path))
    dup = spark.createDataFrame([(2, "a"), (2, "b")], "id long, val string")
    with pytest.raises(MergeCardinalityError):
        merge_delta(
            spark, path, dup, on="t.id = s.id",
            when_matched_update={"val": "s.val"}, strict=True,
        )
    assert load_snapshot(path).version == 0
    assert sorted(os.listdir(path)) == before


def test_delete_partition_drop_is_metadata_only(spark, tmp_path, monkeypatch):
    """DELETE whose predicate provably covers whole files (partition
    drop / stats range) must remove them without scanning any data."""
    import deltalake_datafusion_spark.delta.ops as ops

    path = str(tmp_path / "del_meta")
    df = spark.range(100).select(
        "id", (F.col("id") % 4).alias("p"), (F.col("id") * 1.0).alias("v")
    )
    write_delta(spark, df, path, partition_by=["p"])

    def _no_scan(*a, **kw):
        raise AssertionError("partition-drop DELETE must not scan data")

    monkeypatch.setattr(ops, "_scan_with_rowmeta", _no_scan)
    res = delete_delta(spark, path, "p = 2")
    assert res["files_removed"] >= 1
    assert res["files_rewritten"] == 0
    assert res["rows_deleted"] == 25
    monkeypatch.undo()

    out = read_delta(spark, path)
    assert out.count() == 75
    assert out.filter("p = 2").count() == 0


def test_delete_stats_range_covers_whole_file(spark, tmp_path):
    """Non-partition predicate whose min/max bounds prove full
    coverage: file removed outright, remainder untouched."""
    path = str(tmp_path / "del_range")
    # two files with disjoint id ranges via repartitionByRange
    df = spark.range(100).select("id", (F.col("id") * 2.0).alias("v"))
    write_delta(spark, df.repartitionByRange(2, "id"), path)
    snap = load_snapshot(path)
    assert len(snap.files) == 2

    res = delete_delta(spark, path, "id < 50")
    assert res["files_removed"] == 1
    assert res["files_rewritten"] == 0
    assert res["rows_deleted"] == 50
    assert read_delta(spark, path).count() == 50


def test_delete_full_cover_accounts_prior_dv(spark, tmp_path):
    """A file that already lost rows to a DV, then gets fully covered:
    rows_deleted counts only the still-live rows."""
    path = str(tmp_path / "del_dv_then_full")
    write_delta(spark, spark.range(40).select("id").repartition(1), path)
    r1 = delete_delta(spark, path, "id < 10")
    assert r1["rows_deleted"] == 10
    r2 = delete_delta(spark, path, "id >= 0")  # covers the whole file
    assert r2["files_removed"] == 1
    assert r2["rows_deleted"] == 30
    assert read_delta(spark, path).count() == 0


def test_all_match_evaluator_soundness(spark):
    """all_match never claims full coverage when a non-matching row
    could exist (spot axioms on the lattice)."""
    from deltalake_datafusion_spark.delta.predicates import (
        StatsEvaluator,
        parse_predicate,
    )
    from deltalake_datafusion_spark.delta.snapshot import AddFile
    from pyspark.sql.types import LongType, StructField, StructType
    import json

    schema = StructType([StructField("id", LongType())])
    ev = StatsEvaluator(schema, [])

    def add(mn, mx, nulls=0, n=10):
        return AddFile(
            path="f", size=1, modification_time=0, partition_values={},
            stats=json.dumps(
                {"numRecords": n, "minValues": {"id": mn},
                 "maxValues": {"id": mx}, "nullCount": {"id": nulls}}
            ), dv=None,
        )

    p = parse_predicate
    assert ev.all_match(add(0, 49), p("id < 50"))
    assert not ev.all_match(add(0, 50), p("id < 50"))
    assert ev.all_match(add(50, 99), p("id >= 50"))
    assert ev.all_match(add(7, 7), p("id = 7"))
    assert not ev.all_match(add(7, 8), p("id = 7"))
    assert ev.all_match(add(7, 7), p("id IN (5, 7)"))
    assert ev.all_match(add(0, 49), p("id < 50 AND id >= 0"))
    assert not ev.all_match(add(0, 49), p("id < 50 AND id >= 1"))
    assert ev.all_match(add(0, 49), p("id < 50 OR id > 90"))
    assert ev.all_match(add(0, 49), p("NOT id >= 50"))
    # nulls defeat comparison-based full coverage
    assert not ev.all_match(add(0, 49, nulls=1), p("id < 50"))
    assert ev.all_match(add(0, 49, nulls=0), p("id IS NOT NULL"))
    # missing stats → never all_match
    nf = AddFile(path="f", size=1, modification_time=0,
                 partition_values={}, stats=None, dv=None)
    assert not ev.all_match(nf, p("id < 50"))


def test_update_is_single_atomic_commit(spark, tmp_path):
    """UPDATE must bump exactly one version carrying both the DV
    removes and the replacement adds — no intermediate state where the
    rows are deleted but not re-added."""
    path = str(tmp_path / "upd_atomic")
    write_delta(spark, spark.range(50).select("id", (F.col("id") * 1.0).alias("v")), path)
    v0 = load_snapshot(path).version
    res = update_delta(spark, path, {"v": "v + 1"}, "id < 10")
    assert res["rows_updated"] == 10
    snap = load_snapshot(path)
    assert snap.version == v0 + 1  # exactly one commit
    # and that single version contains the full row count
    assert read_delta(spark, path).count() == 50
    assert read_delta(spark, path, version=snap.version).count() == 50


def test_concurrent_disjoint_commit_retries_cleanly(spark, tmp_path, monkeypatch):
    """A concurrent append (disjoint files) between plan and commit:
    DELETE retries at the new tip and both commits survive."""
    import deltalake_datafusion_spark.delta.writer as w

    path = str(tmp_path / "cc_disjoint")
    write_delta(spark, spark.range(20).select("id"), path)

    real_commit = w.commit
    fired = {"done": False}

    def racing_commit(table_path, version, actions, operation, spark_=None, **kw):
        if not fired["done"] and operation == "DELETE":
            fired["done"] = True
            # concurrent append wins the version race
            write_delta(
                spark, spark.range(100, 110).select("id"), path, mode="append"
            )
        return real_commit(table_path, version, actions, operation, spark_)

    monkeypatch.setattr(w, "commit", racing_commit)
    res = delete_delta(spark, path, "id < 5")
    monkeypatch.undo()
    assert res["rows_deleted"] == 5
    out = read_delta(spark, path)
    assert out.count() == 25  # 20 - 5 + 10
    assert out.filter("id >= 100").count() == 10


def test_concurrent_conflicting_commit_restarts_not_reapplies(
    spark, tmp_path, monkeypatch
):
    """A concurrent DELETE that touches the same file must NOT have
    its stale actions silently re-applied at the new version: the
    loser detects the file conflict, RESTARTS from a fresh snapshot
    (re-plan, not blind retry), and lands the serial end state — the
    delete applied exactly once."""
    import deltalake_datafusion_spark.delta.ops as omod
    import deltalake_datafusion_spark.delta.writer as w

    path = str(tmp_path / "cc_conflict")
    write_delta(spark, spark.range(20).select("id").repartition(1), path)

    real_commit = w.commit
    fired = {"done": False}
    plans = {"n": 0}
    orig_plan = omod._delete_plan

    def counting_plan(*a, **kw):
        plans["n"] += 1
        return orig_plan(*a, **kw)

    def racing_commit(table_path, version, actions, operation, spark_=None, **kw):
        if not fired["done"] and operation == "DELETE":
            fired["done"] = True
            real_commit(table_path, version, actions, "DELETE", spark_)
            raise w.ConcurrentWriteError("simulated lost race")
        return real_commit(table_path, version, actions, operation, spark_)

    monkeypatch.setattr(w, "commit", racing_commit)
    monkeypatch.setattr(omod, "_delete_plan", counting_plan)
    res = delete_delta(spark, path, "id < 5")
    assert plans["n"] == 2  # true conflict → full re-plan, not blind retry
    assert res["rows_deleted"] == 0  # rival already deleted them
    got = sorted(r.id for r in read_delta(spark, path).collect())
    assert got == list(range(5, 20))  # applied exactly once


def test_delete_without_predicate_truncates_metadata_only(spark, tmp_path, monkeypatch):
    import deltalake_datafusion_spark.delta.ops as ops
    from deltalake_datafusion_spark.sql.dispatcher import sql

    path = str(tmp_path / "truncate")
    write_delta(spark, spark.range(100).select("id"), path)

    def _no_scan(*a, **kw):
        raise AssertionError("truncate must not scan data")

    monkeypatch.setattr(ops, "_scan_with_rowmeta", _no_scan)
    res = sql(spark, f"DELETE FROM '{path}'").collect()[0]
    monkeypatch.undo()
    assert res.rows_deleted == 100 and res.files_rewritten == 0
    assert read_delta(spark, path).count() == 0
    # history + time travel intact
    assert read_delta(spark, path, version=0).count() == 100


def test_update_without_predicate_updates_all(spark, tmp_path):
    from deltalake_datafusion_spark.sql.dispatcher import sql

    path = str(tmp_path / "updall")
    write_delta(spark, spark.range(30).select("id", (F.col("id") * 1.0).alias("v")), path)
    res = sql(spark, f"UPDATE '{path}' SET v = v + 1").collect()[0]
    assert res.rows_updated == 30
    assert read_delta(spark, path).filter("v = id + 1").count() == 30


def test_merge_not_matched_by_source_delete(spark, tmp_path):
    path = str(tmp_path / "mrg_bysource")
    write_delta(
        spark,
        spark.range(10).select("id", F.lit("old").alias("val")),
        path,
    )
    src = spark.createDataFrame(
        [(3, "upd3"), (20, "new20")], "id long, val string"
    )
    res = merge_delta(
        spark, path, src, "t.id = s.id",
        when_matched_update={"val": "s.val"},
        when_not_matched_by_source_delete=True,
    )
    out = {r.id: r.val for r in read_delta(spark, path).collect()}
    # full sync: only the matched (updated) and inserted rows remain
    assert out == {3: "upd3", 20: "new20"}
    assert res["files_rewritten"] >= 1


def test_merge_not_matched_by_source_condition(spark, tmp_path):
    path = str(tmp_path / "mrg_bysource_cond")
    write_delta(
        spark,
        spark.range(10).select("id", F.lit("old").alias("val")),
        path,
    )
    src = spark.createDataFrame([(3, "upd3")], "id long, val string")
    merge_delta(
        spark, path, src, "t.id = s.id",
        when_matched_update={"val": "s.val"},
        when_not_matched_insert=False,
        when_not_matched_by_source_delete=True,
        when_not_matched_by_source_condition="id >= 8",
    )
    out = {r.id: r.val for r in read_delta(spark, path).collect()}
    assert set(out) == {0, 1, 2, 3, 4, 5, 6, 7}  # 8,9 deleted
    assert out[3] == "upd3"


def test_merge_by_source_delete_emits_cdc(spark, tmp_path):
    from deltalake_datafusion_spark.delta.cdf import table_changes

    path = str(tmp_path / "mrg_bysource_cdf")
    write_delta(
        spark,
        spark.range(5).select("id", F.lit("x").alias("val")),
        path,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    src = spark.createDataFrame([(1, "y")], "id long, val string")
    merge_delta(
        spark, path, src, "t.id = s.id",
        when_matched_update={"val": "s.val"},
        when_not_matched_insert=False,
        when_not_matched_by_source_delete=True,
    )
    ch = table_changes(spark, path, 1).collect()
    kinds = sorted((r.id, r._change_type) for r in ch)
    assert (1, "update_preimage") in kinds and (1, "update_postimage") in kinds
    deletes = [k for k in kinds if k[1] == "delete"]
    assert [k[0] for k in deletes] == [0, 2, 3, 4]


def test_sql_merge_statement(spark, tmp_path):
    """MERGE INTO through the extended dialect: matched update +
    not-matched insert, then a full-sync form with by-source delete."""
    from deltalake_datafusion_spark.sql.dispatcher import sql

    path = str(tmp_path / "sqlmerge")
    write_delta(
        spark, spark.range(6).select("id", F.lit("old").alias("val")), path
    )
    spark.createDataFrame(
        [(2, "two"), (10, "ten")], "id long, val string"
    ).createOrReplaceTempView("merge_src")

    sql(
        spark,
        f"MERGE INTO '{path}' AS t USING merge_src AS s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET val = s.val "
        "WHEN NOT MATCHED THEN INSERT *",
    )
    out = {r.id: r.val for r in read_delta(spark, path).collect()}
    assert out[2] == "two" and out[10] == "ten" and out[0] == "old"
    assert len(out) == 7

    # full-sync: delete everything the source doesn't mention
    sql(
        spark,
        f"MERGE INTO '{path}' USING merge_src ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET val = s.val "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE",
    )
    out = {r.id: r.val for r in read_delta(spark, path).collect()}
    assert out == {2: "two", 10: "ten"}

    # matched-delete form
    sql(
        spark,
        f"MERGE INTO '{path}' USING merge_src ON t.id = s.id "
        "WHEN MATCHED THEN DELETE",
    )
    assert read_delta(spark, path).count() == 0


def test_update_set_is_simultaneous_assignment(spark, tmp_path):
    """ANSI/Delta UPDATE evaluates all SET right-hand sides against the
    OLD row: ``SET a = b, b = a`` swaps (a sequential withColumn chain
    would instead copy b into both)."""
    path = str(tmp_path / "swap")
    df = spark.createDataFrame(
        [(1, 10, 20), (2, 30, 40)], "id int, a int, b int"
    )
    write_delta(spark, df, path)
    update_delta(spark, path, {"a": "b", "b": "a"}, "id = 1")
    out = {r.id: (r.a, r.b) for r in read_delta(spark, path).collect()}
    assert out[1] == (20, 10)  # swapped, not (20, 20)
    assert out[2] == (30, 40)


def test_update_set_unknown_column_raises(spark, tmp_path):
    path = str(tmp_path / "unk")
    write_delta(spark, spark.range(3).select("id"), path)
    with pytest.raises(ValueError, match="unknown column"):
        update_delta(spark, path, {"nope": "1"}, "id = 0")


def test_merge_matched_update_is_simultaneous(spark, tmp_path):
    """MERGE WHEN MATCHED UPDATE uses simultaneous assignment too:
    ``SET a = b, b = a`` against the old target row swaps."""
    path = str(tmp_path / "mswap")
    target = spark.createDataFrame(
        [(1, 10, 20), (2, 30, 40)], "id int, a int, b int"
    )
    write_delta(spark, target, path)
    source = spark.createDataFrame([(1,)], "id int")
    merge_delta(
        spark,
        path,
        source,
        on="t.id = s.id",
        when_matched_update={"a": "b", "b": "a"},
        when_not_matched_insert=False,
    )
    out = {r.id: (r.a, r.b) for r in read_delta(spark, path).collect()}
    assert out[1] == (20, 10)
    assert out[2] == (30, 40)


def test_concurrent_append_matching_read_predicate_replans(
    spark, tmp_path, monkeypatch
):
    """Delta's ConcurrentAppendException: a DELETE racing an append of
    rows that match the DELETE's predicate must NOT retry blindly (the
    appended rows were not seen by its read) — it re-plans from the
    fresh snapshot and deletes the appended matches too, landing the
    serial append-then-delete state."""
    import deltalake_datafusion_spark.delta.ops as omod
    import deltalake_datafusion_spark.delta.writer as w

    path = str(tmp_path / "cc_append_conflict")
    write_delta(spark, spark.range(20).select("id").repartition(1), path)

    real_commit = w.commit
    fired = {"done": False}
    plans = {"n": 0}
    orig_plan = omod._delete_plan

    def counting_plan(*a, **kw):
        plans["n"] += 1
        return orig_plan(*a, **kw)

    def racing_commit(table_path, version, actions, operation, spark_=None, **kw):
        if not fired["done"] and operation == "DELETE":
            fired["done"] = True
            # concurrent writer appends rows with id 0..3 — inside the
            # DELETE's read predicate — and wins the version race
            write_delta(
                spark, spark.range(4).select("id").repartition(1),
                table_path, mode="append",
            )
            raise w.ConcurrentWriteError("simulated lost race")
        return real_commit(table_path, version, actions, operation, spark_)

    monkeypatch.setattr(w, "commit", racing_commit)
    monkeypatch.setattr(omod, "_delete_plan", counting_plan)
    res = delete_delta(spark, path, "id < 5")
    assert plans["n"] == 2  # matching append → full re-plan
    assert res["rows_deleted"] == 9  # old 0..4 + appended 0..3
    got = sorted(r.id for r in read_delta(spark, path).collect())
    assert got == list(range(5, 20))  # no appended row escaped


def test_concurrent_disjoint_append_retries_cleanly(
    spark, tmp_path, monkeypatch
):
    """An append provably OUTSIDE the DELETE's predicate (stats-
    disjoint) is not a read conflict — the DELETE retries and both
    transactions' effects survive."""
    import deltalake_datafusion_spark.delta.writer as w

    path = str(tmp_path / "cc_append_disjoint")
    write_delta(spark, spark.range(20).select("id").repartition(1), path)

    real_commit = w.commit
    fired = {"done": False}

    def racing_commit(table_path, version, actions, operation, spark_=None, **kw):
        if not fired["done"] and operation == "DELETE":
            fired["done"] = True
            write_delta(
                spark,
                spark.range(100, 111).select("id").repartition(1),
                table_path, mode="append",
            )
            raise w.ConcurrentWriteError("simulated lost race")
        return real_commit(table_path, version, actions, operation, spark_)

    monkeypatch.setattr(w, "commit", racing_commit)
    res = delete_delta(spark, path, "id < 5")
    assert res["rows_deleted"] == 5
    out = read_delta(spark, path)
    assert out.count() == 20 - 5 + 11
    assert out.filter("id >= 100").count() == 11


def test_concurrent_protocol_change_revalidates(spark, tmp_path, monkeypatch):
    """An intervening protocol-upgrade commit invalidates the attempt
    (it validated against the old protocol) — the transaction
    restarts and re-validates against the NEW protocol before
    committing; the upgrade survives. The attempt-level detection
    still surfaces to a non-restarting caller."""
    import deltalake_datafusion_spark.delta.ops as omod
    import deltalake_datafusion_spark.delta.writer as w
    from deltalake_datafusion_spark.delta.writer import (
        ConcurrentModificationError,
    )

    path = str(tmp_path / "cc_protocol")
    write_delta(spark, spark.range(20).select("id").repartition(1), path)

    real_commit = w.commit
    fired = {"done": False}

    def racing_commit(table_path, version, actions, operation, spark_=None, **kw):
        if not fired["done"] and operation == "DELETE":
            fired["done"] = True
            real_commit(
                table_path, version,
                [{"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                               "readerFeatures": ["deletionVectors"],
                               "writerFeatures": ["deletionVectors"]}}],
                "UPGRADE PROTOCOL", spark_,
            )
            raise w.ConcurrentWriteError("simulated lost race")
        return real_commit(table_path, version, actions, operation, spark_)

    monkeypatch.setattr(w, "commit", racing_commit)
    # the single ATTEMPT (no restart loop) surfaces the detection
    with pytest.raises(ConcurrentModificationError, match="protocol"):
        omod._delete_attempt(spark, path, "id < 5")
    # ...and the public op self-heals on the next (conflict-free) pass
    res = delete_delta(spark, path, "id < 5")
    assert res["rows_deleted"] == 5
    snap = load_snapshot(path, spark=spark)
    assert snap.protocol.min_reader_version == 3  # upgrade survived
    assert read_delta(spark, path).count() == 15


def test_dml_on_hive_escaped_partition_dirs(spark, tmp_path):
    """'#' in a partition value becomes %23 in the on-disk directory
    and %2523 in Spark's _metadata.file_path URI — DELETE (DV path)
    and UPDATE must still key the scanned rows back to their AddFiles
    (regression: KeyError in _delete_plan's by_path lookup)."""
    path = str(tmp_path / "esc")
    df = spark.range(60).select(
        "id",
        F.concat(F.lit("Brand#"), (F.col("id") % 3).cast("string")).alias("b"),
        (F.col("id") * 1.0).alias("v"),
    )
    write_delta(spark, df.repartition(2), path, partition_by=["b"])

    res = delete_delta(spark, path, "id % 10 = 0 AND b = 'Brand#0'")
    assert res["rows_deleted"] == 2  # ids 0, 30
    snap = load_snapshot(path)
    assert any(f.dv is not None for f in snap.files)  # partial → DV path

    update_delta(spark, path, {"v": "v + 100"}, "b = 'Brand#1' AND id < 10")
    out = read_delta(spark, path)
    assert out.count() == 58
    assert out.filter("v >= 100").count() == 3  # ids 1, 4, 7
    assert out.filter("b = 'Brand#0' AND id % 10 = 0").count() == 0


def test_merge_schema_evolution_adds_column(spark, tmp_path):
    """withSchemaEvolution: a new source column widens the target
    schema (nullable), inserts carry it, matched updates may SET it,
    and pre-existing rows read null."""
    path = str(tmp_path / "mse")
    write_delta(
        spark, spark.range(10).select("id", F.lit("old").alias("val")), path
    )
    source = spark.createDataFrame(
        [(5, "new5", 0.5), (100, "new100", 1.0)],
        "id long, val string, score double",
    )
    merge_delta(
        spark,
        path,
        source,
        on="t.id = s.id",
        when_matched_update={"val": "s.val", "score": "s.score"},
        schema_evolution=True,
    )
    snap = load_snapshot(path)
    assert snap.schema.fieldNames() == ["id", "val", "score"]
    assert snap.schema["score"].nullable
    out = {r.id: (r.val, r.score) for r in read_delta(spark, path).collect()}
    assert len(out) == 11
    assert out[5] == ("new5", 0.5)       # matched update SET new col
    assert out[100] == ("new100", 1.0)   # insert carries new col
    assert out[0] == ("old", None)       # untouched file → null back-fill
    assert out[9] == ("old", None)


def test_merge_schema_evolution_insert_only(spark, tmp_path):
    """Pure-insert evolved merge (no matches): typed null back-fill for
    target-only columns, metaData emitted, old rows null the new col."""
    path = str(tmp_path / "msei")
    # v must be nullable: evolution back-fills nulls into it, and the
    # writer (correctly) rejects nulls in NOT NULL columns
    write_delta(
        spark,
        spark.createDataFrame([(0, 1.0), (1, 1.0), (2, 1.0)],
                              "id long, v double"),
        path,
    )
    source = spark.createDataFrame([(50, "x")], "id long, tag string")
    merge_delta(
        spark, path, source, on="t.id = s.id", schema_evolution=True
    )
    out = {r.id: (r.v, r.tag) for r in read_delta(spark, path).collect()}
    assert out[50] == (None, "x")  # source lacks v → null
    assert out[0] == (1.0, None)


def test_merge_without_evolution_ignores_extra_columns(spark, tmp_path):
    path = str(tmp_path / "msenoev")
    write_delta(spark, spark.range(3).select("id", F.lit("a").alias("val")), path)
    source = spark.createDataFrame([(9, "b", 7)], "id long, val string, extra int")
    merge_delta(spark, path, source, on="t.id = s.id")
    snap = load_snapshot(path)
    assert snap.schema.fieldNames() == ["id", "val"]  # unchanged
    assert read_delta(spark, path).count() == 4


def test_merge_schema_evolution_column_mapped(spark, tmp_path):
    """On a column-mapped table the evolved column gets the next
    mapping id + fresh physical name and maxColumnId advances."""
    path = str(tmp_path / "msemap")
    write_delta(
        spark,
        spark.range(4).select("id", F.lit("v").alias("val")),
        path,
        column_mapping=True,
    )
    before = int(
        load_snapshot(path).get_property("delta.columnMapping.maxColumnId")
    )
    source = spark.createDataFrame([(1, "w", 9)], "id long, val string, n int")
    merge_delta(
        spark,
        path,
        source,
        on="t.id = s.id",
        when_matched_update={"val": "s.val", "n": "s.n"},
        schema_evolution=True,
    )
    snap = load_snapshot(path)
    f = snap.schema["n"]
    assert f.metadata["delta.columnMapping.id"] == before + 1
    assert f.metadata["delta.columnMapping.physicalName"].startswith("col-")
    assert (
        int(snap.get_property("delta.columnMapping.maxColumnId")) == before + 1
    )
    out = {r.id: (r.val, r.n) for r in read_delta(spark, path).collect()}
    assert out[1] == ("w", 9) and out[0] == ("v", None)


def test_sql_merge_with_schema_evolution(spark, tmp_path):
    from deltalake_datafusion_spark.sql.dispatcher import sql

    path = str(tmp_path / "msesql")
    write_delta(spark, spark.range(5).select("id", F.lit("z").alias("val")), path)
    spark.createDataFrame(
        [(2, "q", 3.5), (42, "r", 4.5)], "id long, val string, w double"
    ).createOrReplaceTempView("mse_src")
    sql(
        spark,
        f"MERGE WITH SCHEMA EVOLUTION INTO '{path}' AS t USING mse_src AS s "
        "ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET val = s.val, w = s.w "
        "WHEN NOT MATCHED THEN INSERT *",
    )
    out = {r.id: (r.val, r.w) for r in read_delta(spark, path).collect()}
    assert out[2] == ("q", 3.5) and out[42] == ("r", 4.5)
    assert out[0] == ("z", None)


# ------------------------------------------------------------------ #
# MERGE strategy="dv" (deletion-vector merge)                         #
# ------------------------------------------------------------------ #


def _dv_merge_fixture(spark, tmp_path, name, **cfg):
    path = str(tmp_path / name)
    write_delta(
        spark,
        spark.createDataFrame(
            [(i, float(i)) for i in range(100)], "k long, v double"
        ).repartition(4),
        path,
        **cfg,
    )
    return path


def test_merge_dv_strategy_equals_cow(spark, tmp_path):
    src = spark.createDataFrame(
        [(1, 100.0), (2, 200.0), (500, 5.0)], "k long, v double"
    )
    out = {}
    for strat in ("cow", "dv"):
        path = _dv_merge_fixture(spark, tmp_path, strat)
        merge_delta(
            spark, path, src, on="t.k = s.k",
            when_matched_update={"v": "s.v"}, strategy=strat,
        )
        out[strat] = {
            (r["k"], r["v"]) for r in read_delta(spark, path).collect()
        }
    assert out["dv"] == out["cow"]


def test_merge_dv_strategy_writes_dvs_not_rewrites(spark, tmp_path):
    path = _dv_merge_fixture(spark, tmp_path, "dvmode")
    before = load_snapshot(path)
    src = spark.createDataFrame([(7, -7.0)], "k long, v double")
    res = merge_delta(
        spark, path, src, on="t.k = s.k",
        when_matched_update={"v": "s.v"}, strategy="dv",
    )
    after = load_snapshot(path)
    # exactly one file gained a DV (kept its path); one new file holds
    # the replacement row; untouched files are bit-identical entries
    assert res["files_rewritten"] == 1
    dv_files = [f for f in after.files if f.dv is not None]
    assert len(dv_files) == 1
    assert dv_files[0].path in {f.path for f in before.files}
    assert len(after.files) == len(before.files) + 1
    rows = {r["k"]: r["v"] for r in read_delta(spark, path).collect()}
    assert rows[7] == -7.0 and len(rows) == 100


def test_merge_dv_matched_delete_and_insert(spark, tmp_path):
    path = _dv_merge_fixture(spark, tmp_path, "dvdel")
    src = spark.createDataFrame(
        [(3, 0.0), (4, 0.0), (999, 9.0)], "k long, v double"
    )
    merge_delta(
        spark, path, src, on="t.k = s.k",
        when_matched_delete=True, strategy="dv",
    )
    rows = {r["k"] for r in read_delta(spark, path).collect()}
    assert 3 not in rows and 4 not in rows and 999 in rows
    assert len(rows) == 99  # 100 - 2 deleted + 1 inserted


def test_merge_dv_by_source_delete(spark, tmp_path):
    path = _dv_merge_fixture(spark, tmp_path, "dvbs")
    src = spark.createDataFrame(
        [(i, float(i)) for i in range(50)], "k long, v double"
    )
    merge_delta(
        spark, path, src, on="t.k = s.k",
        when_matched_update={"v": "s.v"},
        when_not_matched_by_source_delete=True,
        strategy="dv",
    )
    rows = {r["k"] for r in read_delta(spark, path).collect()}
    assert rows == set(range(50))


def test_merge_dv_cdf_images_match_cow(spark, tmp_path):
    from deltalake_datafusion_spark.delta.cdf import table_changes

    src = spark.createDataFrame([(5, 55.0), (300, 3.0)], "k long, v double")
    feeds = {}
    for strat in ("cow", "dv"):
        path = _dv_merge_fixture(
            spark, tmp_path, f"cdf{strat}",
            configuration={"delta.enableChangeDataFeed": "true"},
        )
        merge_delta(
            spark, path, src, on="t.k = s.k",
            when_matched_update={"v": "s.v"}, strategy=strat,
        )
        feeds[strat] = {
            (r["k"], r["v"], r["_change_type"])
            for r in table_changes(spark, path, 1).collect()
        }
    assert feeds["dv"] == feeds["cow"]


def test_merge_dv_cdf_images_match_cow_tiny(spark, tmp_path):
    """Tier-1 twin of ``test_merge_dv_cdf_images_match_cow`` on a
    4-row, one-file table: the dv strategy's pre/post images and
    insert are exactly the feed copy-on-write commits for this merge
    (the slow original compares the two strategies run side by side)."""
    from deltalake_datafusion_spark.delta.cdf import table_changes

    path = str(tmp_path / "cdf_tiny_dv")
    write_delta(
        spark,
        spark.createDataFrame(
            [(i, float(i)) for i in range(4)], "k long, v double"
        ).coalesce(1),
        path,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    merge_delta(
        spark, path,
        spark.createDataFrame([(1, 11.0), (9, 9.0)], "k long, v double"),
        on="t.k = s.k", when_matched_update={"v": "s.v"},
        when_not_matched_insert=True, strategy="dv",
    )
    assert any(f.dv is not None for f in load_snapshot(path).files)
    assert {
        (r["k"], r["v"], r["_change_type"])
        for r in table_changes(spark, path, 1).collect()
    } == {
        (1, 1.0, "update_preimage"),
        (1, 11.0, "update_postimage"),
        (9, 9.0, "insert"),
    }


def test_merge_dv_no_matched_clause_leaves_rows(spark, tmp_path):
    path = _dv_merge_fixture(spark, tmp_path, "dvnoop")
    src = spark.createDataFrame([(1, 0.0), (777, 7.0)], "k long, v double")
    merge_delta(spark, path, src, on="t.k = s.k", strategy="dv")
    rows = {r["k"]: r["v"] for r in read_delta(spark, path).collect()}
    assert rows[1] == 1.0  # matched row untouched (no matched clause)
    assert rows[777] == 7.0 and len(rows) == 101


def test_merge_auto_strategy_picks_by_touched_bytes(spark, tmp_path, monkeypatch):
    """auto → cow on small touched files; dv once the rewrite would
    move real bytes (threshold pinned via the module constant)."""
    from deltalake_datafusion_spark.delta import ops as ops_mod

    src = spark.createDataFrame([(1, -1.0)], "k long, v double")

    path = _dv_merge_fixture(spark, tmp_path, "auto_small")
    merge_delta(
        spark, path, src, on="t.k = s.k",
        when_matched_update={"v": "s.v"}, strategy="auto",
    )
    snap = load_snapshot(path)
    assert all(f.dv is None for f in snap.files)  # cow: no DVs

    monkeypatch.setattr(ops_mod, "DV_MERGE_THRESHOLD_BYTES", 0)
    path = _dv_merge_fixture(spark, tmp_path, "auto_big")
    merge_delta(
        spark, path, src, on="t.k = s.k",
        when_matched_update={"v": "s.v"}, strategy="auto",
    )
    snap = load_snapshot(path)
    assert any(f.dv is not None for f in snap.files)  # dv path taken
    rows = {r["k"]: r["v"] for r in read_delta(spark, path).collect()}
    assert rows[1] == -1.0 and len(rows) == 100


def test_dv_files_written_by_executors_per_file(spark, tmp_path):
    """On executor-writable storage each touched parquet file gets its
    own DV file written from the applyInPandas stage — no bitmap blob
    ever crosses the driver (VERDICT r3 item 4). Pinned by observing
    one deletion_vector_*.bin per touched file, each with the
    1-byte-version-header offset."""
    import glob
    import os

    from deltalake_datafusion_spark.delta.snapshot import load_snapshot

    path = str(tmp_path / "t")
    df = spark.range(300).select(
        "id", (F.col("id") % 3).alias("par"), (F.col("id") * 2).alias("v")
    )
    write_delta(spark, df, path, partition_by=["par"])
    res = delete_delta(spark, path, "id % 10 = 1")  # hits all 3 files
    assert res["rows_deleted"] == 30

    dv_files = glob.glob(os.path.join(path, "deletion_vector_*.bin"))
    snap = load_snapshot(path, spark=spark)
    with_dv = [f for f in snap.files if f.dv is not None]
    assert len(with_dv) == 3
    assert len(dv_files) >= 3  # one per touched file, executor-written
    assert all(f.dv.offset == 1 for f in with_dv)
    # semantics unchanged
    from deltalake_datafusion_spark.delta.scan import read_delta
    assert read_delta(spark, path).count() == 270


def test_delete_like_prefix_metadata_only(spark, tmp_path, monkeypatch):
    """DELETE WHERE s LIKE 'p%': files whose stats PROVE every row has
    the prefix (min ≥ p, max < p⁺, no nulls) drop as pure metadata —
    zero data I/O — while mixed files still rewrite exactly."""
    import deltalake_datafusion_spark.delta.ops as ops

    path = str(tmp_path / "t")
    # one file all-'aa*' keys, one file 'b*' keys
    for pfx, lo in (("aa", 0), ("b", 100)):
        write_delta(
            spark,
            spark.range(lo, lo + 50).selectExpr(
                "id", f"concat('{pfx}', CAST(id AS STRING)) AS s"
            ).coalesce(1),
            path,
            mode="append",
        )

    def _no_scan(*a, **kw):
        raise AssertionError("prefix-covered DELETE must not scan data")

    monkeypatch.setattr(ops, "_scan_with_rowmeta", _no_scan)
    res = delete_delta(spark, path, "s LIKE 'aa%'")
    monkeypatch.undo()
    assert res["files_removed"] == 1 and res["files_rewritten"] == 0
    assert res["rows_deleted"] == 50
    got = sorted(r["id"] for r in read_delta(spark, path).collect())
    assert got == list(range(100, 150))


def test_merge_by_source_update_cow_and_dv(spark, tmp_path):
    """WHEN NOT MATCHED BY SOURCE THEN UPDATE SET (delta-spark): target
    rows without a source match get the assignments (target-only
    expressions), identical under both physical strategies."""
    for strategy in ("cow", "dv"):
        path = str(tmp_path / f"bsu_{strategy}")
        write_delta(
            spark,
            spark.range(10).select(
                "id", F.lit("live").alias("st"), (F.col("id") * 1.0).alias("v")
            ),
            path,
        )
        src = spark.createDataFrame(
            [(3, "live", 30.0), (20, "live", 200.0)],
            "id long, st string, v double",
        )
        merge_delta(
            spark, path, src, "t.id = s.id",
            when_matched_update={"v": "s.v"},
            when_not_matched_by_source_update={
                "st": "'stale'", "v": "v + 1000"
            },
            when_not_matched_by_source_condition="id >= 5",
            strategy=strategy,
        )
        out = {r.id: (r.st, r.v) for r in read_delta(spark, path).collect()}
        assert out[3] == ("live", 30.0)          # matched update
        assert out[20] == ("live", 200.0)        # insert
        assert out[7] == ("stale", 1007.0)       # by-source update
        assert out[2] == ("live", 2.0)           # condition filtered
        assert len(out) == 11


def test_merge_by_source_update_cdc_and_validation(spark, tmp_path):
    from deltalake_datafusion_spark.delta.cdf import table_changes

    path = str(tmp_path / "bsu_cdc")
    write_delta(
        spark,
        spark.range(4).select("id", (F.col("id") * 1.0).alias("v")),
        path,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    src = spark.createDataFrame([(0, 99.0)], "id long, v double")
    merge_delta(
        spark, path, src, "t.id = s.id",
        when_matched_update={"v": "s.v"},
        when_not_matched_insert=False,
        when_not_matched_by_source_update={"v": "v * -1"},
    )
    ch = table_changes(spark, path, 1).collect()
    pre = {r.id: r.v for r in ch if r._change_type == "update_preimage"}
    post = {r.id: r.v for r in ch if r._change_type == "update_postimage"}
    assert pre == {0: 0.0, 1: 1.0, 2: 2.0, 3: 3.0}
    assert post == {0: 99.0, 1: -1.0, 2: -2.0, 3: -3.0}
    # exclusivity + target-only validation
    with pytest.raises(ValueError, match="exclusive"):
        merge_delta(
            spark, path, src, "t.id = s.id",
            when_not_matched_by_source_delete=True,
            when_not_matched_by_source_update={"v": "0"},
        )
    with pytest.raises(ValueError, match="target"):
        merge_delta(
            spark, path, src, "t.id = s.id",
            when_not_matched_by_source_update={"v": "s.v"},
        )


def test_merge_by_source_update_sql(spark, tmp_path):
    from deltalake_datafusion_spark.sql.dispatcher import sql

    path = str(tmp_path / "bsu_sql")
    write_delta(
        spark,
        spark.range(6).select("id", F.lit(1).cast("long").alias("flag")),
        path,
    )
    spark.createDataFrame(
        [(2, 9)], "id long, flag long"
    ).createOrReplaceTempView("bsu_src")
    sql(
        spark,
        f"MERGE INTO '{path}' AS t USING bsu_src AS s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET flag = s.flag "
        "WHEN NOT MATCHED BY SOURCE AND id > 3 THEN UPDATE SET "
        "flag = CAST(0 AS BIGINT)",
    )
    out = {r.id: r.flag for r in read_delta(spark, path).collect()}
    assert out == {0: 1, 1: 1, 2: 9, 3: 1, 4: 0, 5: 0}


def test_merge_insert_condition_and_values(spark, tmp_path):
    """WHEN NOT MATCHED [AND cond] THEN INSERT (cols) VALUES (exprs):
    explicit column mapping with expressions over s.*, condition-
    narrowed; unassigned columns take null."""
    path = str(tmp_path / "mrg_insvals")
    write_delta(
        spark,
        spark.range(3).select(
            "id", F.lit("t").alias("tag"), (F.col("id") * 1.0).alias("v")
        ),
        path,
    )
    src = spark.createDataFrame(
        [(10, 5.0), (11, -1.0), (1, 9.0)], "id long, score double"
    )
    merge_delta(
        spark, path, src, "t.id = s.id",
        when_matched_update={"v": "s.score"},
        when_not_matched_condition="s.score > 0",
        when_not_matched_values={
            "id": "s.id", "v": "s.score * 2", "tag": "'new'"
        },
    )
    out = {r.id: (r.tag, r.v) for r in read_delta(spark, path).collect()}
    assert out[1] == ("t", 9.0)          # matched update
    assert out[10] == ("new", 10.0)      # values insert, expr applied
    assert 11 not in out                  # insert condition filtered
    assert len(out) == 4

    # unknown assigned column rejected
    import pytest as _pt

    with _pt.raises(ValueError, match="unknown column"):
        merge_delta(
            spark, path, src, "t.id = s.id",
            when_not_matched_values={"nope": "s.id"},
        )


def test_merge_insert_values_sql(spark, tmp_path):
    from deltalake_datafusion_spark.sql.dispatcher import sql

    path = str(tmp_path / "mrg_insvals_sql")
    write_delta(
        spark,
        spark.range(2).select("id", (F.col("id") * 1.0).alias("v")),
        path,
    )
    spark.createDataFrame(
        [(5, 50.0), (6, -6.0)], "id long, score double"
    ).createOrReplaceTempView("iv_src")
    sql(
        spark,
        f"MERGE INTO '{path}' AS t USING iv_src AS s ON t.id = s.id "
        "WHEN NOT MATCHED AND s.score > 0 THEN "
        "INSERT (id, v) VALUES (s.id, s.score + 1)",
    )
    out = {r.id: r.v for r in read_delta(spark, path).collect()}
    assert out == {0: 0.0, 1: 1.0, 5: 51.0}


def test_update_nested_struct_fields(spark, tmp_path):
    """UPDATE SET addr.city = … rebuilds the struct in place
    (delta-spark nested assignment): sibling fields survive, multiple
    nested targets on one struct compose, RHS sees the OLD row, and
    mixing a column with its own nested field is rejected. SQL form
    parses the dotted target."""
    from deltalake_datafusion_spark.delta.ops import update_delta
    from deltalake_datafusion_spark.sql.dispatcher import sql as dsql

    path = str(tmp_path / "nested_upd")
    df = spark.createDataFrame(
        [(0, ("ber", 10, 1.0)), (1, ("par", 20, 2.0)), (2, ("rom", 30, 3.0))],
        "id long, addr struct<city string, zip int, score double>",
    )
    write_delta(spark, df, path)
    update_delta(
        spark, path,
        {"addr.city": "upper(addr.city)", "addr.score": "addr.zip * 1.0"},
        "id < 2",
    )
    out = {r.id: r.addr for r in read_delta(spark, path).collect()}
    assert out[0].city == "BER" and out[0].zip == 10 and out[0].score == 10.0
    assert out[1].city == "PAR" and out[1].zip == 20 and out[1].score == 20.0
    assert out[2].city == "rom" and out[2].score == 3.0  # untouched

    with pytest.raises(ValueError, match="nested"):
        update_delta(
            spark, path,
            {"addr": "named_struct('city','x','zip',1,'score',0.0)",
             "addr.city": "'y'"},
        )

    dsql(spark, f"UPDATE '{path}' SET addr.zip = addr.zip + 100 WHERE id = 2")
    out2 = {r.id: r.addr for r in read_delta(spark, path).collect()}
    assert out2[2].zip == 130 and out2[2].city == "rom"


def test_dml_restores_field_id_read_conf(spark, tmp_path):
    """Mode-'id' DML flips spark.sql.parquet.fieldId.read.enabled for
    its own scans but restores the session value afterwards — the flag
    must not leak into unrelated reads (ADVICE r5)."""
    key = "spark.sql.parquet.fieldId.read.enabled"
    path = str(tmp_path / "fid_restore")
    write_delta(
        spark, spark.range(10).select("id"), path,
        configuration={"delta.columnMapping.mode": "id"},
    )
    spark.conf.set(key, "false")
    try:
        res = delete_delta(spark, path, "id >= 8")
        assert res["rows_deleted"] == 2
        assert spark.conf.get(key) == "false"
        update_delta(spark, path, {"id": "id + 100"}, "id = 0")
        assert spark.conf.get(key) == "false"
        from deltalake_datafusion_spark.delta.ops import optimize_delta

        optimize_delta(spark, path)
        assert spark.conf.get(key) == "false"
        # a PRIOR read's "true" survives DML (its lazy DataFrame still
        # needs the flag at action time)
        spark.conf.set(key, "true")
        df = read_delta(spark, path)
        delete_delta(spark, path, "id = 1")
        assert spark.conf.get(key) == "true"
        assert df.count() >= 0
    finally:
        spark.conf.unset(key)
    # values are intact after all the flag juggling
    got = sorted(r.id for r in read_delta(spark, path).collect())
    assert got == [2, 3, 4, 5, 6, 7, 100]
