"""Round-12 optimization internals.

Pins the behavior-preserving contracts of the optimization round:

- UPDATE's DV-encode reuse (``_delete_plan(rowmeta=...)``) must
  produce the same commit shape the scanned path produced — in
  particular a file whose every row matches the predicate becomes a
  plain REMOVE (detected executor-side from numRecords), never a
  full-coverage deletion vector.
- ``scoped_state_partitions`` pins the shuffle conf only for the
  streaming start and restores the session value.
- ``operators/partitioning.spread`` widens a narrow scan and is a
  no-op on an already-wide plan.
- ``delta/smalldf.local_rows_df`` ships tiny metadata lists as an
  Arrow ``LocalRelation`` (no Python RDD) with identical contents.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def test_update_full_file_match_emits_plain_remove(spark, tmp_path):
    """UPDATE matching every row of one file and some of another:
    the fully-matched file must commit as a remove + rewritten adds
    with NO deletion vector (the rowmeta reuse path must preserve the
    old stats-full behavior), the partial file gets a DV."""
    from deltalake_datafusion_spark.delta.ops import update_delta
    from deltalake_datafusion_spark.delta.scan import read_delta
    from deltalake_datafusion_spark.delta.snapshot import load_snapshot
    from deltalake_datafusion_spark.delta.writer import write_delta

    path = str(tmp_path / "t")
    # file A: k in [0, 10) — every row matches k < 10
    # file B: k in [5, 25) — some rows match
    a = spark.range(0, 10).select(F.col("id").alias("k"))
    b = spark.range(5, 25).select(F.col("id").alias("k"))
    write_delta(spark, a.coalesce(1), path)
    write_delta(spark, b.coalesce(1), path, mode="append")

    res = update_delta(spark, path, {"k": "k + 100"}, "k < 10")
    assert res["rows_updated"] == 15  # 10 from A, 5 from B

    snap = load_snapshot(path)
    with_dv = [f for f in snap.files if f.dv is not None]
    # exactly one surviving original file carries a DV (file B);
    # file A was fully matched -> removed outright, not DV'd
    assert len(with_dv) == 1
    total = [r["k"] for r in read_delta(spark, path).collect()]
    assert sorted(total) == sorted(
        [k + 100 for k in range(10)]          # A rewritten
        + [k + 100 for k in range(5, 10)]     # B matched part
        + list(range(10, 25))                 # B untouched part
    )


def test_scoped_state_partitions_restores_conf(spark):
    from deltalake_datafusion_spark.streaming.pipeline import (
        scoped_state_partitions,
    )

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with scoped_state_partitions(spark):
        inside = int(spark.conf.get(key))
        assert inside == max(
            4, spark.sparkContext.defaultParallelism // 4
        )
    assert spark.conf.get(key) == before
    # explicit conf wins
    spark.conf.set("lakehouse.streaming.state_partitions", "7")
    try:
        with scoped_state_partitions(spark):
            assert spark.conf.get(key) == "7"
        assert spark.conf.get(key) == before
    finally:
        spark.conf.unset("lakehouse.streaming.state_partitions")


def test_spread_widens_narrow_and_keeps_wide(spark):
    from deltalake_datafusion_spark.operators.partitioning import spread

    target = spark.sparkContext.defaultParallelism
    narrow = spark.range(0, 100).coalesce(1)
    wide = spread(narrow)
    assert wide.rdd.getNumPartitions() == target
    assert sorted(r["id"] for r in wide.collect()) == list(range(100))

    already = spark.range(0, 100).repartition(target + 3)
    assert spread(already) is already  # strict no-op


def test_local_rows_df_is_local_relation(spark):
    from deltalake_datafusion_spark.delta.smalldf import local_rows_df

    rows = [("a", 1), ("b", None), ("c", 3)]
    df = local_rows_df(spark, rows, "name string, v long")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LocalRelation"), plan
    got = sorted((r["name"], r["v"]) for r in df.collect())
    assert got == sorted(rows)
    empty = local_rows_df(spark, [], "name string, v long")
    assert empty.count() == 0
