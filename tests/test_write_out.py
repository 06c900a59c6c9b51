"""The write-out contract shared by every writer: staged files become
visible only through the log, each new data file's add action is
well-formed, and a failed attempt leaves nothing behind. Plus a Spark
job budget per write family."""

from __future__ import annotations

import json
import os
import urllib.parse as up

import pytest
from pyspark.sql import functions as F

from deltalake_datafusion_spark.delta.constraints import (
    ConstraintViolationError,
)
from deltalake_datafusion_spark.delta.ops import (
    delete_delta,
    merge_delta,
    optimize_delta,
    update_delta,
)
from deltalake_datafusion_spark.delta.snapshot import load_snapshot
from deltalake_datafusion_spark.delta.writer import (
    write_checkpoint,
    write_delta,
)

CONF = {
    "delta.columnMapping.mode": "name",
    "delta.enableChangeDataFeed": "true",
}


def _commits(path: str) -> dict[int, list[dict]]:
    log = os.path.join(path, "_delta_log")
    out = {}
    for name in sorted(os.listdir(log)):
        if name.endswith(".json") and name[:20].isdigit() and len(name) == 25:
            with open(os.path.join(log, name)) as fh:
                out[int(name[:20])] = [json.loads(ln) for ln in fh if ln.strip()]
    return out


def _referenced(path: str) -> set[str]:
    """Every data / change file any commit ever added."""
    refs = set()
    for actions in _commits(path).values():
        for a in actions:
            body = a.get("add") or a.get("cdc")
            if body:
                refs.add(up.unquote(body["path"]))
    return refs


def _on_disk(path: str) -> set[str]:
    out = set()
    for root, _dirs, files in os.walk(path):
        rel_root = os.path.relpath(root, path)
        if rel_root.split(os.sep)[0] == "_delta_log":
            continue
        for f in files:
            if f.endswith(".parquet"):
                out.add(os.path.normpath(os.path.join(rel_root, f)))
    return out


def _staging_left(path: str) -> list[str]:
    left = []
    for root, dirs, _files in os.walk(path):
        rel_root = os.path.relpath(root, path)
        for d in dirs:
            rel = os.path.normpath(os.path.join(rel_root, d))
            if (
                d.startswith(("_staging_", "_optimize_"))
                or rel.startswith("_change_data/_stage_")
                or rel.startswith("_delta_log/.cp")
            ):
                left.append(rel)
    return left


def test_writer_contract_mapped_partitioned_cdf_table(spark, tmp_path):
    """Append, UPDATE, MERGE and OPTIMIZE on a column-mapped,
    partitioned, CDF-enabled table with a NOT NULL column: every add
    is well-formed, OPTIMIZE's adds carry dataChange=false, no staging
    entry survives, and NOT NULL-violating UPDATE / MERGE attempts
    leave no unreferenced data or change file."""
    path = str(tmp_path / "t")
    base = spark.range(8).select(
        "id",  # spark.range ids are non-nullable → a NOT NULL column
        (F.col("id") % 2).alias("p"),
        F.col("id").cast("string").alias("s"),
    )
    write_delta(spark, base, path, partition_by=["p"], configuration=CONF)
    assert not load_snapshot(path).schema["id"].nullable
    write_delta(spark, base.withColumn("id", F.col("id") + 100), path,
                mode="append")
    update_delta(spark, path, {"s": "concat(s, '!')"}, predicate="id % 4 = 0")
    src = spark.createDataFrame(
        [(1, 1, "m1"), (500, 2, "m500")], "id long, p long, s string"
    )
    merge_delta(
        spark, path, src, on="t.id = s.id",
        when_matched_update={"s": "s.s"}, when_not_matched_insert=True,
    )
    res = optimize_delta(spark, path)
    assert res["files_added"] >= 1

    commits = _commits(path)
    opt_version = max(commits)
    n_adds = 0
    for v, actions in commits.items():
        for a in actions:
            add = a.get("add")
            if not add:
                continue
            n_adds += 1
            assert set(add["partitionValues"]) == {"p"}  # logical name
            assert json.loads(add["stats"])["numRecords"] > 0
            assert os.path.exists(
                os.path.join(path, up.unquote(add["path"]))
            )
            assert add["dataChange"] is (v != opt_version)
    assert n_adds >= 5

    write_checkpoint(spark, load_snapshot(path, spark=spark))

    files_before = _on_disk(path)
    with pytest.raises(ConstraintViolationError):
        update_delta(spark, path, {"id": "CAST(NULL AS BIGINT)"},
                     predicate="id = 2")
    bad = spark.createDataFrame([(None, 1, "x")], "id long, p long, s string")
    with pytest.raises(ConstraintViolationError):
        merge_delta(
            spark, path, bad, on="t.id = s.id",
            when_matched_update={"s": "s.s"}, when_not_matched_insert=True,
        )
    assert load_snapshot(path, spark=spark).version == opt_version
    assert _on_disk(path) == files_before
    assert _on_disk(path) <= _referenced(path)
    assert _staging_left(path) == []
    assert spark.read.format("parquet").load(
        os.path.join(path, "_change_data")
    ).count() > 0


# Spark jobs each write family may launch on the fixture below, as
# counted on the code before the single data-file writer (which
# launches 11 on MERGE: zero-row parts are dropped before the NOT NULL
# check, so they no longer force its fallback aggregate). A family
# that starts launching more jobs — a second pass over the batch, a
# lost footer-stats shortcut, an extra log replay — fails here first.
JOB_CEILINGS = {
    "append": 1,
    "merge": 14,
    "update": 4,
    "delete": 5,
    "optimize": 2,
    "refresh_join_mv": 39,
}


def test_write_family_job_budget(spark, tmp_path):
    from deltalake_datafusion_spark.delta.mv_join import (
        build_join_mv,
        refresh_join_mv,
    )

    fact, dim, mv = (str(tmp_path / n) for n in ("fact", "dim", "mv"))
    cdf = {"delta.enableChangeDataFeed": "true"}
    write_delta(
        spark,
        spark.range(40).select(
            "id", (F.col("id") % 4).alias("fk"), (F.col("id") * 3).alias("amt")
        ).coalesce(2),
        fact, configuration=cdf,
    )
    write_delta(
        spark,
        spark.range(4).select(
            F.col("id").alias("dk"), (F.col("id") % 2).alias("seg")
        ).coalesce(1),
        dim, configuration=cdf,
    )
    mv_args = dict(fact_key="fk", dim_key="dk", group_cols=["seg"],
                   sum_cols=["amt"], minmax_cols=["amt"])
    build_join_mv(spark, fact, dim, mv, **mv_args)
    rows = "id long, fk long, amt long"
    ops = {
        "append": lambda: write_delta(
            spark,
            spark.createDataFrame([(40, 1, 7), (41, 2, 8)], rows).coalesce(1),
            fact, mode="append",
        ),
        "merge": lambda: merge_delta(
            spark, fact,
            spark.createDataFrame([(3, 3, 1), (90, 0, 2)], rows).coalesce(1),
            on="t.id = s.id", when_matched_update={"amt": "s.amt"},
            when_not_matched_insert=True,
        ),
        "update": lambda: update_delta(
            spark, fact, {"amt": "amt + 1"}, predicate="id % 10 = 1"
        ),
        "delete": lambda: delete_delta(spark, fact, "id % 10 = 2"),
        "refresh_join_mv": lambda: refresh_join_mv(
            spark, fact, dim, mv, **mv_args
        ),
        "optimize": lambda: optimize_delta(spark, fact),
    }
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    counts = {}
    try:
        for name, op in ops.items():
            group = f"write-budget-{name}-{os.path.basename(str(tmp_path))}"
            sc.setJobGroup(group, name)
            op()
            counts[name] = len(tracker.getJobIdsForGroup(group))
    finally:
        sc.setJobGroup(None, None)
    over = {
        k: (n, JOB_CEILINGS[k]) for k, n in counts.items()
        if n > JOB_CEILINGS[k]
    }
    assert not over, f"jobs over ceiling (count, ceiling): {over}"
