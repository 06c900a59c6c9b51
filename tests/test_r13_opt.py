"""Focused tests for round-13 optimization internals: cost-aware
spread(), row-proportional graph checkpoints, and the NOT NULL
stats-verification type guards."""

from __future__ import annotations

from pyspark.sql import functions as F


# ------------------------------------------------------------------ #
# spread(rows_per_task=...) — cost-aware fan-out                      #
# ------------------------------------------------------------------ #


def test_spread_cost_aware_width(spark):
    from deltalake_datafusion_spark.operators.partitioning import spread

    para = spark.sparkContext.defaultParallelism
    narrow = spark.range(0, 1000).coalesce(1)

    # width = ceil(rows / rows_per_task), capped at parallelism
    out = spread(narrow, rows_per_task=300)
    assert out.rdd.getNumPartitions() == min(para, 4)
    assert sorted(r["id"] for r in out.collect()) == list(range(1000))

    # giant rows_per_task -> single task does it: strict no-op
    assert spread(narrow, rows_per_task=100_000) is narrow

    # tiny rows_per_task -> cap binds (cluster-scale behavior)
    assert (
        spread(narrow, rows_per_task=1).rdd.getNumPartitions() == para
    )


def test_spread_full_width_default_unchanged(spark):
    from deltalake_datafusion_spark.operators.partitioning import spread

    para = spark.sparkContext.defaultParallelism
    narrow = spark.range(0, 50).coalesce(1)
    assert spread(narrow).rdd.getNumPartitions() == para
    already = spark.range(0, 50).repartition(para + 3)
    assert spread(already) is already  # strict no-op when wide


# ------------------------------------------------------------------ #
# graph _chk — row-proportional checkpoint width                      #
# ------------------------------------------------------------------ #


def test_graph_chk_narrow_checkpoint(spark):
    from deltalake_datafusion_spark.operators.graph import (
        _CHK_ROWS_PER_PART,
        _chk,
    )

    df = spark.range(0, 500).repartition(16)
    out = _chk(df, 500)
    # 500 rows << 2^17 rows/part -> one partition materialized
    assert out.rdd.getNumPartitions() == 1
    assert sorted(r["id"] for r in out.collect()) == list(range(500))

    # a bound past the cap leaves the width alone (coalesce target
    # >= current width is a no-op)
    big_bound = _CHK_ROWS_PER_PART * (
        spark.sparkContext.defaultParallelism + 5
    )
    wide = _chk(spark.range(0, 500).repartition(4), big_bound)
    assert wide.rdd.getNumPartitions() == 4


def test_graph_results_unchanged_by_chk(spark):
    # pagerank over a tiny fixed graph: values pinned by the oracle
    # convention elsewhere; here assert determinism across widths
    from deltalake_datafusion_spark.operators.graph import (
        connected_components,
        pagerank_integer,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (10, 11)], "src long, dst long"
    )
    r1 = {
        (r["node"], r["rank"])
        for r in pagerank_integer(edges, iterations=4).collect()
    }
    r2 = {
        (r["node"], r["rank"])
        for r in pagerank_integer(
            edges.repartition(7), iterations=4
        ).collect()
    }
    assert r1 == r2 and len(r1) == 5

    cc = connected_components(
        edges.withColumnRenamed("src", "a").withColumnRenamed("dst", "b")
    )
    comp = {(r["id"], r["comp"]) for r in cc.collect()}
    assert comp == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


# ------------------------------------------------------------------ #
# NOT NULL stats verification — ADVICE r12 guards                     #
# ------------------------------------------------------------------ #


def test_notnull_columns_verified_despite_nonnull_df_schema(spark):
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    from deltalake_datafusion_spark.delta.constraints import (
        notnull_columns_to_verify,
    )

    table_schema = StructType(
        [
            StructField("a", LongType(), nullable=False),
            StructField("b", LongType(), nullable=True),
        ]
    )
    df = spark.createDataFrame([(1, 2)], "a long, b long")
    # even when the df schema claims a is non-nullable, it is verified
    # (Spark nullability is advisory; footer stats are free)
    assert notnull_columns_to_verify(table_schema, df) == ["a"]


def test_struct_nullcount_dict_routes_to_fallback(spark, tmp_path):
    # A NOT NULL struct column stores nullCount as a nested dict keyed
    # by leaf path; pre-r13 `int(nc)` raised TypeError on every write.
    from deltalake_datafusion_spark.delta.ops import delete_delta
    from deltalake_datafusion_spark.delta.scan import read_delta
    from deltalake_datafusion_spark.delta.writer import write_delta

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, (10, "x")), (2, (20, "y"))],
        "id long, s struct<u: long, v: string>",
    )
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL("id long, s struct<u: long, v: string>")
    schema["s"].nullable = False
    write_delta(spark, spark.createDataFrame(df.collect(), schema), path)
    # a second write exercises verify_notnull_from_stats against the
    # existing NOT NULL struct declaration
    write_delta(
        spark,
        spark.createDataFrame([(3, (30, "z"))], schema),
        path,
        mode="append",
    )
    delete_delta(spark, path, "id = 1")
    got = sorted(
        (r["id"], r["s"]["u"]) for r in read_delta(spark, path).collect()
    )
    assert got == [(2, 20), (3, 30)]


def test_merge_source_persist_skipped_for_cheap_plans(spark):
    import random

    from deltalake_datafusion_spark.materialize import needs_materializing

    base = spark.range(0, 10).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )
    assert not needs_materializing(base)  # bare projected scan
    assert not needs_materializing(base.filter("id > 3"))
    assert needs_materializing(base.groupBy("v").count())
    assert needs_materializing(base.join(base.select("id"), "id"))
    assert needs_materializing(base.repartition(4))
    # sources that cannot be re-read identically
    assert needs_materializing(base.filter(F.rand(7) < 0.5))
    assert needs_materializing(base.withColumn("u", F.expr("uuid()")))
    assert needs_materializing(base.sample(0.5, seed=7))
    plus_one = F.udf(lambda x: x + 1, "long")
    assert needs_materializing(base.withColumn("w", plus_one("id")))
    coin = F.udf(lambda: random.random() < 0.5, "boolean")
    assert needs_materializing(
        base.filter(coin.asNondeterministic()())
    )
    # already-materialized sources
    assert not needs_materializing(
        base.groupBy("v").count().localCheckpoint()
    )
    assert not needs_materializing(
        spark.createDataFrame([(1, 2)], "id long, v long")
    )
    cached = base.groupBy("v").count().persist()
    try:
        assert not needs_materializing(cached)
    finally:
        cached.unpersist()
