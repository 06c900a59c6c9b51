"""Materialization policy (deltalake_datafusion_spark.materialize): a
nondeterministic MERGE source is evaluated once, and no cache entry or
persisted RDD outlives the operation that created it."""

from __future__ import annotations

import gc
import random
import time
from collections import Counter

import pytest
from pyspark.sql import functions as F

from deltalake_datafusion_spark.delta.constraints import (
    ConstraintViolationError,
)
from deltalake_datafusion_spark.delta.ops import (
    MergeCardinalityError,
    add_check_constraint,
    delete_delta,
    merge_delta,
    update_delta,
)
from deltalake_datafusion_spark.delta.scan import read_delta
from deltalake_datafusion_spark.delta.writer import write_delta

CDF = {"delta.enableChangeDataFeed": "true"}


def test_nondeterministic_merge_source_applied_exactly_once(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta(
        spark,
        spark.range(1000).select(
            F.col("id").alias("k"), F.lit(-1).cast("long").alias("tag")
        ),
        path,
    )
    flip = F.udf(lambda: random.random() < 0.5, "boolean").asNondeterministic()
    source = spark.range(1000).select(
        F.when(flip(), F.col("id"))
        .otherwise(F.col("id") + 1_000_000)
        .alias("k"),
        F.col("id").alias("tag"),
    )
    merge_delta(
        spark, path, source, "t.k = s.k",
        when_matched_update={"tag": "s.tag"},
        when_not_matched_insert=True,
    )
    tags = Counter(
        r.tag for r in read_delta(spark, path).collect() if r.tag >= 0
    )
    assert sorted(tags) == list(range(1000))
    assert set(tags.values()) == {1}


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_dml_leaves_no_cache_entry(spark, tmp_path):
    spark.catalog.clearCache()
    path = str(tmp_path / "c")
    write_delta(
        spark, spark.range(20).select("id", (F.col("id") * 2.0).alias("v")),
        path,
    )
    add_check_constraint(spark, path, "v_small", "v < 100")
    with pytest.raises(ConstraintViolationError):
        update_delta(spark, path, {"v": "v + 1000"}, "id = 3")
    assert _cache_empty(spark)

    dup = spark.createDataFrame([(3, 1.0), (3, 2.0)], "id long, v double")
    with pytest.raises(MergeCardinalityError):
        merge_delta(
            spark, path, dup, "t.id = s.id",
            when_matched_update={"v": "s.v"}, strict=True,
        )
    assert _cache_empty(spark)

    cdf_path = str(tmp_path / "cdf")
    write_delta(
        spark, spark.range(20).select("id", (F.col("id") * 1.0).alias("v")),
        cdf_path, configuration=CDF,
    )
    src = spark.range(15, 25).select("id", F.lit(0.5).alias("v"))
    merge_delta(
        spark, cdf_path, src.groupBy("id").agg(F.max("v").alias("v")),
        "t.id = s.id",
        when_matched_update={"v": "s.v"},
        when_not_matched_insert=True,
    )
    assert _cache_empty(spark)
    delete_delta(spark, cdf_path, "id % 3 = 0")
    assert _cache_empty(spark)
    assert read_delta(spark, cdf_path).count() == 16


def _persistent_rdd_ids(spark) -> set[int]:
    # ids as one string: getPersistentRDDs() would hand py4j strong
    # references to the very RDDs whose release is being checked
    ids = spark._jsc.sc().persistentRdds().keySet().mkString(",")
    return {int(i) for i in ids.split(",") if i}


def _released(spark, before: set[int]) -> bool:
    # the ContextCleaner unpersists a checkpoint once its frame is
    # collected on both sides of py4j; it runs asynchronously
    for _ in range(3):
        gc.collect()
        spark._jvm.System.gc()
        time.sleep(1)
        if _persistent_rdd_ids(spark) <= before:
            return True
    return False


def test_lazily_returned_pairs_release_their_blocks(spark):
    from deltalake_datafusion_spark.operators.dedup import (
        minhash_dedup_pairs,
        ngram_jaccard_pairs,
    )
    from deltalake_datafusion_spark.operators.urls import domain_mirror_pairs

    spark.catalog.clearCache()
    before = _persistent_rdd_ids(spark)
    text = "the quick brown fox jumps over the lazy dog {}"
    docs = spark.createDataFrame(
        [(i, text.format(i % 5)) for i in range(40)], "id long, text string"
    )
    urls = spark.createDataFrame(
        [(f"https://{d}.org/p/{i}",) for d in ("a", "b") for i in range(6)],
        "url string",
    )
    assert minhash_dedup_pairs(docs, "text", "id").collect()
    assert ngram_jaccard_pairs(docs, "text", "id").collect()
    assert domain_mirror_pairs(urls, "url").collect()
    assert _cache_empty(spark)
    assert _released(spark, before)


def test_mv_refreshes_release_their_blocks(spark, tmp_path):
    """Every view-maintenance shape — count/sum, min/max, join, join
    with min/max, and a streaming refresh — leaves no persisted RDD
    behind once its frames are collected."""
    from deltalake_datafusion_spark.delta.mv import (
        build_aggregate_mv,
        refresh_aggregate_mv,
        streaming_refresh_aggregate_mv,
    )
    from deltalake_datafusion_spark.delta.mv_join import (
        build_join_mv,
        refresh_join_mv,
    )

    spark.catalog.clearCache()
    base, fact, dim = (str(tmp_path / x) for x in ("b", "f", "d"))
    write_delta(
        spark,
        spark.range(16).select(
            "id", (F.col("id") % 4).alias("g"), (F.col("id") * 10).alias("v")
        ),
        base, configuration=CDF,
    )
    write_delta(
        spark,
        spark.range(16).select(
            "id", (F.col("id") % 5).alias("fk"),
            (F.col("id") * 5 + 1).alias("amt"),
        ),
        fact, configuration=CDF,
    )
    write_delta(
        spark,
        spark.range(4).select(
            F.col("id").alias("dk"),
            F.concat(F.lit("s"), (F.col("id") % 2).cast("string"))
            .alias("seg"),
        ),
        dim, configuration=CDF,
    )
    views = {k: str(tmp_path / k) for k in ("s", "mm", "st", "j", "jmm")}
    jkw = dict(fact_key="fk", dim_key="dk", group_cols=["seg"],
               sum_cols=["amt"])
    build_aggregate_mv(spark, base, views["s"], ["g"], ["v"])
    build_aggregate_mv(spark, base, views["mm"], ["g"], ["v"], ["v"])
    build_aggregate_mv(spark, base, views["st"], ["g"], ["v"])
    build_join_mv(spark, fact, dim, views["j"], **jkw)
    build_join_mv(spark, fact, dim, views["jmm"], minmax_cols=["amt"], **jkw)
    # retractions of extrema on both shapes, and a dim move
    delete_delta(spark, base, "id IN (1, 2)")
    delete_delta(spark, fact, "id IN (0, 13)")
    update_delta(spark, dim, {"seg": "'sx'"}, "dk = 1")

    before = _persistent_rdd_ids(spark)
    refresh_aggregate_mv(spark, base, views["s"], ["g"], ["v"])
    refresh_aggregate_mv(spark, base, views["mm"], ["g"], ["v"], ["v"])
    refresh_join_mv(spark, fact, dim, views["j"], **jkw)
    refresh_join_mv(spark, fact, dim, views["jmm"], minmax_cols=["amt"],
                    **jkw)
    streaming_refresh_aggregate_mv(
        spark, base, views["st"], ["g"], ["v"], str(tmp_path / "ck")
    )
    assert _cache_empty(spark)
    assert _released(spark, before)
