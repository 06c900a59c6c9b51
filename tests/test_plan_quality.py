"""Plan-shape guards: the properties that make these plans survive a
100× scale-up. Each assertion inspects the executed plan string —
if a refactor silently drops a pushdown or a broadcast, these fail."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from deltalake_datafusion_spark.queries import load_tables
from deltalake_datafusion_spark.queries import relational


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _plans_run_by(spark, build) -> str:
    """The physical plan of every SQL execution ``build()`` runs (an
    eager checkpoint cuts its subtree out of the returned frame's
    plan), followed by the returned frame's own plan."""
    store = spark._jsparkSession.sharedState().statusStore()

    def last_id():
        runs = store.executionsList()
        n = runs.size()
        return runs.apply(n - 1).executionId() if n else -1

    before = last_id()
    df = build()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    runs = store.executionsList()
    plans = [_plan(df)]
    for i in range(runs.size() - 1, -1, -1):
        run = runs.apply(i)
        if run.executionId() <= before:
            break
        plans.append(run.physicalPlanDescription())
    return "\n".join(plans)


def test_filter_and_projection_pushed_to_parquet(spark, sf_dir):
    t = load_tables(spark, sf_dir, "lineitem")
    df = (
        t["lineitem"]
        .filter(F.col("l_quantity") > 40)
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40.0)]" in plan
    # column pruning: only the two selected columns in ReadSchema
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_small_dims_broadcast_in_q5(spark, sf_dir):
    df = relational.q5_local_supplier(spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastExchange" in plan


def test_topk_uses_take_ordered(spark, sf_dir):
    df = relational.q_topk_orders(spark, sf_dir)
    assert "TakeOrderedAndProject" in _plan(df)


def test_limit_does_not_global_sort(spark, sf_dir):
    """LIMIT without ORDER BY must not introduce an exchange-wide sort."""
    t = load_tables(spark, sf_dir, "orders")
    plan = _plan(t["orders"].limit(5))
    assert "Sort" not in plan


def test_q1_is_whole_stage_codegen(spark, sf_dir):
    df = relational.q1_pricing_summary(spark, sf_dir)
    df.collect()  # finalize the adaptive plan
    plan = _plan(df)
    # '*(N)' prefixes mark whole-stage-codegen spans; partial_sum shows
    # the map-side combine ran before the exchange
    assert "*(1)" in plan
    assert "partial_sum" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_delta_scan_pushes_residual_filter(spark, tmp_path):
    from deltalake_datafusion_spark.delta.scan import read_delta
    from deltalake_datafusion_spark.delta.writer import write_delta

    path = str(tmp_path / "pq")
    write_delta(spark, spark.range(1000).select("id", (F.col("id") % 7).alias("g")), path)
    df = read_delta(spark, path, predicate="id > 500", columns=["id"])
    plan = _plan(df)
    # the residual predicate must reach the parquet source, not sit
    # only in a post-scan Filter
    assert "PushedFilters: [IsNotNull(id), GreaterThan(id,500)]" in plan


def test_dedup_exact_shuffles_digest_not_text(spark, sf_dir):
    """Scale guard: the exchange key is the md5 digest, never the
    document body."""
    from deltalake_datafusion_spark.operators.dedup import duplicate_clusters

    t = load_tables(spark, sf_dir, "documents")
    plan = _plan(duplicate_clusters(t["documents"], "text", "doc_id"))
    import re

    exchanges = re.findall(r"Exchange hashpartitioning\(([^,]+)", plan)
    assert exchanges, plan[:1500]
    assert all("digest" in e or "md5" in e for e in exchanges), exchanges


def test_brute_force_topk_broadcasts_queries(spark, sf_dir):
    from deltalake_datafusion_spark.operators.similarity import brute_force_topk

    t = load_tables(spark, sf_dir, "embeddings")
    e = t["embeddings"]
    q = e.filter("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    plan = _plan(brute_force_topk(e, q, k=3))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # the corpus side must NOT be exchanged before the join
    assert "CartesianProduct" not in plan


def test_aqe_enabled(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Same-bucketed fact⋈fact join: the shuffle was paid at write
    time, so the join plan must contain zero ShuffleExchange — the
    amortized-join shape that matters most at 100 TB."""
    from deltalake_datafusion_spark.operators.colocate import (
        read_bucketed_join,
        write_bucketed,
    )

    t = load_tables(spark, sf_dir, "orders", "customer")
    write_bucketed(
        t["orders"].select("o_orderkey", "o_custkey", "o_totalprice"),
        "bq_orders", ["o_custkey"], 8, path=str(tmp_path / "bo"),
    )
    write_bucketed(
        t["customer"].select("c_custkey", "c_name"),
        "bq_customer", ["c_custkey"], 8, path=str(tmp_path / "bc"),
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = read_bucketed_join(
            spark,
            "bq_orders",
            "bq_customer",
            on=[F.col("o_custkey") == F.col("c_custkey")],
        )
        joined.collect()
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, plan[:2000]
        assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bq_orders")
        spark.sql("DROP TABLE IF EXISTS bq_customer")


def test_colocate_reuses_one_shuffle(spark, sf_dir):
    """repartition-both-sides co-location: the join itself adds no
    exchange beyond the two explicit repartitions, and a same-key
    groupBy downstream adds none either."""
    from deltalake_datafusion_spark.operators.colocate import colocate

    t = load_tables(spark, sf_dir, "orders", "lineitem")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        left, right = colocate(
            t["lineitem"].withColumnRenamed("l_orderkey", "k"),
            t["orders"].withColumnRenamed("o_orderkey", "k"),
            ["k"],
            num_partitions=8,
        )
        out = left.join(right, "k").groupBy("k").agg(F.count(F.lit(1)).alias("n"))
        plan = _plan(out)
        import re

        n_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
        # exactly the two REPARTITION_BY_COL exchanges; none for the
        # join, none for the aggregation
        assert n_exchanges == 2, plan[:3000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_text_and_embedding_ops_stay_jvm_side(spark, sf_dir):
    """Scale guard: repetition metrics and int8 quantization must plan
    as pure expression trees — no Python evaluation nodes, no
    Exchange."""
    from deltalake_datafusion_spark.operators.embeddings import (
        quantize_embeddings,
    )
    from deltalake_datafusion_spark.operators.text import repetition_metrics

    t = load_tables(spark, sf_dir, "documents", "embeddings")
    for df in (
        repetition_metrics(t["documents"], "text"),
        quantize_embeddings(t["embeddings"], "embedding"),
    ):
        plan = _plan(df)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert "Exchange" not in plan, plan[:1500]


def test_decontaminate_broadcasts_benchmark(spark, sf_dir):
    """Scale guard: the corpus side of the contamination check must
    never shuffle — the benchmark n-gram set is broadcast and the
    semi join is map-side."""
    from deltalake_datafusion_spark.operators.decontaminate import (
        flag_contaminated,
    )

    t = load_tables(spark, sf_dir, "documents")
    docs = t["documents"]
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    plan = _plan(flag_contaminated(docs, bench, "text", "doc_id"))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_stratified_scalable_prefilters_before_exchange(spark, sf_dir):
    """Scale guard: the md5-fraction pre-filter must run before the
    per-stratum sort's exchange, so only ~oversample*k rows per
    stratum shuffle."""
    from deltalake_datafusion_spark.operators.sampling import (
        stratified_sample_scalable,
    )

    t = load_tables(spark, sf_dir, "documents")
    out = stratified_sample_scalable(t["documents"], ["lang"], "doc_id", 5)
    plan = _plan(out)
    # the fraction filter appears below (after in text) the exchange
    ex = plan.find("Exchange hashpartitioning(lang")
    flt = plan.rfind("Filter")
    assert ex != -1 and flt > ex


def test_pack_sequences_single_shuffle_on_shard(spark, sf_dir):
    """Scale guard: packing shuffles once, on the shard id — shard
    count bounds every per-partition sort."""
    from deltalake_datafusion_spark.operators.sampling import pack_sequences

    t = load_tables(spark, sf_dir, "documents")
    toks = t["documents"].select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("toks")
    )
    plan = _plan(pack_sequences(toks, "doc_id", "toks", 2048, shards=8))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "pack_shard" in plan


def test_partitioned_scan_plan_is_o1_in_partition_count(spark, tmp_path):
    """An unpredicated scan of a 500-partition table must plan in O(1)
    union branches (one read + broadcast partition-value join), not one
    branch per partition tuple — the 100×-scale property of the read
    path (reference plans one DataSourceExec per store,
    delta/mod.rs:181-227)."""
    from deltalake_datafusion_spark.delta.scan import read_delta
    from deltalake_datafusion_spark.delta.writer import write_delta

    path = str(tmp_path / "many_parts")
    df = spark.range(500).select(
        F.col("id"), (F.col("id")).alias("p"), (F.col("id") * 2).alias("v")
    )
    write_delta(spark, df, path, partition_by=["p"])

    out = read_delta(spark, path)
    optimized = out._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("Union") == 0
    # exactly one parquet relation in the plan
    assert optimized.count("parquet") <= 2  # relation line may repeat schema
    plan = _plan(out)
    assert plan.count("Scan parquet") == 1
    assert "BroadcastHashJoin" in plan  # partition-value injection join
    assert out.count() == 500
    assert out.filter("p = 250").select("v").collect()[0][0] == 500


def test_partition_injection_join_preserves_pushdown(spark, tmp_path):
    """Data-column predicates and column pruning must reach the
    parquet scan THROUGH the partition-value broadcast join."""
    from deltalake_datafusion_spark.delta.scan import read_delta
    from deltalake_datafusion_spark.delta.writer import write_delta

    path = str(tmp_path / "t")
    df = spark.range(5000).select(
        "id", (F.col("id") % 7).alias("p"), (F.col("id") * 2).alias("v")
    )
    write_delta(spark, df, path, partition_by=["p"])
    out = read_delta(spark, path, predicate="v > 5000", columns=["id", "v"])
    plan = _plan(out)
    assert "GreaterThan(v,5000)" in plan  # pushed through the join
    assert "ReadSchema: struct<id:bigint,v:bigint>" in plan  # pruned
    assert plan.count("Scan parquet") == 1


def test_row_id_injection_is_broadcast_and_keeps_pushdown(spark, tmp_path):
    """Row-tracking reads attach _row_id via ONE broadcast join over a
    per-file metadata map — a predicate still reaches the parquet scan
    and no shuffle is introduced on the data side."""
    from deltalake_datafusion_spark.delta.scan import read_delta
    from deltalake_datafusion_spark.delta.writer import write_delta

    path = str(tmp_path / "t")
    df = spark.range(5000).select("id", (F.col("id") * 2).alias("v"))
    write_delta(
        spark, df.repartition(4), path,
        configuration={"delta.enableRowTracking": "true"},
    )
    out = read_delta(spark, path, predicate="v > 5000", with_row_ids=True)
    plan = _plan(out)
    assert "GreaterThan(v,5000)" in plan  # pushed below the join
    assert "BroadcastHashJoin" in plan
    assert plan.count("Scan parquet") == 1  # one data read branch
    assert "SortMergeJoin" not in plan
    # the only exchange is the broadcast of the tiny file map
    import re

    data_exchanges = [
        ln for ln in plan.splitlines()
        if re.search(r"\bExchange (hash|range|rebalance)", ln)
    ]
    assert not data_exchanges, data_exchanges


def test_dml_candidate_scan_is_o1_in_partition_count(spark, tmp_path):
    """The DML candidate scan (DELETE/UPDATE/MERGE rowmeta path) must
    plan one parquet read regardless of partition count — same O(1)
    discipline as the read path."""
    from deltalake_datafusion_spark.delta.ops import _scan_with_rowmeta
    from deltalake_datafusion_spark.delta.snapshot import load_snapshot
    from deltalake_datafusion_spark.delta.writer import write_delta

    path = str(tmp_path / "t")
    df = spark.range(2000).selectExpr("id", "id % 200 AS p")
    write_delta(spark, df, path, partition_by=["p"])
    snap = load_snapshot(path, spark=spark)
    assert len({f.partition_values["p"] for f in snap.files}) == 200
    out = _scan_with_rowmeta(spark, snap, None)
    plan = _plan(out)
    assert plan.count("Scan parquet") == 1
    assert "Union" not in plan
    assert out.count() == 2000
    assert out.filter("p = 7").count() == 10


def test_dv_access_plan_triage():
    """Skip/Scan/RowSelection analog (reference delta/mod.rs:244-325):
    contiguous prefix/suffix deletions become a codegen range filter;
    only interior deletions keep an exact-membership bitmap."""
    import numpy as np

    from deltalake_datafusion_spark.delta.deletion_vectors import (
        _MAX_ROW_INDEX,
        _dv_access_plan,
    )

    # pure prefix delete [0..89] of a 100-row file: empty interior
    mn, mx, interior = _dv_access_plan(np.arange(90), 100)
    assert (mn, mx, len(interior)) == (90, 99, 0)
    # pure suffix delete [90..99]
    mn, mx, interior = _dv_access_plan(np.arange(90, 100), 100)
    assert (mn, mx, len(interior)) == (0, 89, 0)
    # prefix + interior + suffix
    deleted = np.concatenate([np.arange(10), [50, 51], np.arange(95, 100)])
    mn, mx, interior = _dv_access_plan(deleted, 100)
    assert (mn, mx) == (10, 94)
    assert interior.tolist() == [50, 51]
    # unknown numRecords: suffix cannot be proven contiguous
    mn, mx, interior = _dv_access_plan(np.arange(90, 100), None)
    assert mn == 0 and mx == _MAX_ROW_INDEX and len(interior) == 10
    # fully-deleted file (not normally planned): range excludes all
    mn, mx, interior = _dv_access_plan(np.arange(100), 100)
    assert mn == 100 and mx == -1 and len(interior) == 0


def _dv_table(spark, path, hole: bool = True):
    """1000 rows in one file, then a 90 % contiguous-prefix DELETE
    and (``hole``) one interior hole: a DV with a prefix run and an
    interior deletion. Returns the surviving ids."""
    from deltalake_datafusion_spark.delta.ops import delete_delta
    from deltalake_datafusion_spark.delta.writer import write_delta

    write_delta(
        spark,
        spark.range(1000).select("id", (F.col("id") * 2).alias("v")),
        path,
    )
    delete_delta(spark, path, "id < 900")
    if hole:
        delete_delta(spark, path, "id = 950")
    return [i for i in range(900, 1000) if not (hole and i == 950)]


def test_dv_contiguous_delete_scan_has_no_python(spark, tmp_path):
    """Below ``DV_ANTI_JOIN_MAX_ROWS`` deleted rows a DV scan is pure
    JVM codegen — contiguous prefix and interior hole alike go through
    one broadcast left-anti join on (file_path, row_index): no
    ArrowEvalPython in the plan, and no range join beside it."""
    from deltalake_datafusion_spark.delta.scan import read_delta

    path = str(tmp_path / "t")
    expected = _dv_table(spark, path)
    df = read_delta(spark, path)
    plan = _plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "LeftAnti" in plan and plan.count("BroadcastHashJoin") == 1
    assert sorted(r["id"] for r in df.collect()) == expected


@pytest.mark.parametrize("hole", [False, True], ids=["prefix_only", "hole"])
def test_dv_above_bound_uses_range_triage_and_udf(
    spark, tmp_path, monkeypatch, hole
):
    """Above the bound (lowered to 0 here) the same tables read the
    same rows through the range-triage fallback: a prefix-only DV is
    dropped by the codegen range filter alone (no Python in the plan),
    an interior hole adds the roaring-blob UDF."""
    from deltalake_datafusion_spark.delta import deletion_vectors
    from deltalake_datafusion_spark.delta.scan import read_delta

    path = str(tmp_path / "t")
    expected = _dv_table(spark, path, hole)
    monkeypatch.setattr(deletion_vectors, "DV_ANTI_JOIN_MAX_ROWS", 0)
    df = read_delta(spark, path)
    plan = _plan(df)
    assert "LeftAnti" not in plan and "BatchEvalPython" not in plan
    assert ("ArrowEvalPython" in plan) == hole
    assert sorted(r["id"] for r in df.collect()) == expected


def test_dv_broadcast_is_compressed_blobs(spark, tmp_path):
    """The interior-deletion broadcast ships roaring blobs (bytes ∝
    runs), never 8 B × cardinality int64 arrays: a 50%-interior-deleted
    file's payload stays in the low KBs."""
    from deltalake_datafusion_spark.delta.deletion_vectors import (
        _dv_access_plan,
        serialize_bitmap,
    )
    import numpy as np

    # every even index deleted: worst-ish case (no long runs)
    deleted = np.arange(0, 100_000, 2)
    _mn, _mx, interior = _dv_access_plan(deleted, 100_000)
    blob = serialize_bitmap(interior)
    assert len(blob) < 20_000  # vs 400 KB as raw int64


def test_like_residual_pushed_to_parquet(spark, tmp_path):
    """The LIKE predicate prunes FILES via StartsWith stats AND the
    residual reaches the parquet scan as a StringStartsWith pushed
    filter — both levels of skipping are live."""
    from deltalake_datafusion_spark.delta.scan import read_delta
    from deltalake_datafusion_spark.delta.writer import write_delta

    path = str(tmp_path / "t")
    df = spark.range(200).select(
        "id", F.concat(F.lit("k"), F.col("id").cast("string")).alias("s")
    )
    write_delta(spark, df, path)
    plan = _plan(read_delta(spark, path, predicate="s LIKE 'k1%'"))
    assert "StringStartsWith(s,k1)" in plan


def test_incremental_dedup_plan_is_banded(spark, tmp_path):
    """The signature-store ingestion never goes all-pairs: no
    CartesianProduct / BroadcastNestedLoopJoin anywhere in the
    survivors plan — candidates come from equi-joins on
    (band, bucket) and ids."""
    from deltalake_datafusion_spark.operators.dedup import (
        incremental_minhash_dedup,
    )

    store = str(tmp_path / "store")
    docs = spark.createDataFrame(
        [(i, f"document number {i} with shared filler words") for i in range(30)],
        "doc_id long, text string",
    )
    surv = incremental_minhash_dedup(
        spark, docs, "text", "doc_id", store, threshold=0.9
    )
    # second batch exercises the store-join path
    docs2 = spark.createDataFrame(
        [(100 + i, f"second batch item {i} entirely different") for i in range(10)],
        "doc_id long, text string",
    )
    surv2 = incremental_minhash_dedup(
        spark, docs2, "text", "doc_id", store, threshold=0.9
    )
    for d in (surv, surv2):
        plan = _plan(d)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
    assert surv2.count() == 10


def test_shuffle_shards_single_exchange(spark, sf_dir):
    """Scale guard: the deterministic shuffle costs ONE hash exchange
    (shard key); shard assignment and the md5 key are pure codegen —
    no global sort, no Python."""
    from deltalake_datafusion_spark.operators.sampling import shuffle_shards

    t = load_tables(spark, sf_dir, "documents")
    plan = _plan(
        shuffle_shards(t["documents"].select("doc_id"), "doc_id", 8)
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in plan  # no global sort
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_semantic_dedup_assignment_stage_no_shuffle(spark, sf_dir):
    """Scale guard: SemDeDup's cluster assignment is one Arrow-batched
    map over the corpus (broadcast seed matrix — NO exchange before
    the assignment); the only shuffles are the within-cluster pair
    join's, keyed on the cluster id."""
    from deltalake_datafusion_spark.operators.dedup import semantic_dedup

    t = load_tables(spark, sf_dir, "embeddings")
    corpus = t["embeddings"].select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    out = semantic_dedup(corpus, vec_col="v", id_col="vec_id", k=8,
                         threshold=0.99, max_cluster=None)
    plan = _plan(out)
    # the assignment UDF itself runs pre-shuffle: an ArrowEval node
    # exists, and every Exchange in the plan is hash-partitioned on
    # cluster/id join keys (no range partitioning / global sort)
    assert "ArrowEvalPython" in plan
    assert "Exchange rangepartitioning" not in plan


def test_bm25_plan_broadcasts_query_terms(spark, sf_dir):
    """Scale guard: BM25's corpus-side postings filter is a BROADCAST
    semi join on the query-term set (corpus vocabulary never shuffles
    wholesale), the term→query scoring joins are broadcast too, and
    there is no Python node or cartesian product anywhere."""
    from deltalake_datafusion_spark.operators.retrieval import bm25_topk

    t = load_tables(spark, sf_dir, "documents")
    q = spark.createDataFrame(
        [(0, "spark join window")], "query_id int, query_text string"
    )
    plan = _plan(bm25_topk(t["documents"], q, k=5))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_span_dedup_plan_is_codegen(spark, sf_dir):
    """Scale guard: substring-span dedup is pure codegen (no Python
    node — windows via transform/sequence/slice expressions, first
    occurrence via partial-aggregatable min(struct), reconstruction
    via sorted collect_list) and joins only on keys — no cartesian."""
    from deltalake_datafusion_spark.operators.dedup import (
        dedup_substring_spans,
    )

    t = load_tables(spark, sf_dir, "documents")
    plan = _plan(dedup_substring_spans(t["documents"], k=8))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_domain_mirror_plan_is_banded_not_all_pairs(spark):
    """Round-8: mirror detection must stay LSH-banded — no cartesian
    product across domains, no Python stage, PSL lookup broadcast."""
    from deltalake_datafusion_spark.operators.urls import (
        domain_mirror_pairs,
    )

    df = spark.createDataFrame(
        [(f"https://site{i % 9}.co.uk/p/{i}",) for i in range(200)],
        "url string",
    )
    plan = _plans_run_by(spark, lambda: domain_mirror_pairs(df, "url"))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan  # the K PSL suffix joins


def test_classifier_inference_inlines_into_scan(spark, sf_dir):
    """Round-8: classifier scoring composes into the scan stage —
    no exchange before the filter, weight vector is a plan literal."""
    from deltalake_datafusion_spark.operators.classifier import (
        classifier_score,
    )

    t = load_tables(spark, sf_dir, "documents")
    out = classifier_score(
        t["documents"].select("doc_id", "text"), [0.25] * 64
    ).filter(F.col("quality_score") > 0.5)
    plan = _plan(out)
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_round9_cms_sketch_partial_aggregates(spark, sf_dir):
    """The CMS sketch groupBy partial-aggregates before its exchange:
    the shuffle carries (j, bucket) digests, never tokens."""
    import re

    from deltalake_datafusion_spark.queries.analytics import (
        q_cms_heavy_hitters,
    )

    plan = (
        q_cms_heavy_hitters(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Python" not in plan
    # the sketch aggregation shuffle partitions on (j, bucket)
    assert re.search(r"Exchange hashpartitioning\(j#\d+, bucket#\d+", plan)
    # map-side combine: a partial_sum runs below that exchange
    assert "partial_sum" in plan or "partial_count" in plan


def test_round9_pagerank_broadcasts_ranks(spark, sf_dir):
    """Each PageRank iteration joins the n-row rank table via
    broadcast — no shuffle lands on the edge table for the join; the
    only hash exchanges are contribution groupBys and edge dedup."""
    from deltalake_datafusion_spark.queries.analytics import pipe_pagerank

    plan = (
        pipe_pagerank(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "Python" not in plan
    assert "CartesianProduct" not in plan


def test_round9_quality_and_profile_no_python(spark, sf_dir):
    """Profiler and fuzzy-dedup plans stay JVM-side end to end."""
    from deltalake_datafusion_spark.queries.analytics import (
        pipe_data_profile,
        pipe_fuzzy_dedup,
    )

    for q in (pipe_data_profile, pipe_fuzzy_dedup):
        plan = q(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan, plan[:1200]


def test_mining_tier_no_python_and_no_cartesian(spark, sf_dir):
    """The whole round-9 mining tier is pure codegen: no Python
    stages, no cartesian products anywhere (every join is keyed —
    the setjoin verifies on (id, token), the wedge join on the apex,
    basket pairs on the basket id)."""
    from deltalake_datafusion_spark.queries.mining import (
        dedup_setjoin,
        q_basket_pairs,
        q_concurrency,
        q_ewma_smooth,
        q_triangle_count,
        text_tfidf_terms,
    )

    for q in (q_triangle_count, dedup_setjoin, q_basket_pairs,
              q_ewma_smooth, q_concurrency, text_tfidf_terms):
        plan = (
            q(spark, sf_dir)._jdf.queryExecution().executedPlan()
            .toString()
        )
        assert "Python" not in plan, plan[:1200]
        assert "Cartesian" not in plan, plan[:1200]


def test_setjoin_has_no_global_sort_before_limit(spark, sf_dir):
    """Prefix ranking must be the per-set window, never a global
    row_number: the optimized plan contains no single-partition
    Exchange (the 100 TB killer)."""
    from deltalake_datafusion_spark.queries.mining import dedup_setjoin

    plan = (
        dedup_setjoin(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SinglePartition" not in plan, plan[:1500]


def test_advanced_tier_no_python_and_no_cartesian(spark, sf_dir):
    """Round-9b tier (BFS / RFM / attribution / skyline) is pure
    codegen: no Python stages, no cartesian products (the RFM
    max-date join is an explicit broadcast; BFS joins are keyed on
    src/node)."""
    from deltalake_datafusion_spark.queries.advanced import (
        q_attribution,
        q_bfs_hops,
        q_rfm_segments,
        q_skyline,
    )

    for q in (q_bfs_hops, q_rfm_segments, q_attribution, q_skyline):
        plan = (
            q(spark, sf_dir)._jdf.queryExecution().executedPlan()
            .toString()
        )
        assert "Python" not in plan, plan[:1200]
        assert "CartesianProduct" not in plan, plan[:1200]


def test_skyline_and_attribution_single_window_shuffle(spark, sf_dir):
    """The skyline sweep and the attribution windows must not add a
    single-partition global sort: every Exchange is hash-partitioned
    on the window keys (l_returnflag / user_id)."""
    from deltalake_datafusion_spark.queries.advanced import (
        q_attribution,
        q_skyline,
    )

    for q in (q_skyline, q_attribution):
        df = q(spark, sf_dir)
        df.collect()  # finalize adaptive plan
        plan = df._jdf.queryExecution().executedPlan().toString()
        body = plan.split("TakeOrdered")[0]
        assert "SinglePartition" not in body, body[:1500]


def test_round9b_new_queries_no_python_no_cartesian(spark, sf_dir):
    """The round-9b additions stay JVM-side with keyed joins only
    (multimodal_video is excluded: its decode stage is intentionally
    an Arrow mapInPandas; delta_version_diff too — its DV-deleted
    side reads through the documented Arrow _is_live row filter)."""
    from deltalake_datafusion_spark.queries.advanced import (
        q_cusum_changepoints,
        q_kmv_distinct,
        q_unpivot,
        q_vwap,
        q_woe_encoding,
        text_collocations,
        text_phrase_search,
    )

    for q in (
        q_kmv_distinct,
        q_cusum_changepoints,
        text_phrase_search,
        text_collocations,
        q_woe_encoding,
        q_unpivot,
        q_vwap,
    ):
        plan = (
            q(spark, sf_dir)._jdf.queryExecution().executedPlan()
            .toString()
        )
        assert "Python" not in plan, (q.__name__, plan[:900])
        assert "CartesianProduct" not in plan, (q.__name__, plan[:900])


def test_phrase_search_filters_postings_before_join(spark, sf_dir):
    """The phrase join's inputs must be term-filtered postings, not
    the whole corpus: both join children carry a w = 'term' filter
    below the exchange."""
    from deltalake_datafusion_spark.queries.advanced import (
        text_phrase_search,
    )

    plan = (
        text_phrase_search(spark, sf_dir)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert plan.count("merge") >= 1 and plan.count("join") >= 1
    # the two posting filters appear as literal equality predicates
    assert "= merge" in plan and "= join" in plan


def test_ppr_and_bfs_single_shuffle_per_round(spark, sf_dir):
    """Iterative graph ops: the per-iteration plan joins on src and
    aggregates on node — no single-partition exchange anywhere."""
    from deltalake_datafusion_spark.queries.advanced import (
        pipe_ppr,
        q_bfs_hops,
    )

    for q in (q_bfs_hops, pipe_ppr):
        df = q(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        body = plan.split("TakeOrdered")[0]
        assert "SinglePartition" not in body, (q.__name__, body[:900])
        assert "Python" not in plan, (q.__name__,)


def test_round9b_final_additions_no_python(spark, sf_dir):
    """Dataset card, HLL rollup, seasonality, WOE/Benford-style
    aggregates: pure expression trees (fingerprint/langid/sketch
    registers are md5 expression arithmetic, not UDFs)."""
    from deltalake_datafusion_spark.queries.advanced import (
        pipe_corpus_checksum,
        pipe_dataset_card,
        q_benford,
        q_hll_rollup,
        q_seasonality,
    )

    for q in (
        pipe_dataset_card,
        q_hll_rollup,
        q_seasonality,
        q_benford,
        pipe_corpus_checksum,
    ):
        plan = (
            q(spark, sf_dir)._jdf.queryExecution().executedPlan()
            .toString()
        )
        assert "Python" not in plan, (q.__name__, plan[:900])
        assert "CartesianProduct" not in plan, (q.__name__,)


def test_orc_roundtrip_pushdown_and_partition_pruning(spark, sf_dir):
    """q_orc_roundtrip: the data predicate reaches the ORC scan as a
    DataFilter (ORC searchArgument pushdown) and the partition filter
    prunes directories — the read never scans other orderstatus
    partitions; no Python, no cartesian."""
    from deltalake_datafusion_spark.queries.round10 import q_orc_roundtrip

    plan = (
        q_orc_roundtrip(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    scan = [ln for ln in plan.split("\n") if "FileScan orc" in ln][0]
    assert "o_custkey" in scan.split("DataFilters:")[1].split("]")[0]
    assert "o_orderstatus" in scan.split("PartitionFilters:")[1]
    assert "Python" not in plan and "CartesianProduct" not in plan


def test_round10_queries_no_python_in_relational_core(spark, sf_dir):
    """Round-10 non-UDF queries stay JVM-side end to end (the JPEG /
    robots / spans queries have documented Arrow mapInPandas stages;
    the MV and ORC queries must not)."""
    from deltalake_datafusion_spark.queries.round10 import (
        sim_recall_matrix,
    )

    plan = (
        sim_recall_matrix(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the only Python stage allowed in the recall matrix is lsh_topk's
    # signature pandas_udf; everything else (brute/ivf/pq + the hit
    # joins) is expression-tree
    assert plan.count("BatchEvalPython") == 0, plan[:900]
    assert "CartesianProduct" not in plan


def test_round10_multimodal_queries_arrow_only_no_cartesian(spark, sf_dir):
    """The round-10 decode queries' only Python stages are Arrow
    mapInPandas (fixture build + decode features) — never
    row-at-a-time BatchEvalPython — and nothing goes cartesian."""
    from deltalake_datafusion_spark.queries.round10 import (
        multimodal_cross_format_dedup,
        multimodal_flac_decode,
        multimodal_gif_decode,
        multimodal_jpeg_color,
        multimodal_jpeg_decode,
        multimodal_png_color,
        text_repeated_spans,
        web_robots_filter,
    )

    for q in (
        multimodal_jpeg_decode,
        multimodal_jpeg_color,
        multimodal_png_color,
        multimodal_gif_decode,
        multimodal_flac_decode,
        multimodal_cross_format_dedup,
        web_robots_filter,
        text_repeated_spans,
    ):
        plan = (
            q(spark, sf_dir)._jdf.queryExecution().executedPlan()
            .toString()
        )
        assert "BatchEvalPython" not in plan, (q.__name__, plan[:600])
        assert "CartesianProduct" not in plan, (q.__name__,)


def test_round11_queries_arrow_only_no_cartesian(spark, sf_dir):
    """The round-11 queries' only Python stages are Arrow
    mapInPandas — never row-at-a-time BatchEvalPython — nothing goes
    cartesian, and the MV-rewrite query's scan reads ONLY the view
    (asserted inside the query itself; re-checked here on the plan)."""
    from deltalake_datafusion_spark.queries.round11 import (
        delta_mv_join_minmax,
        multimodal_gif_frames,
        multimodal_png_depth,
        sql_matview_rewrite,
    )

    for q in (
        sql_matview_rewrite,
        delta_mv_join_minmax,
        multimodal_png_depth,
        multimodal_gif_frames,
    ):
        df = q(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan, (q.__name__, plan[:600])
        assert "CartesianProduct" not in plan, (q.__name__,)
    # the rewrite query's executed scan: view files only
    files = sql_matview_rewrite(spark, sf_dir).inputFiles()
    assert files and all("mvrw_view" in f for f in files), files[:3]


def test_round12_queries_arrow_only_no_cartesian(spark, sf_dir):
    """Round-12 plan guard: the rewrite-growth and minmax fast-path
    queries keep every stage JVM-side (no BatchEvalPython), nothing
    goes cartesian, and the rewrite queries' executed scans read
    ONLY view files."""
    from deltalake_datafusion_spark.queries.round12 import (
        delta_mv_minmax_interior,
        sql_matview_rewrite_global,
        sql_matview_rewrite_nullable,
        sql_matview_rewrite_rollup,
    )

    for q in (
        sql_matview_rewrite_nullable,
        sql_matview_rewrite_global,
        sql_matview_rewrite_rollup,
        delta_mv_minmax_interior,
    ):
        df = q(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan, (q.__name__, plan[:600])
        assert "CartesianProduct" not in plan, (q.__name__,)
    files = sql_matview_rewrite_rollup(spark, sf_dir).inputFiles()
    assert files and all("mvrwr_view" in f for f in files), files[:3]
