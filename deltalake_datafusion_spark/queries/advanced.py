"""Round-9 continuation tier (b): multi-source BFS shortest paths,
RFM customer segmentation, marketing touch attribution, and 2-D
skyline (Pareto frontier).

Every query pairs the Spark plan with a DuckDB oracle; all output
columns are integers / strings so value hashes compare exactly
cross-engine (the repo's standing discipline — no float leaves any
query).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from deltalake_datafusion_spark.queries import QuerySpec, load_tables
from deltalake_datafusion_spark.delta.smalldf import local_rows_df as _local_rows_df

# ---------------------------------------------------------------- #
# q_bfs_hops                                                        #
# ---------------------------------------------------------------- #

BFS_ITERS = 8


def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distances
    (``operators/graph.py::bfs_distances``) over the same
    deterministic 60-node domain link graph as ``pipe_pagerank``
    (two arithmetic edge families per doc; nodes 50-59 are pure
    sinks). Seeds are nodes ``{0, 17, 34}``; 8 Pregel-style
    relaxation rounds — all-integer, so distances are bit-identical
    cross-engine and the oracle UNROLLS the same rounds as chained
    CTEs. Per round the Spark plan is one shuffle join (edges ⋈
    frontier) plus one groupBy-min; unreached nodes never enter the
    table."""
    from deltalake_datafusion_spark.operators.graph import bfs_distances

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    d = F.col("doc_id")
    e1 = docs.select(
        (d % 50).alias("src"), ((d * 7 + 3) % 50).alias("dst")
    )
    e2 = docs.select(
        (d % 50).alias("src"), (50 + d % 10).alias("dst")
    )
    edges = e1.unionByName(e2)
    seeds = edges.select(F.col("src").alias("node")).filter(
        F.col("node").isin(0, 17, 34)
    )
    dist = bfs_distances(edges, seeds, iterations=BFS_ITERS)
    return dist.select("node", "dist").orderBy("node")


def _bfs_sql(iters: int = BFS_ITERS) -> str:
    parts = [
        """
WITH e0 AS (
  SELECT doc_id % 50 AS src, (doc_id * 7 + 3) % 50 AS dst FROM documents
  UNION ALL
  SELECT doc_id % 50, 50 + doc_id % 10 FROM documents
),
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
d0 AS (
  SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS dist FROM e
  WHERE src IN (0, 17, 34)
)"""
    ]
    for t in range(1, iters + 1):
        parts.append(
            f""",
d{t} AS (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM d{t - 1}
    UNION ALL
    SELECT e.dst AS node, p.dist + 1 AS dist
    FROM e JOIN d{t - 1} p ON e.src = p.node
  ) GROUP BY node
)"""
        )
    parts.append(f"\nSELECT node, dist FROM d{iters} ORDER BY node")
    return "".join(parts)


# ---------------------------------------------------------------- #
# q_rfm_segments                                                    #
# ---------------------------------------------------------------- #


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per customer, recency (days from
    last order to the corpus max date), frequency (order count) and
    monetary (lifetime cents), each NTILE(4)-bucketed under a TOTAL
    order (metric, then custkey — ntile over a partial order is
    engine-dependent; the tiebreak makes it deterministic), then
    rolled up to segment counts + exact cents. One shuffle to the
    per-customer aggregate; the three ntiles share one unpartitioned
    sort each (customer-count-sized, the standard RFM shape — at
    100 TB you'd swap ntile for fixed quantile cutpoints computed
    once and broadcast)."""
    o = load_tables(spark, sf_dir, "orders")["orders"]
    per = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_dt"),
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)))
        .cast("long")
        .alias("cents"),
    )
    mx = per.agg(F.max("last_dt").alias("mx"))
    per = per.crossJoin(F.broadcast(mx)).withColumn(
        "rec_days", F.datediff(F.col("mx"), F.col("last_dt")).cast("long")
    )
    wr = Window.orderBy(F.col("rec_days"), F.col("o_custkey"))
    wf = Window.orderBy(F.desc("freq"), F.col("o_custkey"))
    wm = Window.orderBy(F.desc("cents"), F.col("o_custkey"))
    scored = per.select(
        "o_custkey",
        "cents",
        F.ntile(4).over(wr).cast("long").alias("r_q"),
        F.ntile(4).over(wf).cast("long").alias("f_q"),
        F.ntile(4).over(wm).cast("long").alias("m_q"),
    )
    return (
        scored.groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("cents").cast("long").alias("segment_cents"),
        )
        .orderBy("r_q", "f_q", "m_q")
    )


_RFM_SQL = """
WITH per AS (
  SELECT o_custkey,
    MAX(o_orderdate) AS last_dt,
    CAST(COUNT(*) AS BIGINT) AS freq,
    CAST(SUM(FLOOR(o_totalprice * 100 + 0.5)) AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey
),
mx AS (SELECT MAX(last_dt) AS mx FROM per),
scored AS (
  SELECT o_custkey, cents,
    CAST(NTILE(4) OVER (ORDER BY datediff('day', last_dt, mx),
                        o_custkey) AS BIGINT) AS r_q,
    CAST(NTILE(4) OVER (ORDER BY freq DESC, o_custkey) AS BIGINT) AS f_q,
    CAST(NTILE(4) OVER (ORDER BY cents DESC, o_custkey) AS BIGINT) AS m_q
  FROM per CROSS JOIN mx
)
SELECT r_q, f_q, m_q,
  CAST(COUNT(*) AS BIGINT) AS n_customers,
  CAST(SUM(cents) AS BIGINT) AS segment_cents
FROM scored GROUP BY r_q, f_q, m_q ORDER BY r_q, f_q, m_q
"""


# ---------------------------------------------------------------- #
# q_attribution                                                     #
# ---------------------------------------------------------------- #


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch / last-touch marketing attribution: for every
    ``purchase`` event, the earliest and the most recent PRECEDING
    non-purchase event type of the same user (IGNORE NULLS window
    frames over one per-user sort — ROWS UNBOUNDED PRECEDING..1
    PRECEDING), rolled up to purchases + exact revenue cents per
    (first_touch, last_touch) pair. Purchases with no preceding
    touch attribute to 'none'. ONE shuffle (the per-user window);
    the rollup reuses the map-side combine."""
    ev = load_tables(spark, sf_dir, "events")["events"]
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    marked = ev.select(
        "user_id",
        "event_type",
        F.floor(F.coalesce(F.col("value"), F.lit(0.0)) * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        F.first(touch, ignorenulls=True).over(w).alias("ft"),
        F.last(touch, ignorenulls=True).over(w).alias("lt"),
    )
    return (
        marked.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.coalesce(F.col("ft"), F.lit("none")).alias("first_touch"),
            F.coalesce(F.col("lt"), F.lit("none")).alias("last_touch"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
        .orderBy("first_touch", "last_touch")
    )


_ATTRIBUTION_SQL = """
WITH marked AS (
  SELECT user_id, event_type,
    CAST(FLOOR(COALESCE(value, 0) * 100 + 0.5) AS BIGINT) AS cents,
    FIRST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END
                IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ft,
    LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END
               IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt
  FROM events
)
SELECT COALESCE(ft, 'none') AS first_touch,
  COALESCE(lt, 'none') AS last_touch,
  CAST(COUNT(*) AS BIGINT) AS n_purchases,
  CAST(SUM(cents) AS BIGINT) AS revenue_cents
FROM marked WHERE event_type = 'purchase'
GROUP BY 1, 2 ORDER BY first_touch, last_touch
"""


# ---------------------------------------------------------------- #
# q_skyline                                                         #
# ---------------------------------------------------------------- #


def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier) per return flag: line items not
    dominated on (price low, quantity high). Point p is dominated
    iff another point has price ≤ AND qty ≥ with one strict — i.e.
    ``max(qty | price < p.price) ≥ p.qty  OR  max(qty | price =
    p.price) > p.qty``. Both maxima are single window expressions
    (a RANGE ..1 PRECEDING cummax over integer cents and a
    price-group max), so the O(n²) dominance test collapses to ONE
    sort per partition — the textbook sort-based sweep, linear after
    the window shuffle. All-integer output."""
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    pts = (
        li.select(
            "l_returnflag",
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("price_cents"),
            F.floor(F.col("l_quantity") + F.lit(0.5))
            .cast("long")
            .alias("qty"),
        )
        .groupBy("l_returnflag", "price_cents", "qty")
        .agg(F.count(F.lit(1)).cast("long").alias("n_items"))
    )
    w_lt = (
        Window.partitionBy("l_returnflag")
        .orderBy("price_cents")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_eq = Window.partitionBy("l_returnflag", "price_cents")
    flagged = pts.select(
        "l_returnflag",
        "price_cents",
        "qty",
        "n_items",
        F.max("qty").over(w_lt).alias("m_lt"),
        F.max("qty").over(w_eq).alias("m_eq"),
    )
    keep = (F.col("m_lt").isNull() | (F.col("m_lt") < F.col("qty"))) & (
        F.col("m_eq") <= F.col("qty")
    )
    return (
        flagged.filter(keep)
        .select("l_returnflag", "price_cents", "qty", "n_items")
        .orderBy("l_returnflag", "price_cents")
    )


_SKYLINE_SQL = """
WITH pts AS (
  SELECT l_returnflag,
    CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_cents,
    CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS qty,
    CAST(COUNT(*) AS BIGINT) AS n_items
  FROM lineitem GROUP BY 1, 2, 3
),
flagged AS (
  SELECT l_returnflag, price_cents, qty, n_items,
    MAX(qty) OVER (PARTITION BY l_returnflag ORDER BY price_cents
      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m_lt,
    MAX(qty) OVER (PARTITION BY l_returnflag, price_cents) AS m_eq
  FROM pts
)
SELECT l_returnflag, price_cents, qty, n_items
FROM flagged
WHERE (m_lt IS NULL OR m_lt < qty) AND m_eq <= qty
ORDER BY l_returnflag, price_cents
"""


def specs() -> list[QuerySpec]:
    return [
        QuerySpec("q_bfs_hops", q_bfs_hops, _bfs_sql()),
        QuerySpec("q_rfm_segments", q_rfm_segments, _RFM_SQL),
        QuerySpec("q_attribution", q_attribution, _ATTRIBUTION_SQL),
        QuerySpec("q_skyline", q_skyline, _SKYLINE_SQL),
        QuerySpec(
            "delta_generate_manifest",
            delta_generate_manifest,
            _GEN_MANIFEST_SQL,
        ),
        QuerySpec("q_kmv_distinct", q_kmv_distinct, _KMV_SQL),
        QuerySpec("delta_mv_incremental", delta_mv_incremental, _MV_SQL),
        QuerySpec("streaming_mv_refresh", streaming_mv_refresh, _SMV_SQL),
        QuerySpec("q_unpivot", q_unpivot, _UNPIVOT_SQL),
        QuerySpec("multimodal_video", multimodal_video, _VIDEO_SQL),
        QuerySpec("text_collocations", text_collocations, _COLLOC_SQL),
        QuerySpec("pipe_ppr", pipe_ppr, _ppr_sql()),
        QuerySpec("q_woe_encoding", q_woe_encoding, _WOE_SQL),
        QuerySpec("q_cusum_changepoints", q_cusum_changepoints, _CUSUM_SQL),
        QuerySpec("text_phrase_search", text_phrase_search, _PHRASE_SQL),
        QuerySpec("delta_version_diff", delta_version_diff, _VDIFF_SQL),
        QuerySpec("q_vwap", q_vwap, _VWAP_SQL),
        QuerySpec(
            "dedup_threshold_curve",
            dedup_threshold_curve,
            _threshold_curve_sql(),
        ),
        QuerySpec("q_benford", q_benford, _BENFORD_SQL),
        QuerySpec(
            "multimodal_image_dedup",
            multimodal_image_dedup,
            _image_dedup_sql(),
        ),
        QuerySpec(
            "multimodal_audio_energy",
            multimodal_audio_energy,
            _AUDIO_ENERGY_SQL,
        ),
        QuerySpec("q_linreg_trend", q_linreg_trend, _LINREG_SQL),
        QuerySpec(
            "q_gini_concentration", q_gini_concentration, _GINI_SQL
        ),
        QuerySpec(
            "pipe_corpus_checksum", pipe_corpus_checksum, _CHECKSUM_SQL
        ),
        QuerySpec(
            "delta_partition_profile",
            delta_partition_profile,
            _PART_PROFILE_SQL,
        ),
        QuerySpec(
            "streaming_late_drop", streaming_late_drop, _LATE_DROP_SQL
        ),
        QuerySpec(
            "pipe_entity_resolution", pipe_entity_resolution, _er_sql()
        ),
        QuerySpec(
            "pipe_dataset_card", pipe_dataset_card, _dataset_card_sql()
        ),
        QuerySpec("q_hll_rollup", q_hll_rollup, _hll_rollup_sql()),
        QuerySpec("q_seasonality", q_seasonality, _SEASONALITY_SQL),
        QuerySpec("text_readability", text_readability, _READABILITY_SQL),
        QuerySpec(
            "q_new_vs_returning", q_new_vs_returning, _NEW_RETURNING_SQL
        ),
        QuerySpec("q_cohort_ltv", q_cohort_ltv, _COHORT_LTV_SQL),
        QuerySpec("q_share_of_total", q_share_of_total, _SHARE_SQL),
    ]


# ---------------------------------------------------------------- #
# delta_generate_manifest                                           #
# ---------------------------------------------------------------- #


def delta_generate_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATE symlink_format_manifest end to end
    (``delta/manifest.py``): nation → Delta partitioned by
    n_regionkey → GENERATE (via the SQL dialect) → whole-partition
    DELETE (region 0's files drop from the log — no DVs) →
    re-GENERATE (stale partition manifest removed) → read the table
    back THROUGH the manifest tree (spark.read.text of the symlink
    files → parquet scan of exactly those files) → aggregate. The
    oracle replays the post-delete aggregate on the source rows, so
    a manifest pointing at any dropped/stale file hash-mismatches."""
    from deltalake_datafusion_spark.delta.manifest import (
        read_manifest_paths,
    )
    from deltalake_datafusion_spark.delta.ops import delete_delta
    from deltalake_datafusion_spark.delta.writer import write_delta
    from deltalake_datafusion_spark.queries.delta_tier import _fresh_dir
    from deltalake_datafusion_spark.sql.dispatcher import sql as lsql

    t = load_tables(spark, sf_dir, "nation")["nation"]
    path = _fresh_dir("genmanifest", sf_dir)
    write_delta(spark, t, path, partition_by=["n_regionkey"])
    lsql(spark, f"GENERATE symlink_format_manifest FOR TABLE delta.`{path}`")
    delete_delta(spark, path, "n_regionkey = 0")
    summary = lsql(
        spark, f"GENERATE symlink_format_manifest FOR TABLE delta.`{path}`"
    )
    files = [
        r.path.removeprefix("file://")
        for r in read_manifest_paths(spark, path).collect()
    ]
    # Hive-partitioned data files don't materialize the partition
    # column; a symlink-manifest consumer recovers it from the
    # directory path — replicate that contract here.
    back = spark.read.parquet(*files).withColumn(
        "n_regionkey",
        F.regexp_extract(
            F.col("_metadata.file_path"), "n_regionkey=([^/]+)", 1
        ).cast("long"),
    )
    return back.crossJoin(F.broadcast(summary)).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("n_nationkey").cast("long").alias("sum_key"),
        F.countDistinct("n_regionkey").cast("long").alias("n_regions"),
        F.max("manifests_written").alias("manifests_written"),
        F.max("manifests_deleted").alias("manifests_deleted"),
    )


_GEN_MANIFEST_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(n_nationkey) AS BIGINT) AS sum_key,
  CAST(COUNT(DISTINCT n_regionkey) AS BIGINT) AS n_regions,
  CAST(COUNT(DISTINCT n_regionkey) AS BIGINT) AS manifests_written,
  CAST(1 AS BIGINT) AS manifests_deleted
FROM nation WHERE n_regionkey <> 0
"""


# ---------------------------------------------------------------- #
# q_kmv_distinct                                                    #
# ---------------------------------------------------------------- #


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct sketches with SET ALGEBRA
    (``operators/sketches.py``): per-audience distinct-user
    estimates for click and purchase, a lossless-union merge, and
    the Beyer et al. matching-hash intersection estimator — all
    integer arithmetic over the portable 60-bit md5 hash, so every
    number (including the approximations) hash-checks against the
    DuckDB replay. Exact intersection sits beside the estimate.
    Sketch build: one distinct + one per-group top-k window; the
    merged state is ≤ k rows per group."""
    from deltalake_datafusion_spark.operators.sketches import (
        KMV_K,
        kmv_estimate,
        kmv_merge,
        kmv_sketch,
    )

    e = load_tables(spark, sf_dir, "events")["events"]
    clicks = e.filter(F.col("event_type") == "click")
    purch = e.filter(F.col("event_type") == "purchase")
    sa = kmv_sketch(clicks, "user_id").localCheckpoint(eager=True)
    sb = kmv_sketch(purch, "user_id").localCheckpoint(eager=True)
    su = kmv_merge(sa, sb)
    ea = kmv_estimate(sa).select(
        F.lit("click").alias("grp"), "n_seen", "n_distinct_est"
    )
    eb = kmv_estimate(sb).select(
        F.lit("purchase").alias("grp"), "n_seen", "n_distinct_est"
    )
    eu = kmv_estimate(su).select(
        F.lit("union").alias("grp"), "n_seen", "n_distinct_est"
    )
    # intersection: union-sketch hashes present in BOTH input sketches
    matches = (
        su.join(sa, "h", "left_semi")
        .join(sb, "h", "left_semi")
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
    )
    inter = (
        eu.withColumnRenamed("n_distinct_est", "est_u")
        .crossJoin(F.broadcast(matches))
        .select(
            F.lit("intersect_est").alias("grp"),
            F.col("m").alias("n_seen"),
            F.expr(f"m * est_u div {KMV_K}").alias("n_distinct_est"),
        )
    )
    exact = (
        clicks.select("user_id")
        .intersect(purch.select("user_id"))
        .agg(
            F.lit("intersect_exact").alias("grp"),
            F.count(F.lit(1)).cast("long").alias("n_seen"),
            F.count(F.lit(1)).cast("long").alias("n_distinct_est"),
        )
    )
    return (
        ea.unionByName(eb)
        .unionByName(eu)
        .unionByName(inter)
        .unionByName(exact)
        .orderBy("grp")
    )


_KMV_SQL = """
WITH h AS (
  SELECT DISTINCT 'a' AS grp,
    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
         AS BIGINT) AS h
  FROM events WHERE event_type = 'click' AND user_id IS NOT NULL
  UNION
  SELECT DISTINCT 'b',
    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
         AS BIGINT)
  FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL
),
sk AS (
  SELECT grp, h FROM (
    SELECT grp, h,
      ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS rn
    FROM h
  ) WHERE rn <= 64
),
su AS (
  SELECT h FROM (
    SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn
    FROM (SELECT DISTINCT h FROM sk)
  ) WHERE rn <= 64
),
est AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_seen,
    CAST(CASE WHEN COUNT(*) < 64 THEN COUNT(*)
      ELSE (63 * (1::BIGINT << 40))
           // GREATEST(MAX(h) >> 20, 1) END AS BIGINT) AS e
  FROM sk GROUP BY grp
),
estu AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_seen,
    CAST(CASE WHEN COUNT(*) < 64 THEN COUNT(*)
      ELSE (63 * (1::BIGINT << 40))
           // GREATEST(MAX(h) >> 20, 1) END AS BIGINT) AS e
  FROM su
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m FROM su
  WHERE h IN (SELECT h FROM sk WHERE grp = 'a')
    AND h IN (SELECT h FROM sk WHERE grp = 'b')
),
exact AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM (
    SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
    INTERSECT
    SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
  )
)
SELECT 'click' AS grp, n_seen, e AS n_distinct_est FROM est WHERE grp = 'a'
UNION ALL
SELECT 'purchase', n_seen, e FROM est WHERE grp = 'b'
UNION ALL
SELECT 'union', n_seen, e FROM estu
UNION ALL
SELECT 'intersect_est', m.m, CAST(m.m * estu.e // 64 AS BIGINT)
FROM m, estu
UNION ALL
SELECT 'intersect_exact', n, n FROM exact
ORDER BY grp
"""


# ---------------------------------------------------------------- #
# delta_mv_incremental                                              #
# ---------------------------------------------------------------- #


def delta_mv_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained aggregate materialized view
    (``delta/mv.py``): orders → CDF-enabled Delta base → full MV
    build (count + cents per priority) → append + in-place update +
    delete on the base → ONE incremental refresh that reads only the
    new commits' change feed, reduces it to signed per-group deltas,
    and MERGEs them into the view (groups reaching count 0 are
    deleted). The returned view must equal the full recompute of the
    final base state — which is exactly what the oracle computes
    from the source rows, so any drift in the delta arithmetic or
    the watermark hash-mismatches."""
    from deltalake_datafusion_spark.delta.mv import (
        build_aggregate_mv,
        refresh_aggregate_mv,
    )
    from deltalake_datafusion_spark.delta.ops import (
        delete_delta,
        update_delta,
    )
    from deltalake_datafusion_spark.delta.scan import read_delta
    from deltalake_datafusion_spark.delta.writer import write_delta
    from deltalake_datafusion_spark.queries.delta_tier import _fresh_dir

    o = load_tables(spark, sf_dir, "orders")["orders"]
    base = _fresh_dir("mvbase", sf_dir)
    mv = _fresh_dir("mvview", sf_dir)
    cdf = {"delta.enableChangeDataFeed": "true"}
    rows = o.select(
        F.col("o_orderkey").alias("id"),
        F.col("o_orderpriority").alias("g"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    write_delta(spark, rows, base, configuration=cdf)
    build_aggregate_mv(spark, base, mv, ["g"], ["cents"])
    extra = o.filter(F.col("o_orderkey") % 101 == 0).select(
        (F.col("o_orderkey") + 100000000).alias("id"),
        F.lit("Z-NEW").alias("g"),
        (F.col("o_orderkey") % 997).cast("long").alias("cents"),
    )
    write_delta(spark, extra, base, mode="append", configuration=cdf)
    update_delta(spark, base, set_exprs={"cents": "cents * 2"},
                 predicate="id % 13 = 0")
    delete_delta(spark, base, "id % 17 = 5")
    refresh_aggregate_mv(spark, base, mv, ["g"], ["cents"])
    return (
        read_delta(spark, mv)
        .select("g", "mv_count", F.col("mv_sum_cents").cast("long")
                .alias("mv_sum_cents"))
        .orderBy("g")
    )


_MV_SQL = """
WITH base AS (
  SELECT o_orderkey AS id, o_orderpriority AS g,
    CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders
  UNION ALL
  SELECT o_orderkey + 100000000, 'Z-NEW',
    CAST(o_orderkey % 997 AS BIGINT)
  FROM orders WHERE o_orderkey % 101 = 0
),
after_update AS (
  SELECT id, g,
    CASE WHEN id % 13 = 0 THEN cents * 2 ELSE cents END AS cents
  FROM base
),
final AS (SELECT * FROM after_update WHERE NOT (id % 17 = 5))
SELECT g, CAST(COUNT(*) AS BIGINT) AS mv_count,
  CAST(SUM(cents) AS BIGINT) AS mv_sum_cents
FROM final GROUP BY g ORDER BY g
"""


# ---------------------------------------------------------------- #
# streaming_mv_refresh                                              #
# ---------------------------------------------------------------- #


def streaming_mv_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTINUOUS materialized-view maintenance
    (``delta/mv.py::streaming_refresh_aggregate_mv``): the base's
    change feed consumed as a STREAM (version-offset micro-batches
    through the delta_cdf source) with a foreachBatch sink that
    reduces each batch to signed deltas and MERGEs them into the
    view; availableNow drains all pending commits, and the view's
    committed ``_commit_version`` watermark makes replayed batches
    no-ops. Same exactness
    contract as the batch refresh: the view must equal the full
    recompute of the final base state, which is what the oracle
    computes from the source rows."""
    from deltalake_datafusion_spark.delta.mv import (
        build_aggregate_mv,
        streaming_refresh_aggregate_mv,
    )
    from deltalake_datafusion_spark.delta.ops import (
        delete_delta,
        update_delta,
    )
    from deltalake_datafusion_spark.delta.scan import read_delta
    from deltalake_datafusion_spark.delta.writer import write_delta
    from deltalake_datafusion_spark.queries.delta_tier import _fresh_dir

    c = load_tables(spark, sf_dir, "customer")["customer"]
    base = _fresh_dir("smvbase", sf_dir)
    mv = _fresh_dir("smvview", sf_dir)
    ck = _fresh_dir("smvckpt", sf_dir)
    cdf = {"delta.enableChangeDataFeed": "true"}
    rows = c.select(
        F.col("c_custkey").alias("id"),
        F.col("c_mktsegment").alias("g"),
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    write_delta(spark, rows, base, configuration=cdf)
    build_aggregate_mv(spark, base, mv, ["g"], ["cents"])
    update_delta(spark, base, set_exprs={"cents": "cents + 250"},
                 predicate="id % 9 = 1")
    delete_delta(spark, base, "id % 23 = 7")
    streaming_refresh_aggregate_mv(spark, base, mv, ["g"], ["cents"], ck)
    return (
        read_delta(spark, mv)
        .select("g", "mv_count", F.col("mv_sum_cents").cast("long")
                .alias("mv_sum_cents"))
        .orderBy("g")
    )


_SMV_SQL = """
WITH base AS (
  SELECT c_custkey AS id, c_mktsegment AS g,
    CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS cents FROM customer
),
after_update AS (
  SELECT id, g,
    CASE WHEN id % 9 = 1 THEN cents + 250 ELSE cents END AS cents
  FROM base
),
final AS (SELECT * FROM after_update WHERE NOT (id % 23 = 7))
SELECT g, CAST(COUNT(*) AS BIGINT) AS mv_count,
  CAST(SUM(cents) AS BIGINT) AS mv_sum_cents
FROM final GROUP BY g ORDER BY g
"""


# ---------------------------------------------------------------- #
# q_unpivot                                                         #
# ---------------------------------------------------------------- #


def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide → long melt): per return flag, three integer
    metrics computed as ONE wide aggregate, then melted into
    (flag, metric, value) rows with ``DataFrame.unpivot`` — the
    relational MELT every feature-store export needs; the metric
    column stays a literal so the melt is zero-shuffle on top of the
    aggregate."""
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    wide = li.groupBy("l_returnflag").agg(
        F.sum(F.floor(F.col("l_quantity") + F.lit(0.5)))
        .cast("long")
        .alias("total_qty"),
        F.sum(F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)))
        .cast("long")
        .alias("total_cents"),
        F.count(F.lit(1)).cast("long").alias("n_items"),
    )
    return wide.unpivot(
        ["l_returnflag"],
        ["total_qty", "total_cents", "n_items"],
        "metric",
        "value",
    ).orderBy("l_returnflag", "metric")


_UNPIVOT_SQL = """
WITH wide AS (
  SELECT l_returnflag,
    CAST(SUM(FLOOR(l_quantity + 0.5)) AS BIGINT) AS total_qty,
    CAST(SUM(FLOOR(l_extendedprice * 100 + 0.5)) AS BIGINT) AS total_cents,
    CAST(COUNT(*) AS BIGINT) AS n_items
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, metric, value FROM (
  SELECT l_returnflag, 'total_qty' AS metric, total_qty AS value FROM wide
  UNION ALL
  SELECT l_returnflag, 'total_cents', total_cents FROM wide
  UNION ALL
  SELECT l_returnflag, 'n_items', n_items FROM wide
) ORDER BY l_returnflag, metric
"""


# ---------------------------------------------------------------- #
# multimodal_video                                                  #
# ---------------------------------------------------------------- #


def multimodal_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO-BMFF (MP4) container parse on GENUINE box trees
    (``operators/multimodal.py::sniff_mp4_header``): payloads are
    minimal valid ftyp+moov+mdat files built from deterministic
    parameters of doc_id (brand, timescale, duration, track list,
    mvhd version 0 AND 1), every 6th doc a non-BMFF payload that
    must parse to schema'd nulls. The oracle recomputes
    brand/duration/track/geometry arithmetically from the same
    parameters, so the REAL box-walker is value-checked cross-engine.
    Arrow-batched mapInPandas; no pixel decode — 100 TB video triage
    is container metadata + ranged sample reads."""
    from deltalake_datafusion_spark.operators.multimodal import (
        build_mp4_bytes,
        decode_video_metadata,
    )

    docs = (
        load_tables(spark, sf_dir, "documents")["documents"]
        .filter(F.col("doc_id") % 13 == 0)
        .select("doc_id")
    )

    def build(it):
        import pandas as pd

        for pdf in it:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                if did % 6 == 2:
                    payloads.append(b"certainly not an iso-bmff box tree")
                    continue
                ts = [600, 1000, 90000][did % 3]
                dur = ts * (3 + did % 29) + did % 997
                tracks = [
                    (320 + (did % 5) * 160, 180 + (did % 5) * 90)
                ]
                if did % 2 == 1:
                    tracks.append((0, 0))  # audio track: 0x0 geometry
                payloads.append(
                    build_mp4_bytes(
                        ts,
                        dur,
                        tracks,
                        major_brand=b"mp42" if did % 4 == 1 else b"isom",
                        mvhd_version=1 if did % 4 == 1 else 0,
                    )
                )
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    media = docs.mapInPandas(build, "media_id long, payload binary")
    return decode_video_metadata(media).orderBy("media_id")


_VIDEO_SQL = """
WITH p AS (
  SELECT doc_id AS media_id,
    doc_id % 6 = 2 AS garbage,
    CAST(CASE doc_id % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000
         ELSE 90000 END AS BIGINT) AS ts
  FROM documents WHERE doc_id % 13 = 0
)
SELECT media_id,
  CASE WHEN garbage THEN NULL
       WHEN media_id % 4 = 1 THEN 'mp42' ELSE 'isom' END AS major_brand,
  CASE WHEN garbage THEN NULL ELSE ts END AS timescale,
  CASE WHEN garbage THEN NULL
       ELSE (ts * (3 + media_id % 29) + media_id % 997) * 1000 // ts
       END AS duration_ms,
  CASE WHEN garbage THEN NULL
       ELSE CAST(1 + media_id % 2 AS BIGINT) END AS n_tracks,
  CASE WHEN garbage THEN NULL
       ELSE CAST(320 + (media_id % 5) * 160 AS BIGINT) END AS width,
  CASE WHEN garbage THEN NULL
       ELSE CAST(180 + (media_id % 5) * 90 AS BIGINT) END AS height
FROM p ORDER BY media_id
"""


# ---------------------------------------------------------------- #
# text_collocations                                                 #
# ---------------------------------------------------------------- #


def text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining
    (``operators/mining.py::pmi_collocations``): top-20 adjacent
    token pairs of the documents corpus by the integer
    cross-multiplied PMI ratio ``n_ab·T·1000 div (n_a·n_b)`` — the
    multi-word-expression detector run before tokenizer training.
    Bigrams are built inside the row (arrays_zip of two slices, pure
    codegen); the oracle replays the same tokenization and
    arithmetic with parallel unnest zipping."""
    from deltalake_datafusion_spark.operators.mining import (
        pmi_collocations,
    )

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return pmi_collocations(docs, "text", min_count=5, top_n=20)


_COLLOC_SQL = """
WITH toks AS (
  SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS l
  FROM documents WHERE text IS NOT NULL
),
uni AS (
  SELECT w, COUNT(*) AS n_w FROM (SELECT unnest(l) AS w FROM toks)
  GROUP BY w
),
pairs AS (
  SELECT unnest(l[1:len(l) - 1]) AS a, unnest(l[2:len(l)]) AS b
  FROM toks WHERE len(l) >= 2
),
big AS (SELECT a, b, COUNT(*) AS n_ab FROM pairs GROUP BY a, b),
tot AS (SELECT SUM(n_ab) AS t_big FROM big),
scored AS (
  SELECT big.a, big.b, CAST(big.n_ab AS BIGINT) AS n_ab,
    CAST((big.n_ab * tot.t_big * 1000) // (ua.n_w * ub.n_w)
         AS BIGINT) AS pmi_ratio_x1000
  FROM big, tot
  JOIN uni ua ON ua.w = big.a
  JOIN uni ub ON ub.w = big.b
  WHERE big.n_ab >= 5
)
SELECT a, b, n_ab, pmi_ratio_x1000,
  CAST(ROW_NUMBER() OVER (ORDER BY pmi_ratio_x1000 DESC, a, b)
       AS BIGINT) AS rk
FROM scored
ORDER BY pmi_ratio_x1000 DESC, a, b
LIMIT 20
"""


# ---------------------------------------------------------------- #
# pipe_ppr                                                          #
# ---------------------------------------------------------------- #

PPR_ITERS = 8
PPR_SCALE_BITS = 40
PPR_DAMPING = 85
PPR_SEEDS = (0, 7, 21)


def pipe_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized (topic-sensitive) PageRank
    (``operators/graph.py::personalized_pagerank_integer``) over the
    60-node doc link graph, teleporting to seeds {0, 7, 21} — ranks
    measure link proximity to the seed topic. Same integer-exact
    contract as pipe_pagerank: the oracle unrolls all 8 iterations
    (per-iteration dangling aggregate teleported to the seeds
    included) as chained CTEs; top-25 by rank."""
    from deltalake_datafusion_spark.operators.graph import (
        personalized_pagerank_integer,
    )

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    d = F.col("doc_id")
    edges = docs.select(
        (d % 50).alias("src"), ((d * 7 + 3) % 50).alias("dst")
    ).unionByName(
        docs.select((d % 50).alias("src"), (50 + d % 10).alias("dst"))
    )
    seeds = _local_rows_df(spark, [(s,) for s in PPR_SEEDS], "node long")
    ranks = personalized_pagerank_integer(
        edges,
        seeds,
        iterations=PPR_ITERS,
        scale_bits=PPR_SCALE_BITS,
        damping_pct=PPR_DAMPING,
    )
    return (
        ranks.orderBy(F.desc("rank"), "node").limit(25)
        .select("node", "rank")
    )


def _ppr_sql(
    iters: int = PPR_ITERS,
    damping: int = PPR_DAMPING,
    scale_bits: int = PPR_SCALE_BITS,
) -> str:
    s = 1 << scale_bits
    seeds = ", ".join(str(x) for x in PPR_SEEDS)
    parts = [
        f"""
WITH e0 AS (
  SELECT doc_id % 50 AS src, (doc_id * 7 + 3) % 50 AS dst FROM documents
  UNION ALL
  SELECT doc_id % 50, 50 + doc_id % 10 FROM documents
),
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM e UNION SELECT dst FROM e)
),
sm AS (
  SELECT node,
    CASE WHEN node IN ({seeds}) THEN 1 ELSE 0 END AS is_seed
  FROM nodes
),
mm AS (SELECT SUM(is_seed) AS m FROM sm),
pr0 AS (
  SELECT node, is_seed,
    CAST(CASE WHEN is_seed = 1 THEN {s} // m ELSE 0 END AS BIGINT)
      AS rank
  FROM sm, mm
)"""
    ]
    for t in range(1, iters + 1):
        parts.append(
            f""",
c{t} AS (
  SELECT e.dst AS node, SUM(p.rank // deg.deg) AS c
  FROM e JOIN pr{t - 1} p ON e.src = p.node
  JOIN deg ON deg.src = e.src
  GROUP BY e.dst
),
d{t} AS (
  SELECT COALESCE(SUM(p.rank), 0) AS dt
  FROM pr{t - 1} p LEFT JOIN deg ON deg.src = p.node
  WHERE deg.src IS NULL
),
pr{t} AS (
  SELECT sm.node, sm.is_seed,
    CAST(CASE WHEN sm.is_seed = 1
              THEN ({s} * {100 - damping}) // (100 * mm.m)
              ELSE 0 END
         + ({damping} * (COALESCE(c{t}.c, 0)
              + CASE WHEN sm.is_seed = 1 THEN d{t}.dt // mm.m
                     ELSE 0 END)) // 100 AS BIGINT) AS rank
  FROM sm CROSS JOIN mm CROSS JOIN d{t}
  LEFT JOIN c{t} ON c{t}.node = sm.node
)"""
        )
    parts.append(
        f"\nSELECT node, rank FROM pr{iters}"
        " ORDER BY rank DESC, node LIMIT 25"
    )
    return "".join(parts)


# ---------------------------------------------------------------- #
# q_woe_encoding                                                    #
# ---------------------------------------------------------------- #


def q_woe_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence categorical encoding (the credit-scoring /
    feature-engineering standard): per (feature, category), the
    good/bad class balance vs the global balance, emitted as the
    integer cross-multiplied ratio ``woe_ratio_ppm = (n_good_cat ·
    T_bad · 10^6) div (n_bad_cat · T_good)`` with +1 Laplace
    smoothing (WOE = ln of that ratio — same ranking, and the ratio
    hash-checks cross-engine while ln differs in the last ulp).
    Label: order fully shipped (o_orderstatus = 'F'). Two stacked
    features (priority, order year) in ONE pass: unpivot-style
    union → single groupBy → O(1)-row totals broadcast."""
    o = load_tables(spark, sf_dir, "orders")["orders"]
    lab = o.select(
        (F.col("o_orderstatus") == "F").cast("int").alias("good"),
        F.col("o_orderpriority").alias("priority"),
        F.year("o_orderdate").cast("string").alias("order_year"),
    )
    stacked = lab.select(
        F.lit("priority").alias("feature"),
        F.col("priority").alias("category"),
        "good",
    ).unionByName(
        lab.select(
            F.lit("order_year").alias("feature"),
            F.col("order_year").alias("category"),
            "good",
        )
    )
    per = stacked.groupBy("feature", "category").agg(
        F.sum("good").cast("long").alias("n_good"),
        F.sum(1 - F.col("good")).cast("long").alias("n_bad"),
    )
    tot = lab.agg(
        F.sum("good").cast("long").alias("t_good"),
        F.sum(1 - F.col("good")).cast("long").alias("t_bad"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "feature",
            "category",
            "n_good",
            "n_bad",
            F.expr(
                "((n_good + 1) * (t_bad + 1) * 1000000L)"
                " div ((n_bad + 1) * (t_good + 1))"
            ).alias("woe_ratio_ppm"),
        )
        .orderBy("feature", "category")
    )


_WOE_SQL = """
WITH lab AS (
  SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS good,
    o_orderpriority AS priority,
    CAST(EXTRACT(year FROM o_orderdate) AS VARCHAR) AS order_year
  FROM orders
),
stacked AS (
  SELECT 'priority' AS feature, priority AS category, good FROM lab
  UNION ALL
  SELECT 'order_year', order_year, good FROM lab
),
per AS (
  SELECT feature, category,
    CAST(SUM(good) AS BIGINT) AS n_good,
    CAST(SUM(1 - good) AS BIGINT) AS n_bad
  FROM stacked GROUP BY feature, category
),
tot AS (
  SELECT CAST(SUM(good) AS BIGINT) AS t_good,
    CAST(SUM(1 - good) AS BIGINT) AS t_bad
  FROM lab
)
SELECT feature, category, n_good, n_bad,
  CAST(((n_good + 1) * (t_bad + 1) * 1000000)
       // ((n_bad + 1) * (t_good + 1)) AS BIGINT) AS woe_ratio_ppm
FROM per, tot ORDER BY feature, category
"""


# ---------------------------------------------------------------- #
# q_cusum_changepoints                                              #
# ---------------------------------------------------------------- #


def q_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point statistics (Page 1954) per event type, in
    EXACT integer arithmetic: the one-sided CUSUM recursion
    ``S_t = max(0, S_{t-1} + dev_t)`` is not a window function, but
    its closed form IS: ``S_t = P_t − min(0, min_{j≤t} P_j)`` with
    ``P`` the prefix sum of deviations — one prefix-sum window + one
    running-min window over the same sort, pure codegen, one
    shuffle. Deviations are mean-centered without floats by scaling:
    ``dev = cents·n − s1`` (n, s1 per-type count/sum, broadcast
    back); the alarm threshold is 3× the scaled mean absolute
    deviation. Emits per type the point/alarm counts and the peak
    statistic — all BIGINT, oracle replays every step."""
    ev = load_tables(spark, sf_dir, "events")["events"]
    base = ev.filter(F.col("value").isNotNull()).select(
        "event_type",
        "ts",
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    stats = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s1"),
    )
    j = base.join(F.broadcast(stats), "event_type").withColumn(
        "dev", F.col("cents") * F.col("n") - F.col("s1")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pre = j.select(
        "event_type",
        "ts",
        "event_id",
        "n",
        F.abs("dev").alias("absdev"),
        F.sum("dev").over(w).alias("p"),
    )
    cur = pre.select(
        "event_type",
        "n",
        "absdev",
        (F.col("p") - F.least(F.lit(0), F.min("p").over(w))).alias("stat"),
    )
    # alarms need the threshold which needs sum_absdev — second pass
    # over the windowed stats via a broadcast join of the tiny
    # per-type aggregate (no recompute of the window)
    thr = F.expr("3 * sum_absdev div n")
    thr_df = (
        cur.groupBy("event_type")
        .agg(F.sum("absdev").alias("sum_absdev"))
        .join(stats.select("event_type", "n"), "event_type")
        .select("event_type", thr.alias("thr"))
    )
    return (
        cur.join(F.broadcast(thr_df), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.sum(F.when(F.col("stat") > F.col("thr"), 1).otherwise(0))
            .cast("long")
            .alias("n_alarms"),
            F.max("stat").cast("long").alias("max_stat"),
            F.max("thr").cast("long").alias("threshold"),
        )
        .orderBy("event_type")
    )


_CUSUM_SQL = """
WITH base AS (
  SELECT event_type, ts, event_id,
    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL
),
stats AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(cents) AS BIGINT) AS s1
  FROM base GROUP BY event_type
),
dev AS (
  SELECT b.event_type, b.ts, b.event_id, s.n,
    b.cents * s.n - s.s1 AS dev
  FROM base b JOIN stats s USING (event_type)
),
pre AS (
  SELECT event_type, ts, event_id, n, ABS(dev) AS absdev,
    SUM(dev) OVER (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS p
  FROM dev
),
cur AS (
  SELECT event_type, n, absdev,
    p - LEAST(0, MIN(p) OVER (PARTITION BY event_type
        ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS stat
  FROM pre
),
thr AS (
  SELECT event_type, 3 * SUM(absdev) // MAX(n) AS thr
  FROM cur GROUP BY event_type
)
SELECT c.event_type,
  CAST(COUNT(*) AS BIGINT) AS n_points,
  CAST(SUM(CASE WHEN c.stat > t.thr THEN 1 ELSE 0 END) AS BIGINT)
    AS n_alarms,
  CAST(MAX(c.stat) AS BIGINT) AS max_stat,
  CAST(MAX(t.thr) AS BIGINT) AS threshold
FROM cur c JOIN thr t USING (event_type)
GROUP BY c.event_type ORDER BY c.event_type
"""


# ---------------------------------------------------------------- #
# text_phrase_search                                                #
# ---------------------------------------------------------------- #

PHRASE = ("merge", "join")


def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional-index phrase search: exact occurrences of the
    phrase "merge join" via a POSITIONAL postings join —
    ``posexplode`` builds (doc_id, token, pos) postings, the phrase
    match is one self-join keyed on (doc_id, pos+1) — the inverted-
    index-with-positions plan every full-text engine runs for quoted
    queries (BM25 handles bag-of-words; this adds order
    sensitivity). Postings are filtered to the phrase's tokens
    BEFORE the join (pushdown: postings lists for two terms, not
    the whole corpus). Output: per-doc occurrence counts (doc_id <
    400 for a bounded result) plus the corpus-wide total as group -1."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    toks = docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.posexplode(
            F.expr("filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')")
        ).alias("pos", "w"),
    )
    p1 = toks.filter(F.col("w") == PHRASE[0]).select(
        "doc_id", F.col("pos").alias("p0")
    )
    p2 = toks.filter(F.col("w") == PHRASE[1]).select(
        "doc_id", (F.col("pos") - 1).alias("p0")
    )
    hits = p1.join(p2, ["doc_id", "p0"]).groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences")
    )
    per_doc = hits.filter(F.col("doc_id") < 400)
    total = hits.agg(
        F.lit(-1).cast("long").alias("doc_id"),
        F.sum("n_occurrences").cast("long").alias("n_occurrences"),
    )
    return per_doc.unionByName(total).orderBy("doc_id")


_PHRASE_SQL = f"""
WITH toks AS (
  SELECT doc_id, w, i - 1 AS pos FROM (
    SELECT doc_id,
      unnest(list_filter(regexp_split_to_array(lower(text),
                                               '[^a-z0-9]+'),
                         x -> x <> '')) AS w,
      unnest(range(1, len(list_filter(regexp_split_to_array(lower(text),
                                                            '[^a-z0-9]+'),
                                      x -> x <> '')) + 1)) AS i
    FROM documents WHERE text IS NOT NULL
  )
),
hits AS (
  SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences
  FROM toks a JOIN toks b
    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  WHERE a.w = '{PHRASE[0]}' AND b.w = '{PHRASE[1]}'
  GROUP BY a.doc_id
)
SELECT doc_id, n_occurrences FROM hits WHERE doc_id < 400
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(SUM(n_occurrences) AS BIGINT) FROM hits
ORDER BY doc_id
"""


# ---------------------------------------------------------------- #
# delta_version_diff                                                #
# ---------------------------------------------------------------- #


def delta_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot DIFF between two table versions WITHOUT the change
    feed: time-travel both versions and EXCEPT ALL each way — the
    audit/debug operator for tables where CDF was never enabled
    (CDF can only be read forward from when it was turned on; diff
    works on any pair of retained versions). Multiset semantics:
    EXCEPT ALL counts duplicates, so a row appearing twice and
    deleted once shows net 1. Returns added/removed/surviving counts
    + exact added/removed key sums; the oracle replays the same two
    edits arithmetically. Both sides are plain Delta scans — stats
    pruning and column pruning apply as usual."""
    from deltalake_datafusion_spark.delta.ops import delete_delta
    from deltalake_datafusion_spark.delta.scan import read_delta
    from deltalake_datafusion_spark.delta.writer import write_delta
    from deltalake_datafusion_spark.queries.delta_tier import _fresh_dir

    n = load_tables(spark, sf_dir, "nation")["nation"]
    path = _fresh_dir("vdiff", sf_dir)
    rows = n.select("n_nationkey", "n_regionkey")
    write_delta(spark, rows, path)                     # v0
    write_delta(
        spark,
        rows.filter(F.col("n_nationkey") % 3 == 0).select(
            (F.col("n_nationkey") + 100).alias("n_nationkey"),
            "n_regionkey",
        ),
        path,
        mode="append",
    )                                                   # v1
    delete_delta(spark, path, "n_regionkey = 2")        # v2
    v_from = read_delta(spark, path, version=0)
    v_to = read_delta(spark, path)
    added = v_to.exceptAll(v_from)
    removed = v_from.exceptAll(v_to)
    return (
        added.agg(
            F.count(F.lit(1)).cast("long").alias("n_added"),
            F.coalesce(F.sum("n_nationkey"), F.lit(0))
            .cast("long")
            .alias("added_key_sum"),
        )
        .crossJoin(
            removed.agg(
                F.count(F.lit(1)).cast("long").alias("n_removed"),
                F.coalesce(F.sum("n_nationkey"), F.lit(0))
                .cast("long")
                .alias("removed_key_sum"),
            )
        )
        .crossJoin(
            v_to.agg(F.count(F.lit(1)).cast("long").alias("n_final"))
        )
    )


_VDIFF_SQL = """
WITH v0 AS (SELECT n_nationkey, n_regionkey FROM nation),
v2 AS (
  SELECT * FROM (
    SELECT n_nationkey, n_regionkey FROM nation
    UNION ALL
    SELECT n_nationkey + 100, n_regionkey FROM nation
    WHERE n_nationkey % 3 = 0
  ) WHERE n_regionkey <> 2
),
added AS (SELECT * FROM v2 EXCEPT ALL SELECT * FROM v0),
removed AS (SELECT * FROM v0 EXCEPT ALL SELECT * FROM v2)
SELECT
  (SELECT CAST(COUNT(*) AS BIGINT) FROM added) AS n_added,
  (SELECT CAST(COALESCE(SUM(n_nationkey), 0) AS BIGINT) FROM added)
    AS added_key_sum,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM removed) AS n_removed,
  (SELECT CAST(COALESCE(SUM(n_nationkey), 0) AS BIGINT) FROM removed)
    AS removed_key_sum,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM v2) AS n_final
"""


# ---------------------------------------------------------------- #
# q_vwap                                                            #
# ---------------------------------------------------------------- #


def q_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-weighted average price per event type and day — the
    finance resampling beside OHLC bars, kept EXACT by emitting the
    (num, den) integer pair instead of the division: num =
    Σ(price_cents·qty), den = Σ qty with qty a deterministic
    function of event_id. One groupBy, map-side combined."""
    ev = load_tables(spark, sf_dir, "events")["events"]
    base = ev.filter(F.col("value").isNotNull()).select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("px"),
        (F.col("event_id") % 9 + 1).cast("long").alias("qty"),
    )
    out = base.groupBy(
        "event_type", F.date_format("day", "yyyy-MM-dd").alias("day_s")
    ).agg(
        F.sum(F.col("px") * F.col("qty")).cast("long").alias("vwap_num"),
        F.sum("qty").cast("long").alias("vwap_den"),
        F.count(F.lit(1)).cast("long").alias("n_trades"),
    )
    return out.filter(F.substring("day_s", 9, 2) <= "03").orderBy(
        "event_type", "day_s"
    )


_VWAP_SQL = """
WITH base AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS px,
    CAST(event_id % 9 + 1 AS BIGINT) AS qty
  FROM events WHERE value IS NOT NULL
)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day_s,
  CAST(SUM(px * qty) AS BIGINT) AS vwap_num,
  CAST(SUM(qty) AS BIGINT) AS vwap_den,
  CAST(COUNT(*) AS BIGINT) AS n_trades
FROM base WHERE EXTRACT(day FROM day) <= 3
GROUP BY event_type, day ORDER BY event_type, day_s
"""


# ---------------------------------------------------------------- #
# dedup_threshold_curve                                             #
# ---------------------------------------------------------------- #


def dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-selection curve for near-dup dedup: the exact
    Jaccard pair set (one prefix-filtered set-similarity join at the
    lowest threshold of interest, 0.3) histogrammed into 0.1-wide
    similarity bands — pairs-per-band is what you look at before
    committing a dedup threshold on a new corpus. ONE pair
    computation serves every candidate threshold (contrast: naive
    per-threshold reruns); the oracle recomputes the bands from the
    independent all-pairs join."""
    from deltalake_datafusion_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    from deltalake_datafusion_spark.queries.pipeline import (
        _perturbed_docs,
    )

    # even ids only: the perturbed twin of an even id is even too
    # (offset 10000), so near-dup pairs survive while the candidate
    # volume quarters — the curve's shape is what matters here
    corpus = _perturbed_docs(spark, sf_dir).filter(
        F.col("doc_id") % 2 == 0
    )
    pairs = ngram_jaccard_pairs(
        corpus, "text", "doc_id", threshold=0.3, shingle_n=3
    )
    band = F.least(F.floor(F.col("jaccard") * 10), F.lit(9)).cast("long")
    return (
        pairs.groupBy(band.alias("band"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy("band")
    )


def _threshold_curve_sql() -> str:
    from deltalake_datafusion_spark.queries.pipeline import (
        _PERTURB_SQL,
        _WORDS,
    )

    return f"""
WITH corpus0 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id, text FROM ({_PERTURB_SQL})
),
corpus AS (SELECT * FROM corpus0 WHERE doc_id % 2 = 0),
sh AS (
  SELECT doc_id,
    list_distinct([array_to_string(w[i:i+2], ' ')
                   for i in range(1, greatest(len(w) - 2, 1) + 1)]) AS s
  FROM (SELECT doc_id, {_WORDS} AS w FROM corpus)
),
pairs AS (
  SELECT a.doc_id AS a, b.doc_id AS b,
    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)
SELECT CAST(LEAST(FLOOR(jaccard * 10), 9) AS BIGINT) AS band,
  CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM pairs WHERE jaccard >= 0.3
GROUP BY 1 ORDER BY band
"""


# ---------------------------------------------------------------- #
# q_benford                                                         #
# ---------------------------------------------------------------- #

# Benford expected first-digit frequencies, ppm (log10(1+1/d))
_BENFORD_PPM = (301030, 176091, 124939, 96910, 79181,
                66947, 57992, 51153, 45757)


def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the
    data-forensics screen for fabricated or truncated numeric
    columns. Per digit: observed count, observed ppm, the published
    Benford expectation (log10(1+1/d), vendored as integer ppm
    constants so no engine computes a log), and the scaled absolute
    deviation — all BIGINT. One scan + one 9-row aggregate."""
    o = load_tables(spark, sf_dir, "orders")["orders"]
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("string"), 1, 1
    ).cast("long")
    per = (
        o.filter(F.col("o_totalprice") >= 1)
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = per.agg(F.sum("n").cast("long").alias("t"))
    exp_ppm = F.element_at(
        F.array(*[F.lit(v) for v in _BENFORD_PPM]), F.col("digit").cast("int")
    ).cast("long")
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            F.expr("n * 1000000L div t").alias("obs_ppm"),
            exp_ppm.alias("benford_ppm"),
            F.abs(F.expr("n * 1000000L div t") - exp_ppm).alias(
                "abs_dev_ppm"
            ),
        )
        .orderBy("digit")
    )


_BENFORD_SQL = f"""
WITH per AS (
  SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
                          AS VARCHAR), 1, 1) AS BIGINT) AS digit,
    CAST(COUNT(*) AS BIGINT) AS n
  FROM orders WHERE o_totalprice >= 1
  GROUP BY 1
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM per),
exp AS (
  SELECT * FROM (VALUES {", ".join(f"({d+1}, {v})" for d, v in enumerate(_BENFORD_PPM))})
    AS e(digit, benford_ppm)
)
SELECT per.digit, per.n,
  CAST(per.n * 1000000 // tot.t AS BIGINT) AS obs_ppm,
  CAST(exp.benford_ppm AS BIGINT) AS benford_ppm,
  CAST(ABS(per.n * 1000000 // tot.t - exp.benford_ppm) AS BIGINT)
    AS abs_dev_ppm
FROM per, tot JOIN exp ON exp.digit = per.digit
ORDER BY per.digit
"""


# ---------------------------------------------------------------- #
# multimodal_image_dedup                                            #
# ---------------------------------------------------------------- #


def multimodal_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup on GENUINE PNG bytes: payloads are
    real 8-bit grayscale PNGs (stdlib zlib deflate, per-row filters
    cycling through all five PNG filter types), decoded by the REAL
    stdlib inflate+defilter decoder, aHashed (integer 8×8
    box-average bits), and paired by hamming ≤ 3 via the pigeonhole
    band join (``operators/multimodal.py::ahash_near_dup_pairs`` —
    complete, never all-pairs). Pixels are a deterministic function
    of doc_id, so the ORACLE recomputes every pixel, cell, hash bit,
    and pair arithmetically — any decode/defilter/hash bug
    hash-mismatches. Output: near-dup pairs + hamming, plus the
    hash-distinct count as row (-1, -1, n)."""
    from deltalake_datafusion_spark.operators.multimodal import (
        ahash_image_hashes,
        ahash_near_dup_pairs,
        build_png_gray8,
    )

    docs = (
        load_tables(spark, sf_dir, "documents")["documents"]
        .filter(F.col("doc_id") % 19 == 0)
        .select("doc_id")
    )

    def build(it):
        import pandas as pd

        for pdf in it:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                g, variant = did % 12, did % 3
                px = [
                    [
                        255
                        if (
                            (variant == 1 and x < 2 and y < 2)
                            or (
                                variant == 2
                                and (
                                    (x < 2 and y < 2)
                                    or (x >= 14 and y >= 14)
                                )
                            )
                        )
                        else (x * 7 + y * 13 + g * 37) % 256
                        for x in range(16)
                    ]
                    for y in range(16)
                ]
                payloads.append(
                    build_png_gray8(px, [y % 5 for y in range(16)])
                )
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    media = docs.mapInPandas(build, "media_id long, payload binary")
    hashes = ahash_image_hashes(media).localCheckpoint(eager=True)
    pairs = ahash_near_dup_pairs(hashes, max_hamming=3)
    n_hashes = hashes.agg(
        F.lit(-1).cast("long").alias("a"),
        F.lit(-1).cast("long").alias("b"),
        F.countDistinct("ahash").cast("long").alias("hamming"),
    )
    return pairs.unionByName(n_hashes).orderBy("a", "b")


def _image_dedup_sql() -> str:
    pow2 = ", ".join(
        f"({i}, {1 << i}::HUGEINT)" for i in range(64)
    )
    return f"""
WITH docs AS (
  SELECT doc_id, doc_id % 12 AS g, doc_id % 3 AS variant
  FROM documents WHERE doc_id % 19 = 0
),
pix AS (
  SELECT doc_id,
    (y.y // 2) * 8 + (x.x // 2) AS ci,
    CASE WHEN (variant = 1 AND x.x < 2 AND y.y < 2)
           OR (variant = 2 AND ((x.x < 2 AND y.y < 2)
                                OR (x.x >= 14 AND y.y >= 14)))
         THEN 255
         ELSE (x.x * 7 + y.y * 13 + g * 37) % 256 END AS v
  FROM docs,
    (SELECT unnest(range(16)) AS x) x,
    (SELECT unnest(range(16)) AS y) y
),
cells AS (
  SELECT doc_id, ci, SUM(v) // 4 AS cv FROM pix GROUP BY doc_id, ci
),
means AS (SELECT doc_id, SUM(cv) // 64 AS m FROM cells GROUP BY doc_id),
pow2(i, p) AS (VALUES {pow2}),
bits AS (
  SELECT c.doc_id,
    SUM(CASE WHEN c.cv > means.m THEN pow2.p ELSE 0::HUGEINT END) AS u
  FROM cells c JOIN means USING (doc_id) JOIN pow2 ON pow2.i = c.ci
  GROUP BY c.doc_id
),
hashes AS (
  SELECT doc_id,
    CAST(CASE WHEN u >= 9223372036854775808::HUGEINT
              THEN u - 18446744073709551616::HUGEINT
              ELSE u END AS BIGINT) AS ahash
  FROM bits
),
pairs AS (
  SELECT a.doc_id AS a, b.doc_id AS b,
    CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
  FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.ahash, b.ahash)) <= 3
)
SELECT a, b, hamming FROM pairs
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
  CAST(COUNT(DISTINCT ahash) AS BIGINT) FROM hashes
ORDER BY a, b
"""


# ---------------------------------------------------------------- #
# multimodal_audio_energy                                           #
# ---------------------------------------------------------------- #


def multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PCM sample parsing
    (``operators/multimodal.py::pcm_window_energy``): genuine WAVs —
    16-bit mono, 24-BIT mono (3-byte LE assembly + sign extension,
    full ±10⁶ sample range), and STEREO 16-bit (interleaved frames) —
    whose samples are deterministic ramps; the operator parses the
    byte stream with vectorized numpy views and emits per 400-FRAME
    window the exact integer energy Σs² across channels. The oracle
    recomputes every sample and window sum arithmetically — a
    byte-offset, endianness, sign-extension, or channel-interleave
    bug hash-mismatches. Output: per-media window count, total
    frames, total energy; every 7th payload is junk and contributes
    nothing."""
    from deltalake_datafusion_spark.operators.multimodal import (
        build_wav_pcm16,
        pcm_window_energy,
    )

    docs = (
        load_tables(spark, sf_dir, "documents")["documents"]
        .filter(F.col("doc_id") % 23 == 0)
        .select("doc_id")
    )

    def build(it):
        import pandas as pd

        from deltalake_datafusion_spark.operators.multimodal import (
            build_wav_pcm24,
        )

        for pdf in it:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                if did % 7 == 3:
                    payloads.append(b"not riff audio")
                    continue
                n = 500 + (did % 13) * 211
                if did % 5 == 1:
                    # 24-BIT mono: full ±2^23-ish range to catch a
                    # sign-extension or byte-assembly bug
                    s24 = [
                        ((i * 37 + did * 101) % 2000001) - 1000000
                        for i in range(n)
                    ]
                    payloads.append(build_wav_pcm24(s24))
                    continue
                samples = [
                    ((i * 37 + did * 101) % 2001) - 1000
                    for i in range(n)
                ]
                if did % 5 == 3:
                    # STEREO 16-bit: right channel = a second ramp,
                    # interleaved L R L R; windows count FRAMES
                    right = [
                        ((i * 53 + did * 71) % 1777) - 888
                        for i in range(n)
                    ]
                    inter = [
                        v for p_ in zip(samples, right) for v in p_
                    ]
                    payloads.append(
                        build_wav_pcm16(inter, channels=2)
                    )
                    continue
                payloads.append(build_wav_pcm16(samples))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    media = docs.mapInPandas(build, "media_id long, payload binary")
    eng = pcm_window_energy(media, window_frames=400)
    return (
        eng.groupBy("media_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_windows"),
            F.sum("n_frames").cast("long").alias("total_frames"),
            F.sum("sumsq").cast("long").alias("total_energy"),
            F.max("sumsq").cast("long").alias("peak_window_energy"),
        )
        .orderBy("media_id")
    )


_AUDIO_ENERGY_SQL = """
WITH docs AS (
  SELECT doc_id, 500 + (doc_id % 13) * 211 AS n
  FROM documents WHERE doc_id % 23 = 0 AND doc_id % 7 <> 3
),
frames AS (
  -- 16-bit mono
  SELECT doc_id, i.i AS i,
    POWER(((i.i * 37 + doc_id * 101) % 2001) - 1000, 2)::BIGINT AS e
  FROM docs, LATERAL (SELECT unnest(range(n)) AS i) i
  WHERE doc_id % 5 NOT IN (1, 3)
  UNION ALL
  -- 24-bit mono (full-range ramp)
  SELECT doc_id, i.i,
    POWER(((i.i * 37 + doc_id * 101) % 2000001) - 1000000, 2)::BIGINT
  FROM docs, LATERAL (SELECT unnest(range(n)) AS i) i
  WHERE doc_id % 5 = 1
  UNION ALL
  -- stereo 16-bit: per-frame energy = l^2 + r^2
  SELECT doc_id, i.i,
    POWER(((i.i * 37 + doc_id * 101) % 2001) - 1000, 2)::BIGINT
    + POWER(((i.i * 53 + doc_id * 71) % 1777) - 888, 2)::BIGINT
  FROM docs, LATERAL (SELECT unnest(range(n)) AS i) i
  WHERE doc_id % 5 = 3
),
win AS (
  SELECT doc_id, i // 400 AS seg_idx,
    CAST(COUNT(*) AS BIGINT) AS n_frames,
    CAST(SUM(e) AS BIGINT) AS sumsq
  FROM frames GROUP BY doc_id, i // 400
)
SELECT doc_id AS media_id,
  CAST(COUNT(*) AS BIGINT) AS n_windows,
  CAST(SUM(n_frames) AS BIGINT) AS total_frames,
  CAST(SUM(sumsq) AS BIGINT) AS total_energy,
  CAST(MAX(sumsq) AS BIGINT) AS peak_window_energy
FROM win GROUP BY doc_id ORDER BY media_id
"""


# ---------------------------------------------------------------- #
# q_linreg_trend                                                    #
# ---------------------------------------------------------------- #


def q_linreg_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type OLS trend of event value over time, EXACT: the
    closed-form slope ``(n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)`` emitted
    as its integer numerator/denominator pair (x = days since the
    type's first event, y = cents) — covariance and trend direction
    without a single float (Spark's regr_slope sums doubles whose
    value depends on reduction order). Two passes: an O(groups)
    min-date aggregate broadcast back, then ONE map-side-combined
    groupBy accumulating the five sums."""
    ev = load_tables(spark, sf_dir, "events")["events"]
    base = ev.filter(F.col("value").isNotNull()).select(
        "event_type",
        F.to_date("ts").alias("d"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("y"),
    )
    mins = base.groupBy("event_type").agg(F.min("d").alias("d0"))
    xy = base.join(F.broadcast(mins), "event_type").select(
        "event_type",
        F.datediff(F.col("d"), F.col("d0")).cast("long").alias("x"),
        "y",
    )
    agg = xy.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    return agg.select(
        "event_type",
        "n",
        F.expr("n * sxy - sx * sy").alias("slope_num"),
        F.expr("n * sxx - sx * sx").alias("slope_den"),
        F.expr(
            "CASE WHEN n * sxy - sx * sy > 0 THEN 'up' "
            "WHEN n * sxy - sx * sy < 0 THEN 'down' ELSE 'flat' END"
        ).alias("trend"),
    ).orderBy("event_type")


_LINREG_SQL = """
WITH base AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS y
  FROM events WHERE value IS NOT NULL
),
mins AS (SELECT event_type, MIN(d) AS d0 FROM base GROUP BY event_type),
xy AS (
  SELECT b.event_type,
    CAST(datediff('day', m.d0, b.d) AS BIGINT) AS x, b.y
  FROM base b JOIN mins m USING (event_type)
),
agg AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
    CAST(SUM(x * y) AS BIGINT) AS sxy,
    CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM xy GROUP BY event_type
)
SELECT event_type, n,
  CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
  CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
  CASE WHEN n * sxy - sx * sy > 0 THEN 'up'
       WHEN n * sxy - sx * sy < 0 THEN 'down' ELSE 'flat' END AS trend
FROM agg ORDER BY event_type
"""


# ---------------------------------------------------------------- #
# q_gini_concentration                                              #
# ---------------------------------------------------------------- #


def q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (Gini coefficient) per order priority,
    EXACT: over the sorted per-customer revenues the Gini is
    ``(2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx)`` — emitted as its integer
    numerator/denominator pair. Rank comes from one per-priority
    window over the customer aggregate (total order: cents then
    custkey); everything after is a map-side-combined groupBy."""
    o = load_tables(spark, sf_dir, "orders")["orders"]
    per = o.groupBy("o_orderpriority", "o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)))
        .cast("long")
        .alias("cents")
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        "cents", "o_custkey"
    )
    ranked = per.select(
        "o_orderpriority",
        "cents",
        F.row_number().over(w).cast("long").alias("i"),
    )
    return (
        ranked.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("cents").cast("long").alias("total_cents"),
            F.sum(F.col("i") * F.col("cents")).cast("long").alias("sic"),
        )
        .select(
            "o_orderpriority",
            "n_customers",
            "total_cents",
            F.expr("2 * sic - (n_customers + 1) * total_cents").alias(
                "gini_num"
            ),
            F.expr("n_customers * total_cents").alias("gini_den"),
        )
        .orderBy("o_orderpriority")
    )


_GINI_SQL = """
WITH per AS (
  SELECT o_orderpriority, o_custkey,
    CAST(SUM(FLOOR(o_totalprice * 100 + 0.5)) AS BIGINT) AS cents
  FROM orders GROUP BY o_orderpriority, o_custkey
),
ranked AS (
  SELECT o_orderpriority, cents,
    CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY cents, o_custkey) AS BIGINT) AS i
  FROM per
),
agg AS (
  SELECT o_orderpriority,
    CAST(COUNT(*) AS BIGINT) AS n_customers,
    CAST(SUM(cents) AS BIGINT) AS total_cents,
    CAST(SUM(i * cents) AS BIGINT) AS sic
  FROM ranked GROUP BY o_orderpriority
)
SELECT o_orderpriority, n_customers, total_cents,
  CAST(2 * sic - (n_customers + 1) * total_cents AS BIGINT) AS gini_num,
  CAST(n_customers * total_cents AS BIGINT) AS gini_den
FROM agg ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------- #
# pipe_corpus_checksum                                              #
# ---------------------------------------------------------------- #


def pipe_corpus_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent corpus checksum for dataset versioning: per
    shard (doc_id mod 8), the BIT_XOR of the portable 60-bit md5
    row hashes (over id‖text) plus the row count — two corpora are
    byte-identical iff every (shard, checksum, count) row matches,
    regardless of row order, partitioning, or file layout (XOR is
    commutative/associative and cannot overflow at any scale; the
    count catches the one thing XOR misses — rows occurring an even
    number of times). The training-reproducibility primitive: store
    these 8 rows with the model run; re-derive anytime. One
    map-side-combined groupBy."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "\x1f",
                    F.col("doc_id").cast("string"),
                    F.coalesce(F.col("text"), F.lit("")),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return (
        docs.select((F.col("doc_id") % 8).alias("shard"), h.alias("__h"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.expr("bit_xor(__h)").cast("long").alias("checksum"),
        )
        .orderBy("shard")
    )


_CHECKSUM_SQL = """
SELECT doc_id % 8 AS shard,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(BIT_XOR(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                        || chr(31)
                                        || COALESCE(text, '')), 1, 15))
                    AS BIGINT)) AS BIGINT) AS checksum
FROM documents GROUP BY doc_id % 8 ORDER BY shard
"""


# ---------------------------------------------------------------- #
# delta_partition_profile                                           #
# ---------------------------------------------------------------- #


def delta_partition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition table profile computed ENTIRELY from the
    transaction log — file counts, exact row counts (add-file
    numRecords stats), and total bytes per partition value, with
    ZERO data files read (the plan the log's stats exist to enable;
    at 100 TB this answers 'how big is each partition' from
    KB-scale metadata). The oracle recomputes the same profile by
    actually aggregating the source rows — so the log stats are
    value-checked against the data they describe."""
    from deltalake_datafusion_spark.delta.snapshot import load_snapshot
    from deltalake_datafusion_spark.delta.writer import write_delta
    from deltalake_datafusion_spark.queries.delta_tier import _fresh_dir

    c = load_tables(spark, sf_dir, "customer")["customer"]
    path = _fresh_dir("partprofile", sf_dir)
    write_delta(
        spark,
        c.select("c_custkey", "c_mktsegment"),
        path,
        partition_by=["c_mktsegment"],
    )
    snap = load_snapshot(path, spark=spark)
    import json as _json

    rows = []
    for f in snap.files:
        st = _json.loads(f.stats) if f.stats else {}
        rows.append(
            (
                f.partition_values.get("c_mktsegment"),
                int(st.get("numRecords") or 0),
                int(f.size),
            )
        )
    prof = _local_rows_df(
        spark, rows, "c_mktsegment string, n_rows long, n_bytes long"
    )
    return (
        prof.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum("n_rows").cast("long").alias("n_rows"),
            (F.sum("n_bytes") > 0).alias("has_bytes"),
        )
        .orderBy("c_mktsegment")
    )


_PART_PROFILE_SQL = """
SELECT c_mktsegment,
  CAST(1 AS BIGINT) AS n_files,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  TRUE AS has_bytes
FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


# ---------------------------------------------------------------- #
# streaming_late_drop                                               #
# ---------------------------------------------------------------- #


def streaming_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA semantics pinned end to end, one commit
    per micro-batch (maxVersionsPerTrigger=1, processing-time
    trigger, stop when drained): commit 0 streams days 1-5 of
    events; commit 1 a day-10 row that advances the watermark past
    those windows and EVICTS them; commit 2 RE-SENDS every day-1
    event — now beyond the eviction watermark, so the engine must
    DROP them (Spark's late threshold is the watermark used for the
    last state eviction) — plus a day-12 row; commit 3 a day-14 row
    that flushes the day-10 window. The appended result must hold
    days 1-5 EXACTLY ONCE with the original counts plus the single
    day-10 row: un-dropped late data would re-emit day 1 (extra
    row), doubling it; eager dropping would lose days 3-5."""
    from deltalake_datafusion_spark.delta.snapshot import load_snapshot
    from deltalake_datafusion_spark.delta.writer import write_delta
    from deltalake_datafusion_spark.queries.delta_tier import _fresh_dir
    from deltalake_datafusion_spark.streaming.delta_source import (
        register_delta_stream_source,
    )

    ev = load_tables(spark, sf_dir, "events")["events"]
    base = ev.filter(F.col("ts") < "2024-01-06").select(
        "event_id", "ts", "event_type"
    )
    path = _fresh_dir("latedrop", sf_dir)

    def bump(eid: int, ts: str):
        return _local_rows_df(
            spark,
            [(eid, ts, "view")],
            "event_id long, ts string, event_type string",
        ).select(
            "event_id",
            F.col("ts").cast("timestamp").alias("ts"),
            "event_type",
        )

    write_delta(spark, base, path)                          # commit 0
    write_delta(spark, bump(999999999, "2024-01-10 12:00:00"),
                path, mode="append")                        # commit 1
    late = base.filter(F.col("ts") < "2024-01-02")
    write_delta(
        spark,
        late.unionByName(bump(999999998, "2024-01-12 12:00:00")),
        path,
        mode="append",
    )                                                       # commit 2
    write_delta(spark, bump(999999997, "2024-01-14 12:00:00"),
                path, mode="append")                        # commit 3

    register_delta_stream_source(spark)
    snap = load_snapshot(path)
    stream = (
        spark.readStream.format("delta_stream")
        .option("path", path)
        .option("startingVersion", "0")
        .option("maxVersionsPerTrigger", "1")
        .schema(snap.schema)
        .load()
    )
    counts = (
        stream.withWatermark("ts", "2 days")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd").alias("day"),
            "n_events",
        )
    )
    from deltalake_datafusion_spark.streaming.pipeline import (
        scoped_state_partitions,
    )

    import time as _time

    from pyspark.sql.streaming import StreamingQueryListener

    class _SinkRows(StreamingQueryListener):
        """Sink numOutputRows per (query id, batchId) from the listener
        bus: every batch is counted once, however many complete between
        polls (the recentProgress ring buffer keeps only the last 100)."""

        def __init__(self):
            self.rows = {}

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.rows[(str(p.id), p.batchId)] = max(0, p.sink.numOutputRows)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    # Drain detection from the driver-side progress events (append
    # mode ⇒ sink rows add up) — a spark.table().count() poll runs ~3
    # Spark jobs per probe while the stream is still working through
    # its micro-batches.
    sink_rows = _SinkRows()
    spark.streams.addListener(sink_rows)
    try:
        with scoped_state_partitions(spark):
            q = (
                counts.writeStream.format("memory")
                .queryName("q_streaming_late_drop")
                .outputMode("append")
                .trigger(processingTime="25 milliseconds")
                .start()
            )
        deadline = _time.time() + 240
        probe = 0
        while _time.time() < deadline:
            emitted = sum(
                n for (qid, _), n in list(sink_rows.rows.items())
                if qid == q.id
            )
            if emitted >= 6:
                break
            probe += 1
            if probe % 40 == 0:  # safety net if the sink reports -1
                if spark.table("q_streaming_late_drop").count() >= 6:
                    break
            _time.sleep(0.05)
        q.stop()
        q.awaitTermination(60)
    finally:
        spark.streams.removeListener(sink_rows)
    return spark.table("q_streaming_late_drop").orderBy("day")


_LATE_DROP_SQL = """
SELECT day, n_events FROM (
  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
    CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events WHERE ts < '2024-01-06'
  GROUP BY 1
  UNION ALL
  SELECT '2024-01-10', CAST(1 AS BIGINT)
) ORDER BY day
"""


# ---------------------------------------------------------------- #
# pipe_entity_resolution                                            #
# ---------------------------------------------------------------- #

ER_UNROLL = 6  # oracle label-propagation rounds (clusters are tiny)


def pipe_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution END TO END — the MDM pipeline assembled
    from the repo's operators: deterministic duplicate records are
    planted (every 7th customer gets a typo'd twin: first name char
    replaced, +123 cents), then deletion-neighborhood FUZZY blocking
    + exact Levenshtein verify (complete at distance ≤ 1) finds
    match pairs, CONNECTED COMPONENTS clusters them, and
    SURVIVORSHIP keeps each cluster's (cents, id)-max record.
    Names are md5-hex so unrelated records don't collide at
    distance 1. Output: input/pair/entity counts + the exact
    survivor cents sum; the oracle replays blocking as the all-pairs
    Levenshtein truth and unrolls label propagation — so blocking
    completeness AND clustering AND survivorship are all
    value-checked."""
    from deltalake_datafusion_spark.operators.fuzzy import (
        fuzzy_near_duplicates,
    )
    from deltalake_datafusion_spark.operators.graph import (
        connected_components,
    )

    c = load_tables(spark, sf_dir, "customer")["customer"]
    base = c.filter(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").alias("id"),
        F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 12).alias(
            "name"
        ),
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    dupes = base.filter(F.col("id") % 7 == 0).select(
        (F.col("id") + 10000000).alias("id"),
        F.concat(F.lit("z"), F.substring("name", 2, 11)).alias("name"),
        (F.col("cents") + 123).alias("cents"),
    )
    recs = base.unionByName(dupes).localCheckpoint(eager=True)
    pairs = fuzzy_near_duplicates(recs, "id", "name", max_dist=1)
    comp = connected_components(pairs, "id_a", "id_b")
    labeled = recs.join(
        comp.withColumnRenamed("id", "rid"),
        recs["id"] == F.col("rid"),
        "left",
    ).select(
        "id",
        "cents",
        F.coalesce("comp", recs["id"]).alias("entity"),
    )
    survivors = labeled.groupBy("entity").agg(
        F.max("cents").alias("best_cents"),
        F.count(F.lit(1)).cast("long").alias("sz"),
    )
    return (
        survivors.agg(
            F.count(F.lit(1)).cast("long").alias("n_entities"),
            F.sum("sz").cast("long").alias("n_input"),
            F.sum(F.when(F.col("sz") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_merged_entities"),
            F.sum("best_cents").cast("long").alias("survivor_cents"),
        )
    )


def _er_sql(rounds: int = ER_UNROLL) -> str:
    parts = [
        """
WITH base AS (
  SELECT c_custkey AS id,
    substr(md5(CAST(c_custkey AS VARCHAR)), 1, 12) AS name,
    CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
  FROM customer WHERE c_custkey % 3 = 0
),
recs AS (
  SELECT * FROM base
  UNION ALL
  SELECT id + 10000000, 'z' || substr(name, 2, 11), cents + 123
  FROM base WHERE id % 7 = 0
),
pairs AS (
  SELECT a.id AS ia, b.id AS ib
  FROM recs a JOIN recs b ON a.id < b.id
  WHERE abs(length(a.name) - length(b.name)) <= 1
    AND levenshtein(a.name, b.name) <= 1
),
l0 AS (
  SELECT id, LEAST(id, MIN(nb)) AS lbl FROM (
    SELECT ia AS id, ib AS nb FROM pairs
    UNION ALL SELECT ib, ia FROM pairs
  ) GROUP BY id
)"""
    ]
    for t in range(1, rounds + 1):
        parts.append(
            f""",
l{t} AS (
  SELECT n.id, LEAST(n.lbl, COALESCE(MIN(p.lbl), n.lbl)) AS lbl
  FROM l{t - 1} n
  LEFT JOIN (
    SELECT ia AS id, ib AS nb FROM pairs
    UNION ALL SELECT ib, ia FROM pairs
  ) e ON e.id = n.id
  LEFT JOIN l{t - 1} p ON p.id = e.nb
  GROUP BY n.id, n.lbl
)"""
        )
    parts.append(
        f""",
labeled AS (
  SELECT r.id, r.cents, COALESCE(l.lbl, r.id) AS entity
  FROM recs r LEFT JOIN l{rounds} l ON l.id = r.id
),
surv AS (
  SELECT entity,
    MAX(cents) AS best_cents,
    CAST(COUNT(*) AS BIGINT) AS sz
  FROM labeled GROUP BY entity
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_entities,
  CAST(SUM(sz) AS BIGINT) AS n_input,
  CAST(SUM(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_merged_entities,
  CAST(SUM(best_cents) AS BIGINT) AS survivor_cents
FROM surv"""
    )
    return "".join(parts)


# ---------------------------------------------------------------- #
# pipe_dataset_card                                                 #
# ---------------------------------------------------------------- #


def pipe_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row DATASET CARD for the documents corpus — the summary
    every published training set ships: doc/token counts, exact
    duplicate rate (fingerprint distinct), predicted-English share,
    and average length as an exact (num, den) pair — composed from
    the repo's language-ID and fingerprint operators in ONE pass
    (single wide aggregate, two distinct-aggregates; no extra scans).
    The oracle replays the same heuristics, so the card's numbers
    are value-checked, not just plausible."""
    from deltalake_datafusion_spark.operators.text import (
        fingerprint,
        language_id,
    )

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    toks = F.size(
        F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    ).cast("long")
    marked = docs.select(
        F.lit(1).alias("one"),
        F.when(F.col("text").isNotNull(), toks)
        .otherwise(F.lit(0))
        .alias("n_tokens"),
        language_id(F.col("text")).alias("pred"),
        fingerprint(F.col("text")).alias("fp"),
    )
    return marked.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.countDistinct("fp").cast("long").alias("n_unique_docs"),
        F.sum(F.when(F.col("pred") == "en", 1).otherwise(0))
        .cast("long")
        .alias("n_pred_en"),
        F.countDistinct("pred").cast("long").alias("n_pred_langs"),
    ).select(
        "n_docs",
        "total_tokens",
        "n_unique_docs",
        (F.col("n_docs") - F.col("n_unique_docs")).alias("n_exact_dups"),
        F.expr("n_pred_en * 1000000L div n_docs").alias("pred_en_ppm"),
        "n_pred_langs",
    )


def _dataset_card_sql() -> str:
    from deltalake_datafusion_spark.operators.text import STOPWORDS
    from deltalake_datafusion_spark.queries.pipeline import (
        _NORM,
        _WORDS,
        _sw_score,
    )

    en = _sw_score(STOPWORDS["en"])
    es = _sw_score(STOPWORDS["es"])
    de = _sw_score(STOPWORDS["de"])
    fr = _sw_score(STOPWORDS["fr"])
    return f"""
WITH marked AS (
  SELECT
    CASE WHEN text IS NULL THEN 0
         ELSE len(list_filter(string_split(text, ' '), x -> x <> ''))
         END AS n_tokens,
    md5({_NORM}) AS fp,
    CASE WHEN len(regexp_extract_all(text, '[一-鿿]')) * 2
              > length(text) THEN 'zh'
         WHEN greatest({en}, {es}, {de}, {fr}) = 0 THEN 'und'
         WHEN {en} >= {es} AND {en} >= {de} AND {en} >= {fr} THEN 'en'
         WHEN {es} >= {de} AND {es} >= {fr} THEN 'es'
         WHEN {de} >= {fr} THEN 'de'
         ELSE 'fr' END AS pred
  FROM documents
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
  CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique_docs,
  CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT) AS n_exact_dups,
  CAST(SUM(CASE WHEN pred = 'en' THEN 1 ELSE 0 END) * 1000000
       // COUNT(*) AS BIGINT) AS pred_en_ppm,
  CAST(COUNT(DISTINCT pred) AS BIGINT) AS n_pred_langs
FROM marked
"""


# ---------------------------------------------------------------- #
# q_hll_rollup                                                      #
# ---------------------------------------------------------------- #


def q_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch ROLLUP HIERARCHY — the 100 TB distinct-count pattern:
    build (day, hour) HLL register rows ONCE over the first week of
    events, then answer daily AND overall distinct-user questions
    purely by MERGING registers (element-wise max — lossless,
    pytest-pinned) with zero raw re-reads. Exact distincts sit
    beside the estimates; the oracle recomputes registers per level
    directly, which equals the merged hierarchy by associativity of
    max. This is why sketch state persists as rows: yesterday's
    hourly sketches answer this quarter's questions."""
    from deltalake_datafusion_spark.operators.sketches import (
        hll_estimate,
        hll_sketch,
    )

    ev = (
        load_tables(spark, sf_dir, "events")["events"]
        .filter(F.col("ts") < "2024-01-08")
        .select(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            F.hour("ts").alias("hr"),
            "user_id",
        )
    )
    hourly = hll_sketch(ev, "user_id", ["day", "hr"]).localCheckpoint(
        eager=True
    )
    daily = hourly.groupBy("day", "idx").agg(F.max("reg").alias("reg"))
    overall = (
        hourly.withColumn("day", F.lit("ALL"))
        .groupBy("day", "idx")
        .agg(F.max("reg").alias("reg"))
    )
    est = hll_estimate(daily.unionByName(overall), ["day"])
    ex_day = ev.groupBy("day").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact")
    )
    ex_all = ev.agg(
        F.lit("ALL").alias("day"),
        F.countDistinct("user_id").cast("long").alias("n_exact"),
    )
    return (
        est.join(ex_day.unionByName(ex_all), "day")
        .select("day", "n_exact",
                F.round("n_distinct_est", 4).alias("hll_est"))
        .orderBy("day")
    )


def _hll_rollup_sql() -> str:
    from deltalake_datafusion_spark.queries.web import (
        _hll_estimate_tail_sql,
    )

    return f"""
WITH ev AS (
  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, user_id
  FROM events WHERE ts < '2024-01-08'
),
h AS (
  SELECT day AS grp,
    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
         AS BIGINT) AS h
  FROM ev WHERE user_id IS NOT NULL
  UNION ALL
  SELECT 'ALL',
    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
         AS BIGINT)
  FROM ev WHERE user_id IS NOT NULL
),
{_hll_estimate_tail_sql()},
exact AS (
  SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM ev GROUP BY day
  UNION ALL
  SELECT 'ALL', CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM ev
)
SELECT exact.day, n_exact, ROUND(e, 4) AS hll_est
FROM exact JOIN est ON est.grp = exact.day
ORDER BY exact.day
"""


# ---------------------------------------------------------------- #
# q_seasonality                                                     #
# ---------------------------------------------------------------- #


def q_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonality profile: event counts + exact revenue
    cents per (day-of-week, 6-hour bucket). Day-of-week computed
    from EPOCH-DAY ARITHMETIC (``(days + 4) mod 7``, 0=Sunday) —
    engine calendars disagree on dow numbering (Spark 1=Sunday,
    DuckDB 0=Sunday, isodow 1=Monday), integer arithmetic doesn't.
    One map-side-combined groupBy over a 28-cell grid."""
    ev = load_tables(spark, sf_dir, "events")["events"]
    dow = F.pmod(F.datediff(F.to_date("ts"), F.lit("1970-01-01")) + 4, 7)
    return (
        ev.filter(F.col("ts").isNotNull())
        .groupBy(
            dow.cast("long").alias("dow"),
            (F.hour("ts") / 6).cast("long").alias("hour_bucket"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(
                F.floor(
                    F.coalesce(F.col("value"), F.lit(0.0)) * 100
                    + F.lit(0.5)
                )
            )
            .cast("long")
            .alias("cents"),
        )
        .orderBy("dow", "hour_bucket")
    )


_SEASONALITY_SQL = """
SELECT
  CAST((datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 4) % 7
       AS BIGINT) AS dow,
  CAST(EXTRACT(hour FROM ts) // 6 AS BIGINT) AS hour_bucket,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(SUM(FLOOR(COALESCE(value, 0) * 100 + 0.5)) AS BIGINT) AS cents
FROM events WHERE ts IS NOT NULL
GROUP BY 1, 2 ORDER BY dow, hour_bucket
"""


# ---------------------------------------------------------------- #
# text_readability                                                  #
# ---------------------------------------------------------------- #


def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch–Kincaid grade level as an EXACT RATIONAL: per doc the
    word count, sentence count (., !, ? runs; min 1), and syllable
    estimate (vowel groups per word — the standard approximation),
    then ``100·grade = (39·W² + 1180·Syl·Snt − 1559·Snt·W) /
    (Snt·W)`` emitted as the integer (num, den) pair — the readability
    gate of quality pipelines without a float in the contract. Pure
    expression tree (regexp counts), one scan; doc_id < 30 for a
    bounded result."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    words = F.size(
        F.filter(F.split(F.lower("text"), "[^a-z0-9]+"), lambda x: x != "")
    ).cast("long")
    sentences = F.greatest(
        F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")).cast(
            "long"
        ),
        F.lit(1).cast("long"),
    )
    syllables = F.size(
        F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")
    ).cast("long")
    base = docs.filter(
        F.col("text").isNotNull() & (F.col("doc_id") < 30)
    ).select(
        "doc_id",
        words.alias("w"),
        sentences.alias("snt"),
        syllables.alias("syl"),
    ).filter(F.col("w") > 0)
    return base.select(
        "doc_id",
        "w",
        "snt",
        "syl",
        (
            F.lit(39) * F.col("w") * F.col("w")
            + F.lit(1180) * F.col("syl") * F.col("snt")
            - F.lit(1559) * F.col("snt") * F.col("w")
        ).alias("grade_num_x100"),
        (F.col("snt") * F.col("w")).alias("grade_den"),
    ).orderBy("doc_id")


_READABILITY_SQL = """
WITH base AS (
  SELECT doc_id,
    CAST(len(list_filter(regexp_split_to_array(lower(text),
                                               '[^a-z0-9]+'),
                         x -> x <> '')) AS BIGINT) AS w,
    GREATEST(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT),
             1) AS snt,
    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
         AS BIGINT) AS syl
  FROM documents WHERE text IS NOT NULL AND doc_id < 30
)
SELECT doc_id, w, snt, syl,
  CAST(39 * w * w + 1180 * syl * snt - 1559 * snt * w
       AS BIGINT) AS grade_num_x100,
  CAST(snt * w AS BIGINT) AS grade_den
FROM base WHERE w > 0 ORDER BY doc_id
"""


# ---------------------------------------------------------------- #
# q_new_vs_returning                                                #
# ---------------------------------------------------------------- #


def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-vs-returning user split per day — the product-analytics
    staple: a user's FIRST-ever event day marks them new that day,
    returning after (min-ts window per user, then one day rollup);
    exact revenue cents per segment beside the counts. Two shuffles
    (per-user window + day rollup), both map-side combined."""
    ev = load_tables(spark, sf_dir, "events")["events"]
    w = Window.partitionBy("user_id")
    marked = ev.filter(F.col("ts").isNotNull()).select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.when(
            F.to_date("ts") == F.to_date(F.min("ts").over(w)), "new"
        )
        .otherwise("returning")
        .alias("segment"),
        F.floor(F.coalesce(F.col("value"), F.lit(0.0)) * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    return (
        marked.filter(F.col("day") < "2024-01-08")
        .groupBy("day", "segment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .orderBy("day", "segment")
    )


_NEW_RETURNING_SQL = """
WITH marked AS (
  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
    CASE WHEN CAST(ts AS DATE) =
              CAST(MIN(ts) OVER (PARTITION BY user_id) AS DATE)
         THEN 'new' ELSE 'returning' END AS segment,
    CAST(FLOOR(COALESCE(value, 0) * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE ts IS NOT NULL
)
SELECT day, segment,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(SUM(cents) AS BIGINT) AS cents
FROM marked WHERE day < '2024-01-08'
GROUP BY day, segment ORDER BY day, segment
"""


# ---------------------------------------------------------------- #
# q_cohort_ltv                                                      #
# ---------------------------------------------------------------- #

LTV_BUCKET = 7 * 86400  # weekly cohorts, epoch-aligned


def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LIFETIME-VALUE curve — the revenue companion to the
    retention matrix: users cohort by the epoch-aligned week of
    their first event (pmod-adjusted FLOOR division, the repo's
    pre-1970-safe bucketing); per (cohort, week offset) the exact
    purchase cents, then the CUMULATIVE LTV per cohort as a running
    sum window — all integer. Plan: one per-user min window, one
    (cohort, offset) rollup, one tiny per-cohort running-sum
    window."""
    ev = load_tables(spark, sf_dir, "events")["events"]
    b = LTV_BUCKET
    epoch = F.expr("unix_micros(ts) div 1000000")
    bucket = F.expr(
        f"(unix_micros(ts) div 1000000 - pmod(unix_micros(ts)"
        f" div 1000000, {b})) div {b}"
    )
    base = ev.filter(F.col("ts").isNotNull()).select(
        "user_id",
        bucket.cast("long").alias("bkt"),
        F.when(
            F.col("event_type") == "purchase",
            F.floor(F.coalesce(F.col("value"), F.lit(0.0)) * 100
                    + F.lit(0.5)),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("cents"),
    )
    w_user = Window.partitionBy("user_id")
    marked = base.select(
        (F.col("bkt") - F.min("bkt").over(w_user)).alias("offset"),
        F.min("bkt").over(w_user).alias("cohort"),
        "cents",
    )
    per = marked.groupBy("cohort", "offset").agg(
        F.sum("cents").cast("long").alias("cents")
    )
    w_run = (
        Window.partitionBy("cohort")
        .orderBy("offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return per.select(
        "cohort",
        "offset",
        "cents",
        F.sum("cents").over(w_run).cast("long").alias("cum_ltv_cents"),
    ).orderBy("cohort", "offset")


_COHORT_LTV_SQL = f"""
WITH base AS (
  SELECT user_id,
    (epoch(ts)::BIGINT - ((epoch(ts)::BIGINT % {LTV_BUCKET}
      + {LTV_BUCKET}) % {LTV_BUCKET})) / {LTV_BUCKET} AS bkt,
    CASE WHEN event_type = 'purchase'
         THEN CAST(FLOOR(COALESCE(value, 0) * 100 + 0.5) AS BIGINT)
         ELSE 0 END AS cents
  FROM events WHERE ts IS NOT NULL
),
marked AS (
  SELECT CAST(bkt - MIN(bkt) OVER (PARTITION BY user_id) AS BIGINT)
           AS "offset",
    CAST(MIN(bkt) OVER (PARTITION BY user_id) AS BIGINT) AS cohort,
    cents
  FROM base
),
per AS (
  SELECT cohort, "offset", CAST(SUM(cents) AS BIGINT) AS cents
  FROM marked GROUP BY cohort, "offset"
)
SELECT cohort, "offset", cents,
  CAST(SUM(cents) OVER (PARTITION BY cohort ORDER BY "offset"
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       AS BIGINT) AS cum_ltv_cents
FROM per ORDER BY cohort, "offset"
"""


# ---------------------------------------------------------------- #
# q_share_of_total                                                  #
# ---------------------------------------------------------------- #


def q_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each market segment's share of its region's
    revenue, integer ppm via a partition-total window over the
    (region, segment) aggregate — the percent-of-total window
    pattern with zero extra scans (the denominator reuses the
    aggregate, not the base table)."""
    t = load_tables(spark, sf_dir, "customer", "nation")
    per = (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_regionkey").alias("region"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(
            F.sum(F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)))
            .cast("long")
            .alias("cents")
        )
    )
    w = Window.partitionBy("region")
    return per.select(
        "region",
        "segment",
        "cents",
        F.expr(
            "cents * 1000000L div sum(cents) over"
            " (partition by region)"
        ).alias("share_ppm"),
    ).orderBy("region", "segment")


_SHARE_SQL = """
WITH per AS (
  SELECT n.n_regionkey AS region, c.c_mktsegment AS segment,
    CAST(SUM(FLOOR(c.c_acctbal * 100 + 0.5)) AS BIGINT) AS cents
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
)
SELECT region, segment, cents,
  CAST(cents * 1000000 // SUM(cents) OVER (PARTITION BY region)
       AS BIGINT) AS share_ppm
FROM per ORDER BY region, segment
"""
