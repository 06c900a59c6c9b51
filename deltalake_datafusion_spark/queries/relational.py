"""Relational-tier queries: the surface the reference delegates to
embedded DataFusion (reference:
``crates/datafusion/src/sql/parser.rs:471-483``,
``crates/datafusion/src/planner.rs:121-133``), re-expressed as Spark
DataFrame plans so Catalyst/Tungsten execute them.

Coverage mirrors SURVEY.md §2.2: projection/filter, all join types,
hash + DISTINCT aggregation, ROLLUP/CUBE/GROUPING SETS, ranking /
analytic / frame windows, sort + top-k, set operations, the scalar
function library, subqueries, CTE/VALUES, approximate and exact
percentile aggregates, and JSON extraction.

Cross-engine determinism convention: every aggregate over a DOUBLE
measure casts to DECIMAL(12,2) first (exact arithmetic in both Spark
and the DuckDB oracle), sums exactly, and casts the final result to
DOUBLE — so value hashes match bit-for-bit regardless of partial-agg
ordering. Averages are expressed as exact-sum / count. Top-k queries
carry a unique tie-break key.

Scale notes (100 TB): joins keep dimension tables on the build side
and let AQE pick broadcast; `region`/`nation` are explicitly
broadcast. Window queries partition by high-cardinality keys
(customer, user) so state per partition stays small. No collect()
anywhere; everything is a single declarative plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from deltalake_datafusion_spark.queries import QuerySpec, load_tables
from deltalake_datafusion_spark.delta.smalldf import local_rows_df as _local_rows_df

# ---------------------------------------------------------------- helpers

_ONE = "CAST(1 AS DECIMAL(12,2))"


def _dec(c: str):
    """Exact 2-dp decimal view of a double measure column."""
    return F.col(c).cast("decimal(12,2)")


def _one():
    return F.lit(1).cast("decimal(12,2)")


def _dsum(col, alias: str):
    return F.sum(col).cast("double").alias(alias)


def _D(c: str) -> str:
    return f"CAST({c} AS DECIMAL(12,2))"


def _rev_col():
    """l_extendedprice * (1 - l_discount), exact decimal."""
    return _dec("l_extendedprice") * (_one() - _dec("l_discount"))


_REV_SQL = f"{_D('l_extendedprice')} * ({_ONE} - {_D('l_discount')})"


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir, "events")["events"]


# ---------------------------------------------------------------- queries


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: scan-heavy filter + hash aggregation (map-side partials)."""
    t = load_tables(spark, sf_dir, "lineitem")
    l = t["lineitem"].filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
    n = F.count(F.lit(1))
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(_dec("l_quantity"), "sum_qty"),
            _dsum(_dec("l_extendedprice"), "sum_base_price"),
            _dsum(_rev_col(), "sum_disc_price"),
            _dsum(_rev_col() * (_one() + _dec("l_tax")), "sum_charge"),
            (F.sum(_dec("l_quantity")).cast("double") / n).alias("avg_qty"),
            (F.sum(_dec("l_extendedprice")).cast("double") / n).alias("avg_price"),
            (F.sum(_dec("l_discount")).cast("double") / n).alias("avg_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
  CAST(SUM({_D('l_quantity')}) AS DOUBLE) AS sum_qty,
  CAST(SUM({_D('l_extendedprice')}) AS DOUBLE) AS sum_base_price,
  CAST(SUM({_REV_SQL}) AS DOUBLE) AS sum_disc_price,
  CAST(SUM({_REV_SQL} * ({_ONE} + {_D('l_tax')})) AS DOUBLE) AS sum_charge,
  CAST(SUM({_D('l_quantity')}) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(SUM({_D('l_extendedprice')}) AS DOUBLE) / COUNT(*) AS avg_price,
  CAST(SUM({_D('l_discount')}) AS DOUBLE) / COUNT(*) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + agg + top-k (TakeOrderedAndProject)."""
    t = load_tables(spark, sf_dir, "customer", "orders", "lineitem")
    cutoff = F.lit("1997-03-15").cast("timestamp")
    c = t["customer"].filter(F.col("c_mktsegment") == "BUILDING")
    o = t["orders"].filter(F.col("o_orderdate") < cutoff)
    l = t["lineitem"].filter(F.col("l_shipdate") > cutoff)
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_dsum(_rev_col(), "revenue"))
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


_Q3_SQL = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
  CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-03-15'
  AND l_shipdate > TIMESTAMP '1997-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join; tiny dims broadcast explicitly."""
    t = load_tables(
        spark, sf_dir, "customer", "orders", "lineitem", "supplier", "nation", "region"
    )
    r = F.broadcast(t["region"].filter(F.col("r_name") == "ASIA"))
    n = F.broadcast(t["nation"])
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1997-01-01").cast("timestamp")
    o = t["orders"].filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
    return (
        t["customer"]
        .join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(t["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            t["supplier"],
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(_dsum(_rev_col(), "revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


_Q5_SQL = f"""
SELECT n_name, CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue
FROM customer
  JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON o_orderkey = l_orderkey
  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure filter + global agg — pushdown showcase."""
    t = load_tables(spark, sf_dir, "lineitem")
    l = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.02)
        & (F.col("l_discount") <= 0.06)
        & (F.col("l_quantity") < 24)
    )
    return l.agg(_dsum(_dec("l_extendedprice") * _dec("l_discount"), "revenue"))


_Q6_SQL = f"""
SELECT CAST(SUM({_D('l_extendedprice')} * {_D('l_discount')}) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.02 AND l_discount <= 0.06 AND l_quantity < 24
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: 4-way join + group + top-k."""
    t = load_tables(spark, sf_dir, "customer", "orders", "lineitem", "nation")
    lo = F.lit("1996-10-01").cast("timestamp")
    hi = F.lit("1997-01-01").cast("timestamp")
    o = t["orders"].filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
    l = t["lineitem"].filter(F.col("l_returnflag") == "R")
    return (
        t["customer"]
        .join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(l, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(_dsum(_rev_col(), "revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


_Q10_SQL = f"""
SELECT c_custkey, c_name, n_name, c_acctbal,
  CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue
FROM customer
  JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON o_orderkey = l_orderkey
  JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-10-01' AND o_orderdate < TIMESTAMP '1997-01-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name, c_acctbal
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: join + conditional aggregation ratio."""
    t = load_tables(spark, sf_dir, "lineitem", "part")
    lo = F.lit("1996-03-01").cast("timestamp")
    hi = F.lit("1996-04-01").cast("timestamp")
    l = t["lineitem"].filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
    joined = l.join(t["part"], F.col("l_partkey") == F.col("p_partkey"))
    promo = F.when(F.col("p_type") == "PROMO", _rev_col()).otherwise(
        F.lit(0).cast("decimal(12,2)")
    )
    return joined.agg(
        (
            F.lit(100.0)
            * F.sum(promo).cast("double")
            / F.sum(_rev_col()).cast("double")
        ).alias("promo_revenue_pct")
    )


_Q14_SQL = f"""
SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_REV_SQL}
                             ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
       / CAST(SUM({_REV_SQL}) AS DOUBLE) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01' AND l_shipdate < TIMESTAMP '1996-04-01'
"""


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING subquery as semi join against an agg."""
    t = load_tables(spark, sf_dir, "customer", "orders", "lineitem")
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("q"))
        .filter(F.col("q") > 300)
        .select("l_orderkey")
    )
    return (
        t["orders"]
        .join(big, F.col("o_orderkey") == big.l_orderkey, "left_semi")
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(t["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(_dsum(_dec("l_quantity"), "sum_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


_Q18_SQL = f"""
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
  CAST(SUM({_D('l_quantity')}) AS DOUBLE) AS sum_qty
FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey HAVING SUM({_D('l_quantity')}) > 300)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY + LIMIT → Spark plans TakeOrderedAndProject (no full sort)."""
    t = load_tables(spark, sf_dir, "orders")
    return (
        t["orders"]
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(10)
    )


_QTOPK_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""


def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window: top-3 orders per customer by price."""
    t = load_tables(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        t["orders"]
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
        )
        .filter(F.col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    )


_QWRANK_SQL = """
SELECT * FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn,
    RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders) t
WHERE rn <= 3 ORDER BY o_custkey, rn
"""


def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame window: per-customer running revenue + lag (exact decimal)."""
    t = load_tables(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wl = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return t["orders"].select(
        "o_custkey",
        "o_orderkey",
        F.sum(_dec("o_totalprice")).over(w).cast("double").alias("running_spend"),
        F.lag("o_totalprice", 1).over(wl).alias("prev_price"),
        F.lead("o_totalprice", 1).over(wl).alias("next_price"),
    )


_QWRUN_SQL = f"""
SELECT o_custkey, o_orderkey,
  CAST(SUM({_D('o_totalprice')}) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
  LAG(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
  LEAD(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_price
FROM orders
"""


def q_events_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window over the event stream: inter-event gaps per user."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = e.select(
        "user_id",
        (F.unix_millis("ts") - F.lag(F.unix_millis("ts"), 1).over(w)).alias("gap_ms"),
    )
    return (
        g.groupBy("user_id")
        .agg(
            F.count("gap_ms").alias("n_gaps"),
            F.sum("gap_ms").alias("total_gap_ms"),
            F.max("gap_ms").alias("max_gap_ms"),
        )
        .orderBy("user_id")
    )


_QGAP_SQL = """
SELECT user_id, COUNT(gap_ms) AS n_gaps,
       CAST(SUM(gap_ms) AS BIGINT) AS total_gap_ms, MAX(gap_ms) AS max_gap_ms
FROM (
  SELECT user_id,
    epoch_ms(CAST(ts AS TIMESTAMP))
      - LAG(epoch_ms(CAST(ts AS TIMESTAMP)), 1)
        OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS gap_ms
  FROM events) t
GROUP BY user_id ORDER BY user_id
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min): classic stream-to-session rollup."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_millis("ts") - F.lag(F.unix_millis("ts"), 1).over(w)
    g = e.select("user_id", gap.alias("gap_ms"))
    return (
        g.groupBy("user_id")
        .agg(
            (
                F.lit(1)
                + F.sum(F.when(F.col("gap_ms") > 1800000, 1).otherwise(0))
            ).alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


_QSESS_SQL = """
SELECT user_id,
  CAST(1 + SUM(CASE WHEN gap_ms > 1800000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
  COUNT(*) AS n_events
FROM (
  SELECT user_id,
    epoch_ms(CAST(ts AS TIMESTAMP))
      - LAG(epoch_ms(CAST(ts AS TIMESTAMP)), 1)
        OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS gap_ms
  FROM events) t
GROUP BY user_id ORDER BY user_id
"""


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT over yearly active-customer sets."""
    t = load_tables(spark, sf_dir, "orders")
    o = t["orders"]

    def custs(year: int) -> DataFrame:
        return (
            o.filter(F.year("o_orderdate") == year).select("o_custkey").distinct()
        )

    a, b = custs(1996), custs(1997)
    rows = [
        a.intersect(b).agg(F.count(F.lit(1)).alias("n")).select(
            F.lit("both").alias("op"), "n"
        ),
        a.subtract(b).agg(F.count(F.lit(1)).alias("n")).select(
            F.lit("only_1996").alias("op"), "n"
        ),
        a.union(b).distinct().agg(F.count(F.lit(1)).alias("n")).select(
            F.lit("either").alias("op"), "n"
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("op")


_QSET_SQL = """
WITH a AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996),
     b AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997)
SELECT 'both' AS op, COUNT(*) AS n FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
UNION ALL
SELECT 'only_1996', COUNT(*) FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
UNION ALL
SELECT 'either', COUNT(*) FROM (SELECT * FROM a UNION SELECT * FROM b)
ORDER BY op
"""


def q_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT aggregates (expand + two-phase agg in Spark)."""
    t = load_tables(spark, sf_dir, "lineitem")
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct("l_partkey").alias("n_part"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


_QDIST_SQL = """
SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS n_supp,
       COUNT(DISTINCT l_partkey) AS n_part, COUNT(*) AS n_rows
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals."""
    t = load_tables(spark, sf_dir, "orders")
    return (
        t["orders"]
        .rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dsum(_dec("o_totalprice"), "total"),
        )
        .orderBy(
            F.col("o_orderpriority").asc_nulls_first(),
            F.col("o_orderstatus").asc_nulls_first(),
        )
    )


_QROLLUP_SQL = f"""
SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
  CAST(SUM({_D('o_totalprice')}) AS DOUBLE) AS total
FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
ORDER BY o_orderpriority ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST
"""


def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions."""
    t = load_tables(spark, sf_dir, "lineitem")
    return (
        t["lineitem"]
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), _dsum(_dec("l_quantity"), "qty"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


_QCUBE_SQL = f"""
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
  CAST(SUM({_D('l_quantity')}) AS DOUBLE) AS qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via the SQL entry point (Spark SQL parser)."""
    load_tables(spark, sf_dir, "orders")
    return spark.sql(
        f"""
        SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
          CAST(SUM({_D('o_totalprice')}) AS DOUBLE) AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
        ORDER BY o_orderpriority ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST
        """
    )


_QGSETS_SQL = f"""
SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
  CAST(SUM({_D('o_totalprice')}) AS DOUBLE) AS total
FROM orders GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
ORDER BY o_orderpriority ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST
"""


def q_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar function library: string / date / math / conditional."""
    t = load_tables(spark, sf_dir, "orders")
    o = t["orders"].filter(F.col("o_orderkey") < 1000)
    return o.select(
        "o_orderkey",
        F.substring("o_orderpriority", 1, 1).alias("pri_code"),
        F.upper("o_orderstatus").alias("status_u"),
        F.concat(F.col("o_orderstatus"), F.lit("-"), F.col("o_orderpriority")).alias(
            "tag"
        ),
        F.length("o_orderpriority").alias("pri_len"),
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        F.floor(F.col("o_totalprice") / 100).alias("price_bucket"),
        F.abs(F.col("o_totalprice") - 50000.0).alias("dist_from_50k"),
        F.when(F.col("o_totalprice") > 100000, "big")
        .when(F.col("o_totalprice") > 10000, "mid")
        .otherwise("small")
        .alias("size_class"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("NOTP")).alias(
            "status_or_default"
        ),
    ).orderBy("o_orderkey")


_QSCALAR_SQL = """
SELECT o_orderkey,
  substr(o_orderpriority, 1, 1) AS pri_code,
  upper(o_orderstatus) AS status_u,
  o_orderstatus || '-' || o_orderpriority AS tag,
  length(o_orderpriority) AS pri_len,
  CAST(year(o_orderdate) AS INT) AS yr,
  CAST(month(o_orderdate) AS INT) AS mo,
  date_trunc('month', o_orderdate) AS month_start,
  CAST(floor(o_totalprice / 100) AS BIGINT) AS price_bucket,
  abs(o_totalprice - 50000.0) AS dist_from_50k,
  CASE WHEN o_totalprice > 100000 THEN 'big'
       WHEN o_totalprice > 10000 THEN 'mid' ELSE 'small' END AS size_class,
  coalesce(nullif(o_orderstatus, 'P'), 'NOTP') AS status_or_default
FROM orders WHERE o_orderkey < 1000 ORDER BY o_orderkey
"""


def q_salted_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-immune join + aggregation: lineitem⋈orders through
    salted_join (hot orderkeys spread over 16 salted partitions) and
    revenue per priority through salted_two_phase_agg — both rewrites
    are result-identical to the plain forms, which is exactly what the
    oracle checks."""
    from deltalake_datafusion_spark.operators.skew import (
        salted_join,
        salted_two_phase_agg,
    )

    t = load_tables(spark, sf_dir, "orders", "lineitem")
    li = t["lineitem"].select(
        F.col("l_orderkey").alias("o_orderkey"), "l_extendedprice"
    )
    j = salted_join(li, t["orders"].select("o_orderkey", "o_orderpriority"),
                    on=["o_orderkey"], salt=16)
    return salted_two_phase_agg(
        j,
        ["o_orderpriority"],
        [
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("s"),
            F.count(F.lit(1)).alias("c"),
        ],
        [
            F.sum("s").cast("double").alias("revenue"),
            F.sum("c").alias("n_items"),
        ],
        salt=16,
    ).orderBy("o_orderpriority")


_SALTED_SQL = """
SELECT o_orderpriority,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
  COUNT(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-amortized fact⋈dim join: both sides persisted bucketed
    on the join key (the write pays the one shuffle), then joined and
    aggregated with zero Exchange in the join plan
    (``tests/test_plan_quality.py::test_bucketed_join_has_no_exchange``
    guards the plan shape). Result-identical to the plain join, which
    is what the oracle checks."""
    import os
    import shutil

    from deltalake_datafusion_spark.operators.colocate import (
        read_bucketed_join,
        write_bucketed,
    )

    t = load_tables(spark, sf_dir, "orders", "customer")
    base = os.path.join(
        "/tmp/ddl_spark_bucketed", os.path.basename(sf_dir.rstrip("/"))
    )
    shutil.rmtree(base, ignore_errors=True)
    write_bucketed(
        t["orders"].select("o_custkey", "o_totalprice"),
        "ddl_bq_orders", ["o_custkey"], 8, path=os.path.join(base, "orders"),
    )
    write_bucketed(
        t["customer"].select("c_custkey", "c_mktsegment"),
        "ddl_bq_customer", ["c_custkey"], 8, path=os.path.join(base, "customer"),
    )
    joined = read_bucketed_join(
        spark,
        "ddl_bq_orders",
        "ddl_bq_customer",
        on=[F.col("o_custkey") == F.col("c_custkey")],
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )
        .orderBy("c_mktsegment")
    )


_BUCKETED_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def q_date_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic: ship-delay histogram (datediff / date_add)."""
    t = load_tables(spark, sf_dir, "orders", "lineitem")
    j = t["lineitem"].join(
        t["orders"], F.col("l_orderkey") == F.col("o_orderkey")
    )
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        j.select(
            delay.alias("delay_days"),
            F.date_add(F.col("o_orderdate").cast("date"), 30).alias("due_date"),
        )
        .groupBy("delay_days")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("due_date").alias("n_due"))
        .orderBy("delay_days")
    )


_QDATE_SQL = """
SELECT CAST(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS INT) AS delay_days,
       COUNT(*) AS n,
       COUNT(DISTINCT CAST(o_orderdate AS DATE) + 30) AS n_due
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1 ORDER BY 1
"""


def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: orders above the global average price."""
    t = load_tables(spark, sf_dir, "orders")
    o = t["orders"]
    avg_df = o.agg(
        (F.sum(_dec("o_totalprice")).cast("double") / F.count(F.lit(1))).alias(
            "avg_price"
        )
    )
    return (
        o.crossJoin(F.broadcast(avg_df))
        .filter(F.col("o_totalprice") > F.col("avg_price"))
        .agg(
            F.count(F.lit(1)).alias("n_above_avg"),
            _dsum(_dec("o_totalprice"), "total_above_avg"),
        )
    )


_QSUBQ_SQL = f"""
SELECT COUNT(*) AS n_above_avg,
  CAST(SUM({_D('o_totalprice')}) AS DOUBLE) AS total_above_avg
FROM orders
WHERE o_totalprice > (
  SELECT CAST(SUM({_D('o_totalprice')}) AS DOUBLE) / COUNT(*) FROM orders)
"""


def q_anti_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi / left_anti joins (EXISTS / NOT EXISTS)."""
    t = load_tables(spark, sf_dir, "customer", "orders")
    c, o = t["customer"], t["orders"]
    on = c.c_custkey == o.o_custkey
    semi = c.join(o, on, "left_semi").agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("with_orders").alias("kind"), "n"
    )
    anti = c.join(o, on, "left_anti").agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("without_orders").alias("kind"), "n"
    )
    return semi.unionByName(anti).orderBy("kind")


_QANTI_SQL = """
SELECT 'with_orders' AS kind, COUNT(*) AS n FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
UNION ALL
SELECT 'without_orders', COUNT(*) FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
ORDER BY kind
"""


def q_values_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline VALUES relation joined against a table (broadcast)."""
    t = load_tables(spark, sf_dir, "orders")
    weights = _local_rows_df(
        spark,
        [
            ("1-URGENT", 5),
            ("2-HIGH", 4),
            ("3-MEDIUM", 3),
            ("4-NOT SPECIFIED", 2),
            ("5-LOW", 1),
        ],
        "o_orderpriority string, wt long",
    )
    return (
        t["orders"]
        .join(F.broadcast(weights), "o_orderpriority")
        .groupBy("wt")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("wt")
    )


_QVALUES_SQL = """
WITH w(o_orderpriority, wt) AS (VALUES
  ('1-URGENT', 5), ('2-HIGH', 4), ('3-MEDIUM', 3), ('4-NOT SPECIFIED', 2), ('5-LOW', 1))
SELECT wt, COUNT(*) AS n
FROM orders JOIN w USING (o_orderpriority)
GROUP BY wt ORDER BY wt
"""


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (linear interpolation both engines)."""
    t = load_tables(spark, sf_dir, "lineitem")
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_quantity, 0.25)").alias("p25"),
            F.expr("percentile(l_quantity, 0.5)").alias("p50"),
            F.expr("percentile(l_quantity, 0.75)").alias("p75"),
        )
        .orderBy("l_returnflag")
    )


_QPCT_SQL = """
SELECT l_returnflag,
  quantile_cont(l_quantity, 0.25) AS p25,
  quantile_cont(l_quantity, 0.5) AS p50,
  quantile_cont(l_quantity, 0.75) AS p75
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q_approx_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate sketches (HLL++ / GK quantiles). No cross-engine oracle:
    sketch results are engine-specific; correctness is bounded-error,
    asserted in tests/test_relational.py against exact values."""
    e = _events(spark, sf_dir)
    return e.agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.percentile_approx("value", 0.5).alias("approx_median_value"),
        F.count(F.lit(1)).alias("n"),
    )


def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from the event payload column."""
    e = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.select(k.alias("k"), "value")
        .groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dsum(_dec("value"), "total_value"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("k_mod")
    )


_QJSON_SQL = f"""
SELECT k % 10 AS k_mod, COUNT(*) AS n,
  CAST(SUM({_D('value')}) AS DOUBLE) AS total_value,
  MIN(k) AS min_k, MAX(k) AS max_k
FROM (SELECT CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INT) AS k, value FROM events) t
GROUP BY 1 ORDER BY 1
"""


def q_conditional_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-style conditional aggregation: events by hour × type."""
    e = _events(spark, sf_dir)

    def cnt(t: str):
        return F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).alias(
            f"n_{t}"
        )

    return (
        e.groupBy(F.hour("ts").alias("hr"))
        .agg(
            cnt("click"), cnt("view"), cnt("purchase"), cnt("signup"), cnt("error"),
            F.count(F.lit(1)).alias("n_total"),
        )
        .orderBy("hr")
    )


_QPIVOT_SQL = """
SELECT CAST(hour(CAST(ts AS TIMESTAMP)) AS INT) AS hr,
  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
  COUNT(*) AS n_total
FROM events GROUP BY 1 ORDER BY 1
"""


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS semi-join — orders with a late lineitem
    (shipped >60 days after order date), counted per priority."""
    t = load_tables(spark, sf_dir, "orders", "lineitem")
    o, l = t["orders"], t["lineitem"]
    late = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 60)
        .select("l_orderkey")
        .distinct()
    )
    return (
        o.join(late, o.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


_Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey
    AND date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) > 60)
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: supplier-nation × customer-nation trade volume
    per year (two nation aliases, 5-way join)."""
    t = load_tables(
        spark, sf_dir, "supplier", "lineitem", "orders", "customer", "nation"
    )
    n1 = F.broadcast(t["nation"].select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    ))
    n2 = F.broadcast(t["nation"].select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    ))
    j = (
        t["lineitem"]
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(n1, F.col("s_nationkey") == F.col("sn_key"))
        .join(n2, F.col("c_nationkey") == F.col("cn_key"))
        .filter(F.col("supp_nation").isin("NATION_1", "NATION_2"))
        .filter(F.col("cust_nation").isin("NATION_1", "NATION_2"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        j.groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(_dsum(_rev_col(), "revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


_Q7_SQL = f"""
SELECT supp_nation, cust_nation, l_year, CAST(SUM(volume) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
    CAST(year(l_shipdate) AS INT) AS l_year, {_REV_SQL} AS volume
  FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE n1.n_name IN ('NATION_1', 'NATION_2')
    AND n2.n_name IN ('NATION_1', 'NATION_2')
    AND n1.n_name <> n2.n_name) t
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: LEFT OUTER join + double aggregation —
    distribution of customers by order count."""
    t = load_tables(spark, sf_dir, "customer", "orders")
    per_cust = (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


_Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey) t
GROUP BY c_count ORDER BY custdist DESC, c_count DESC
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: CTE revenue view + max-subquery join."""
    t = load_tables(spark, sf_dir, "supplier", "lineitem")
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1996-04-01").cast("timestamp")
    rev = (
        t["lineitem"]
        .filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(_dsum(_rev_col(), "total_revenue"))
    )
    max_rev = rev.agg(F.max("total_revenue").alias("m"))
    return (
        t["supplier"]
        .join(rev, F.col("s_suppkey") == F.col("supplier_no"))
        .join(F.broadcast(max_rev), F.col("total_revenue") == F.col("m"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


_Q15_SQL = f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no, CAST(SUM({_REV_SQL}) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated avg subquery → per-part average
    join; revenue of small-quantity orders."""
    t = load_tables(spark, sf_dir, "lineitem", "part")
    p = t["part"].filter(F.col("p_brand") == "Brand#1")
    avg_qty = (
        t["lineitem"]
        .groupBy(F.col("l_partkey").alias("ap_key"))
        .agg(
            (F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1)) * 0.2)
            .alias("avg_fifth")
        )
    )
    j = (
        t["lineitem"]
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(avg_qty, F.col("l_partkey") == F.col("ap_key"))
        .filter(F.col("l_quantity") < F.col("avg_fifth"))
    )
    return j.agg(
        (F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias(
            "avg_yearly"
        )
    )


_Q17_SQL = f"""
SELECT CAST(SUM({_D('l_extendedprice')}) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#1'
  AND l_quantity < (
    SELECT CAST(SUM({_D('l_quantity')}) AS DOUBLE) / COUNT(*) * 0.2
    FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey)
"""


def q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive range predicates
    (OR-of-ANDs reaches the join condition)."""
    t = load_tables(spark, sf_dir, "lineitem", "part")
    j = t["lineitem"].join(t["part"], F.col("l_partkey") == F.col("p_partkey"))
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size").between(1, 15))
         & (F.col("l_quantity").between(1, 15)))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size").between(10, 25))
           & (F.col("l_quantity").between(10, 25)))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size").between(20, 35))
           & (F.col("l_quantity").between(20, 35)))
    )
    return j.filter(cond).agg(
        _dsum(_rev_col(), "revenue"), F.count(F.lit(1)).alias("n_items")
    )


_Q19_SQL = f"""
SELECT CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue, COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 15)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 25 AND l_quantity BETWEEN 10 AND 25)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 35 AND l_quantity BETWEEN 20 AND 35)
"""


def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: self-join EXISTS + NOT-EXISTS on lineitem —
    suppliers whose lineitem shipped last in a multi-supplier order."""
    t = load_tables(spark, sf_dir, "supplier", "lineitem", "orders")
    l = t["lineitem"]
    o = t["orders"].filter(F.col("o_orderstatus") == "F")
    l1 = l.join(o, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    order_stats = l1.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.max("l_shipdate").alias("max_ship"),
    )
    waiting = (
        l1.join(order_stats, F.col("l_orderkey") == F.col("ok"))
        .filter((F.col("n_supp") > 1) & (F.col("l_shipdate") == F.col("max_ship")))
        .groupBy("l_suppkey")
        .agg(F.countDistinct("l_orderkey").alias("numwait"))
    )
    return (
        t["supplier"]
        .join(waiting, F.col("s_suppkey") == F.col("l_suppkey"))
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


_Q21_SQL = """
WITH l1 AS (
  SELECT l_orderkey, l_suppkey, l_shipdate
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'),
stats AS (
  SELECT l_orderkey AS ok, COUNT(DISTINCT l_suppkey) AS n_supp,
         MAX(l_shipdate) AS max_ship
  FROM l1 GROUP BY l_orderkey),
waiting AS (
  SELECT l_suppkey, COUNT(DISTINCT l_orderkey) AS numwait
  FROM l1 JOIN stats ON l_orderkey = ok
  WHERE n_supp > 1 AND l_shipdate = max_ship
  GROUP BY l_suppkey)
SELECT s_name, numwait
FROM supplier JOIN waiting ON s_suppkey = l_suppkey
ORDER BY numwait DESC, s_name LIMIT 20
"""


def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no
    orders, grouped by nation bucket (anti join + scalar subquery)."""
    t = load_tables(spark, sf_dir, "customer", "orders")
    c, o = t["customer"], t["orders"]
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        (F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("ab")
    )
    rich = c.crossJoin(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("ab"))
    idle = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return (
        idle.groupBy((F.col("c_nationkey") % 5).alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _dsum(_dec("c_acctbal"), "totacctbal"),
        )
        .orderBy("cntrycode")
    )


_Q22_SQL = f"""
SELECT c_nationkey % 5 AS cntrycode, COUNT(*) AS numcust,
  CAST(SUM({_D('c_acctbal')}) AS DOUBLE) AS totacctbal
FROM customer
WHERE c_acctbal > (
    SELECT CAST(SUM({_D('c_acctbal')}) AS DOUBLE) / COUNT(*)
    FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY 1 ORDER BY 1
"""


def q_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join: suppliers vs customers per nation (coverage of
    the remaining join type)."""
    t = load_tables(spark, sf_dir, "supplier", "customer")
    s = t["supplier"].groupBy(F.col("s_nationkey").alias("nk_s")).agg(
        F.count(F.lit(1)).alias("n_supp")
    )
    c = t["customer"].groupBy(F.col("c_nationkey").alias("nk_c")).agg(
        F.count(F.lit(1)).alias("n_cust")
    )
    return (
        s.join(c, s.nk_s == c.nk_c, "full_outer")
        .select(
            F.coalesce("nk_s", "nk_c").alias("nationkey"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        )
        .orderBy("nationkey")
    )


_QFULL_SQL = """
SELECT COALESCE(nk_s, nk_c) AS nationkey,
       COALESCE(n_supp, 0) AS n_supp, COALESCE(n_cust, 0) AS n_cust
FROM (SELECT s_nationkey AS nk_s, COUNT(*) AS n_supp FROM supplier GROUP BY 1) s
FULL OUTER JOIN
     (SELECT c_nationkey AS nk_c, COUNT(*) AS n_cust FROM customer GROUP BY 1) c
ON nk_s = nk_c
ORDER BY nationkey
"""


def specs() -> list[QuerySpec]:
    return [
        QuerySpec("q1_pricing_summary", q1_pricing_summary, _Q1_SQL),
        QuerySpec("q3_shipping_priority", q3_shipping_priority, _Q3_SQL),
        QuerySpec("q5_local_supplier", q5_local_supplier, _Q5_SQL),
        QuerySpec("q6_forecast_revenue", q6_forecast_revenue, _Q6_SQL),
        QuerySpec("q10_returned_items", q10_returned_items, _Q10_SQL),
        QuerySpec("q14_promo_revenue", q14_promo_revenue, _Q14_SQL),
        QuerySpec("q18_large_orders", q18_large_orders, _Q18_SQL),
        QuerySpec("q4_order_priority", q4_order_priority, _Q4_SQL),
        QuerySpec("q7_nation_volume", q7_nation_volume, _Q7_SQL),
        QuerySpec("q13_customer_distribution", q13_customer_distribution, _Q13_SQL),
        QuerySpec("q15_top_supplier", q15_top_supplier, _Q15_SQL),
        QuerySpec("q17_small_qty_revenue", q17_small_qty_revenue, _Q17_SQL),
        QuerySpec("q19_disjunctive", q19_disjunctive, _Q19_SQL),
        QuerySpec("q21_waiting_supplier", q21_waiting_supplier, _Q21_SQL),
        QuerySpec("q22_idle_customers", q22_idle_customers, _Q22_SQL),
        QuerySpec("q_full_outer_join", q_full_outer_join, _QFULL_SQL),
        QuerySpec("q_topk_orders", q_topk_orders, _QTOPK_SQL),
        QuerySpec("q_window_rank", q_window_rank, _QWRANK_SQL),
        QuerySpec("q_window_running", q_window_running, _QWRUN_SQL),
        QuerySpec("q_events_gap", q_events_gap, _QGAP_SQL),
        QuerySpec("q_sessionize", q_sessionize, _QSESS_SQL),
        QuerySpec("q_set_ops", q_set_ops, _QSET_SQL),
        QuerySpec("q_distinct_agg", q_distinct_agg, _QDIST_SQL),
        QuerySpec("q_rollup", q_rollup, _QROLLUP_SQL),
        QuerySpec("q_cube", q_cube, _QCUBE_SQL),
        QuerySpec("q_grouping_sets", q_grouping_sets, _QGSETS_SQL),
        QuerySpec("q_scalar_funcs", q_scalar_funcs, _QSCALAR_SQL),
        QuerySpec("q_date_arith", q_date_arith, _QDATE_SQL),
        QuerySpec("q_salted_join_agg", q_salted_join_agg, _SALTED_SQL),
        QuerySpec("q_bucketed_join", q_bucketed_join, _BUCKETED_SQL),
        QuerySpec("q_subquery_scalar", q_subquery_scalar, _QSUBQ_SQL),
        QuerySpec("q_anti_semi", q_anti_semi, _QANTI_SQL),
        QuerySpec("q_values_join", q_values_join, _QVALUES_SQL),
        QuerySpec("q_percentiles", q_percentiles, _QPCT_SQL),
        QuerySpec("q_approx_aggs", q_approx_aggs, None),
        QuerySpec("q_events_json", q_events_json, _QJSON_SQL),
        QuerySpec("q_conditional_pivot", q_conditional_pivot, _QPIVOT_SQL),
    ]
