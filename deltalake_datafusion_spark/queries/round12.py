"""Round-12 query surface: the NULL-exact rewrite grammar growth
(COUNT(col) / ANSI AVG over nullable measures / HAVING over aggregate
expressions / global aggregates) and the MIN/MAX retraction
fast-path. Registered AFTER the pinned 50-entry driver prefix
(discipline: the driver's correctness window is the registry prefix;
new names append)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deltalake_datafusion_spark.queries import QuerySpec, load_tables


def specs() -> list[QuerySpec]:
    return [
        QuerySpec(
            "sql_matview_rewrite_nullable",
            sql_matview_rewrite_nullable,
            _MV_REWRITE_NULLABLE_SQL,
        ),
        QuerySpec(
            "sql_matview_rewrite_global",
            sql_matview_rewrite_global,
            _MV_REWRITE_GLOBAL_SQL,
        ),
        QuerySpec(
            "delta_mv_minmax_interior",
            delta_mv_minmax_interior,
            _MV_MINMAX_INTERIOR_SQL,
        ),
        QuerySpec(
            "sql_matview_rewrite_rollup",
            sql_matview_rewrite_rollup,
            _MV_REWRITE_ROLLUP_SQL,
        ),
        QuerySpec(
            "streaming_mv_minmax_refresh",
            streaming_mv_minmax_refresh,
            _STREAMING_MV_MINMAX_SQL,
        ),
    ]


# ---------------------------------------------------------------- #
# sql_matview_rewrite_nullable                                      #
# ---------------------------------------------------------------- #


def sql_matview_rewrite_nullable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NULL-exact transparent rewrite (ADVICE r11 high +
    VERDICT r11 #4, ``sql/mv_rewrite.py``): customer → CDF Delta
    base with a NULLABLE cents measure → CREATE MATERIALIZED VIEW
    (which maintains the per-column non-null count ``mv_cnt_cents``)
    → base DELETE + REFRESH (the count survives incremental
    maintenance) → a user aggregate with ``COUNT(cents)``,
    ``AVG(cents)`` (ANSI SUM/COUNT(col), NOT SUM/COUNT(*)), and a
    HAVING over a non-selected aggregate expression — answered FROM
    THE VIEW (the function asserts the executed scan reads only view
    files). The oracle recomputes from raw rows, so a wrong AVG
    divisor or a coalesced-to-0 SUM hash-mismatches."""
    from deltalake_datafusion_spark.delta.ops import delete_delta
    from deltalake_datafusion_spark.delta.writer import write_delta
    from deltalake_datafusion_spark.queries.delta_tier import _fresh_dir
    from deltalake_datafusion_spark.sql.dispatcher import sql

    c = load_tables(spark, sf_dir, "customer")["customer"]
    base = _fresh_dir("mvrwn_base", sf_dir)
    mv = _fresh_dir("mvrwn_view", sf_dir)
    rows = c.select(
        F.col("c_custkey").alias("id"),
        F.col("c_mktsegment").alias("g"),
        F.when(
            F.col("c_custkey") % 11 != 0,
            F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long"),
        ).alias("cents"),
    )
    write_delta(
        spark, rows, base,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    sql(
        spark,
        f"CREATE MATERIALIZED VIEW delta.`{mv}` AS "
        f"SELECT g, COUNT(*) AS n, SUM(cents) AS total "
        f"FROM delta.`{base}` GROUP BY g",
    )
    delete_delta(spark, base, "id % 7 = 3")
    sql(spark, f"REFRESH MATERIALIZED VIEW delta.`{mv}`")
    out = sql(
        spark,
        f"SELECT g, COUNT(*) AS n, COUNT(cents) AS nv, "
        f"SUM(cents) AS total, AVG(cents) AS mean "
        f"FROM delta.`{base}` GROUP BY g "
        f"HAVING COUNT(cents) > 5 ORDER BY g",
    )
    files = out.inputFiles()
    if not files or any("mvrwn_view" not in f for f in files):
        raise AssertionError(
            f"MV rewrite did not fire — plan reads {files[:3]}"
        )
    # integer-output contract: AVG (double) leaves as exact 32nds —
    # *32 is an exponent shift (exact), +0.5 exact, floor
    # deterministic; both engines divide the same integer sum/count
    return out.select(
        "g",
        F.col("n").cast("long").alias("n"),
        F.col("nv").cast("long").alias("nv"),
        F.col("total").cast("long").alias("total"),
        F.floor(F.col("mean") * 32 + F.lit(0.5))
        .cast("long")
        .alias("mean_32nds"),
    )


_MV_REWRITE_NULLABLE_SQL = """
WITH base AS (
  SELECT c_custkey AS id, c_mktsegment AS g,
    CASE WHEN c_custkey % 11 <> 0
      THEN CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) END AS cents
  FROM customer
),
final AS (SELECT * FROM base WHERE NOT (id % 7 = 3))
SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
  CAST(COUNT(cents) AS BIGINT) AS nv,
  CAST(SUM(cents) AS BIGINT) AS total,
  CAST(FLOOR(AVG(cents) * 32 + 0.5) AS BIGINT) AS mean_32nds
FROM final GROUP BY g HAVING COUNT(cents) > 5 ORDER BY g
"""

# ---------------------------------------------------------------- #
# sql_matview_rewrite_global                                        #
# ---------------------------------------------------------------- #


def sql_matview_rewrite_global(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GLOBAL-aggregate rewrite (VERDICT r11 #4): a query with no
    GROUP BY re-aggregates the whole view into one row, and a
    predicate filtering the view to NOTHING still returns the ANSI
    row (COUNT 0, SUM NULL — the empty-view coalesce). Both plans
    must read only view files."""
    from deltalake_datafusion_spark.delta.writer import write_delta
    from deltalake_datafusion_spark.queries.delta_tier import _fresh_dir
    from deltalake_datafusion_spark.sql.dispatcher import sql

    o = load_tables(spark, sf_dir, "orders")["orders"]
    base = _fresh_dir("mvrwg_base", sf_dir)
    mv = _fresh_dir("mvrwg_view", sf_dir)
    rows = o.select(
        F.col("o_orderkey").alias("id"),
        F.col("o_orderpriority").alias("g"),
        F.when(
            F.col("o_orderkey") % 13 != 0,
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long"),
        ).alias("cents"),
    )
    write_delta(
        spark, rows, base,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    sql(
        spark,
        f"CREATE MATERIALIZED VIEW delta.`{mv}` AS "
        f"SELECT g, COUNT(*) AS n, SUM(cents) AS total "
        f"FROM delta.`{base}` GROUP BY g",
    )
    parts = []
    for tag, where in ((1, ""), (2, "WHERE g = 'NOSUCH' ")):
        df = sql(
            spark,
            f"SELECT COUNT(*) AS n, COUNT(cents) AS nv, "
            f"SUM(cents) AS total FROM delta.`{base}` {where}",
        )
        files = df.inputFiles()
        if not files or any("mvrwg_view" not in f for f in files):
            raise AssertionError(
                f"global MV rewrite did not fire — plan reads "
                f"{files[:3]}"
            )
        parts.append(df.select(F.lit(tag).alias("tag"), "*"))
    out = parts[0].unionByName(parts[1])
    return out.select(
        "tag",
        F.col("n").cast("long").alias("n"),
        F.col("nv").cast("long").alias("nv"),
        F.col("total").cast("long").alias("total"),
    )


_MV_REWRITE_GLOBAL_SQL = """
WITH base AS (
  SELECT o_orderkey AS id, o_orderpriority AS g,
    CASE WHEN o_orderkey % 13 <> 0
      THEN CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) END AS cents
  FROM orders
)
SELECT 1 AS tag, CAST(COUNT(*) AS BIGINT) AS n,
  CAST(COUNT(cents) AS BIGINT) AS nv,
  CAST(SUM(cents) AS BIGINT) AS total
FROM base
UNION ALL
SELECT 2, CAST(COUNT(*) AS BIGINT), CAST(COUNT(cents) AS BIGINT),
  CAST(SUM(cents) AS BIGINT)
FROM base WHERE g = 'NOSUCH'
"""

# ---------------------------------------------------------------- #
# delta_mv_minmax_interior                                          #
# ---------------------------------------------------------------- #


def delta_mv_minmax_interior(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MIN/MAX MV retraction fast-path correctness (VERDICT r11 #3,
    ``delta/mv.py``): customer → CDF base with a NULLABLE group key
    (NULL-group rows exercise the null-safe recompute joins, ADVICE
    r11) and a nullable cents measure → min/max-bearing MV → a
    change round mixing an INTERIOR delete band (fast-path: no base
    recompute), an EXTREMUM-removing delete (targeted recompute),
    and an append — ONE incremental refresh. The oracle recomputes
    the final aggregate from raw rows, so an interior skip that
    should have recomputed (or a NULL-group drop) hash-mismatches."""
    from deltalake_datafusion_spark.delta.mv import (
        build_aggregate_mv,
        refresh_aggregate_mv,
    )
    from deltalake_datafusion_spark.delta.ops import delete_delta
    from deltalake_datafusion_spark.delta.scan import read_delta
    from deltalake_datafusion_spark.delta.writer import write_delta
    from deltalake_datafusion_spark.queries.delta_tier import _fresh_dir

    c = load_tables(spark, sf_dir, "customer")["customer"]
    base = _fresh_dir("mvmmi_base", sf_dir)
    mv = _fresh_dir("mvmmi_view", sf_dir)
    cdf = {"delta.enableChangeDataFeed": "true"}
    rows = c.select(
        F.col("c_custkey").alias("id"),
        F.when(
            F.col("c_custkey") % 13 != 0, F.col("c_mktsegment")
        ).alias("g"),
        F.when(
            F.col("c_custkey") % 17 != 0,
            F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long"),
        ).alias("cents"),
    )
    write_delta(spark, rows, base, configuration=cdf)
    build_aggregate_mv(spark, base, mv, ["g"], ["cents"], ["cents"])
    # interior band (acctbal spans ~[-999.99, 9999.99] per segment)
    delete_delta(
        spark, base, "cents >= 100000 AND cents < 300000 AND id % 3 = 0"
    )
    # extremum removals: the deepest-negative rows are group minima
    delete_delta(spark, base, "cents < -95000")
    extra = c.filter(F.col("c_custkey") % 23 == 0).select(
        (F.col("c_custkey") + 600000000).alias("id"),
        F.when(
            F.col("c_custkey") % 13 != 0, F.col("c_mktsegment")
        ).alias("g"),
        (F.col("c_custkey") % 2 * 300000000
         - 150000000).cast("long").alias("cents"),
    )
    write_delta(spark, extra, base, mode="append", configuration=cdf)
    refresh_aggregate_mv(spark, base, mv, ["g"], ["cents"], ["cents"])
    return (
        read_delta(spark, mv)
        .select(
            "g", "mv_count",
            F.col("mv_sum_cents").cast("long").alias("mv_sum_cents"),
            F.col("mv_cnt_cents").cast("long").alias("mv_cnt_cents"),
            F.col("mv_min_cents").cast("long").alias("mv_min_cents"),
            F.col("mv_max_cents").cast("long").alias("mv_max_cents"),
        )
        .orderBy("g")
    )


_MV_MINMAX_INTERIOR_SQL = """
WITH orig AS (
  SELECT c_custkey AS id,
    CASE WHEN c_custkey % 13 <> 0 THEN c_mktsegment END AS g,
    CASE WHEN c_custkey % 17 <> 0
      THEN CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) END AS cents
  FROM customer
),
kept AS (
  -- the deletes ran BEFORE the append: apply them to orig only
  SELECT * FROM orig
  WHERE NOT coalesce(
      cents >= 100000 AND cents < 300000 AND id % 3 = 0, FALSE)
    AND NOT coalesce(cents < -95000, FALSE)
),
final AS (
  SELECT * FROM kept
  UNION ALL
  SELECT c_custkey + 600000000,
    CASE WHEN c_custkey % 13 <> 0 THEN c_mktsegment END,
    CAST(c_custkey % 2 * 300000000 - 150000000 AS BIGINT)
  FROM customer WHERE c_custkey % 23 = 0
)
SELECT g, CAST(COUNT(*) AS BIGINT) AS mv_count,
  CAST(SUM(cents) AS BIGINT) AS mv_sum_cents,
  CAST(COUNT(cents) AS BIGINT) AS mv_cnt_cents,
  CAST(MIN(cents) AS BIGINT) AS mv_min_cents,
  CAST(MAX(cents) AS BIGINT) AS mv_max_cents
FROM final GROUP BY g ORDER BY g
"""

# ---------------------------------------------------------------- #
# sql_matview_rewrite_rollup                                        #
# ---------------------------------------------------------------- #


def sql_matview_rewrite_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ROLLUP rewrite (``sql/mv_rewrite.py``): ``GROUP BY
    ROLLUP(g, st)`` over the base is the union of one subsumption
    rewrite per grouping set, so it re-aggregates the maintained
    view through Spark's own ROLLUP operator — subtotals and the
    grand total included — while reading ONLY view files (asserted).
    The oracle runs the same ROLLUP over the raw rows in DuckDB."""
    from deltalake_datafusion_spark.delta.ops import delete_delta
    from deltalake_datafusion_spark.delta.writer import write_delta
    from deltalake_datafusion_spark.queries.delta_tier import _fresh_dir
    from deltalake_datafusion_spark.sql.dispatcher import sql

    o = load_tables(spark, sf_dir, "orders")["orders"]
    base = _fresh_dir("mvrwr_base", sf_dir)
    mv = _fresh_dir("mvrwr_view", sf_dir)
    rows = o.select(
        F.col("o_orderkey").alias("id"),
        F.col("o_orderpriority").alias("g"),
        F.col("o_orderstatus").alias("st"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    write_delta(
        spark, rows, base,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    sql(
        spark,
        f"CREATE MATERIALIZED VIEW delta.`{mv}` AS "
        f"SELECT g, st, COUNT(*) AS n, SUM(cents) AS total, "
        f"MIN(cents), MAX(cents) "
        f"FROM delta.`{base}` GROUP BY g, st",
    )
    delete_delta(spark, base, "id % 9 = 4")
    sql(spark, f"REFRESH MATERIALIZED VIEW delta.`{mv}`")
    out = sql(
        spark,
        f"SELECT g, st, COUNT(*) AS n, SUM(cents) AS total, "
        f"MIN(cents) AS lo, MAX(cents) AS hi "
        f"FROM delta.`{base}` GROUP BY ROLLUP(g, st)",
    )
    files = out.inputFiles()
    if not files or any("mvrwr_view" not in f for f in files):
        raise AssertionError(
            f"ROLLUP MV rewrite did not fire — plan reads {files[:3]}"
        )
    return out.select(
        "g", "st",
        F.col("n").cast("long").alias("n"),
        F.col("total").cast("long").alias("total"),
        F.col("lo").cast("long").alias("lo"),
        F.col("hi").cast("long").alias("hi"),
    ).orderBy("g", "st")


_MV_REWRITE_ROLLUP_SQL = """
WITH base AS (
  SELECT o_orderkey AS id, o_orderpriority AS g, o_orderstatus AS st,
    CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
),
final AS (SELECT * FROM base WHERE NOT (id % 9 = 4))
SELECT g, st, CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(cents) AS BIGINT) AS total,
  CAST(MIN(cents) AS BIGINT) AS lo,
  CAST(MAX(cents) AS BIGINT) AS hi
FROM final GROUP BY ROLLUP(g, st) ORDER BY g, st
"""

# ---------------------------------------------------------------- #
# streaming_mv_minmax_refresh                                       #
# ---------------------------------------------------------------- #


def streaming_mv_minmax_refresh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CONTINUOUS maintenance of a MIN/MAX-bearing view
    (``delta/mv.py::streaming_refresh_aggregate_mv`` with
    ``minmax_cols``): the base's change feed streams through
    foreachBatch with the delete-aware core —
    extremum-removing deletes trigger the targeted AS-OF recompute,
    interior churn merges monotonically, the watermark txn rides
    each merge commit. The oracle recomputes the final aggregate
    from raw rows."""
    import tempfile

    from deltalake_datafusion_spark.delta.mv import (
        build_aggregate_mv,
        streaming_refresh_aggregate_mv,
    )
    from deltalake_datafusion_spark.delta.ops import delete_delta
    from deltalake_datafusion_spark.delta.scan import read_delta
    from deltalake_datafusion_spark.delta.writer import write_delta
    from deltalake_datafusion_spark.queries.delta_tier import _fresh_dir

    c = load_tables(spark, sf_dir, "customer")["customer"]
    base = _fresh_dir("smvmm_base", sf_dir)
    mv = _fresh_dir("smvmm_view", sf_dir)
    cdf = {"delta.enableChangeDataFeed": "true"}
    rows = c.select(
        F.col("c_custkey").alias("id"),
        F.col("c_mktsegment").alias("g"),
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    write_delta(spark, rows, base, configuration=cdf)
    build_aggregate_mv(spark, base, mv, ["g"], ["cents"], ["cents"])
    # extremum removals (deep-negative minima) + interior churn
    delete_delta(spark, base, "cents < -90000")
    delete_delta(spark, base, "cents >= 50000 AND cents < 60000")
    extra = c.filter(F.col("c_custkey") % 31 == 0).select(
        (F.col("c_custkey") + 700000000).alias("id"),
        F.col("c_mktsegment").alias("g"),
        (F.col("c_custkey") % 3 * 100000000
         - 100000000).cast("long").alias("cents"),
    )
    write_delta(spark, extra, base, mode="append", configuration=cdf)
    with tempfile.TemporaryDirectory(prefix="smvmm_ck_") as ck:
        streaming_refresh_aggregate_mv(
            spark, base, mv, ["g"], ["cents"], ck, minmax_cols=["cents"]
        )
    return (
        read_delta(spark, mv)
        .select(
            "g", "mv_count",
            F.col("mv_sum_cents").cast("long").alias("mv_sum_cents"),
            F.col("mv_min_cents").cast("long").alias("mv_min_cents"),
            F.col("mv_max_cents").cast("long").alias("mv_max_cents"),
        )
        .orderBy("g")
    )


_STREAMING_MV_MINMAX_SQL = """
WITH orig AS (
  SELECT c_custkey AS id, c_mktsegment AS g,
    CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
  FROM customer
),
kept AS (
  SELECT * FROM orig
  WHERE NOT (cents < -90000)
    AND NOT (cents >= 50000 AND cents < 60000)
),
final AS (
  SELECT * FROM kept
  UNION ALL
  SELECT c_custkey + 700000000, c_mktsegment,
    CAST(c_custkey % 3 * 100000000 - 100000000 AS BIGINT)
  FROM customer WHERE c_custkey % 31 = 0
)
SELECT g, CAST(COUNT(*) AS BIGINT) AS mv_count,
  CAST(SUM(cents) AS BIGINT) AS mv_sum_cents,
  CAST(MIN(cents) AS BIGINT) AS mv_min_cents,
  CAST(MAX(cents) AS BIGINT) AS mv_max_cents
FROM final GROUP BY g ORDER BY g
"""
