"""Write half of the ``lake`` workload: DML and view maintenance.

A CDF-enabled fact table (lineitem) and dimension table (supplier) feed
a join materialized view (per-nation count, sums, min/max). A write
cycle is append → MERGE → UPDATE → DELETE (deletion vectors) →
``refresh_join_mv`` → read the view; the sequence ends with one OPTIMIZE
of the small files. A DuckDB mirror replays every change (MERGE as
UPDATE … FROM plus INSERT, since DuckDB 1.0 has no MERGE); each DML
count, every view read and the compacted table are compared with it.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from deltalake_datafusion_spark import (
    delete_delta, merge_delta, optimize_delta, read_delta, update_delta,
    write_delta,
)
from deltalake_datafusion_spark.delta.mv_join import build_join_mv, refresh_join_mv
from perfbench import data, deltalog
from perfbench.harness import Ctx, rows

BASE_FILES = 8
CYCLE = ("append", "merge", "update", "delete", "refresh", "read_mv")
# OPTIMIZE bin-packs the small files the cycles leave (appends, MERGE
# inserts, UPDATE rewrites) and leaves the large base files alone.
SMALL_FILE_BYTES = 256 * 1024

MV_ARGS = dict(fact_key="l_suppkey", dim_key="s_suppkey",
               group_cols=["s_nationkey"], sum_cols=["l_quantity", "l_cents"],
               minmax_cols=["l_cents"])
MV_COLS = ["s_nationkey", "mv_count", "mv_sum_l_quantity", "mv_cnt_l_quantity",
           "mv_sum_l_cents", "mv_cnt_l_cents", "mv_min_l_cents", "mv_max_l_cents"]
CDF = {"delta.enableChangeDataFeed": "true"}


@dataclass
class Tables:
    name: str
    fact: str
    dim: str
    mv: str
    next_id: int
    batch_rows: int
    n_sources: int = 0


def _fact_rows(rng, n: int, first_id: int) -> pa.Table:
    li = data.lineitem(rng, n)
    return pa.table({
        "l_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "l_orderkey": li["l_orderkey"],
        "l_suppkey": li["l_suppkey"],
        "l_quantity": li["l_quantity"].to_numpy().astype(np.int64),
        "l_cents": np.round(li["l_extendedprice"].to_numpy() * 100).astype(np.int64),
        "l_returnflag": li["l_returnflag"],
    })


def build(ctx: Ctx, name: str, rng, n_rows: int) -> Tables:
    spark = ctx.spark
    t = Tables(name, ctx.path(f"{name}_fact"), ctx.path(f"{name}_dim"),
               ctx.path(f"{name}_mv"), n_rows, max(20, n_rows // 1000))
    fact_file = data.write(_fact_rows(rng, n_rows, 0), ctx.path(f"{name}_fact.parquet"))
    dim_file = data.write(data.supplier(rng), ctx.path(f"{name}_dim.parquet"))
    ctx.duck.execute(f"CREATE TABLE {name}_fact AS SELECT * FROM read_parquet(?)",
                     [fact_file])
    ctx.duck.execute(f"CREATE TABLE {name}_dim AS SELECT * FROM read_parquet(?)",
                     [dim_file])
    write_delta(spark, spark.read.parquet(fact_file)
                .repartitionByRange(BASE_FILES, "l_id"), t.fact, configuration=CDF)
    write_delta(spark, spark.read.parquet(dim_file), t.dim, configuration=CDF)
    build_join_mv(spark, t.fact, t.dim, t.mv, **MV_ARGS)
    return t


def _source(ctx: Ctx, t: Tables, table: pa.Table, tag: str):
    """A Spark frame over freshly written parquet (prepared untimed)."""
    t.n_sources += 1
    f = data.write(table, ctx.path(f"{t.name}_{tag}{t.n_sources}.parquet"))
    return f, ctx.spark.read.parquet(f)


def _commit_counts(ctx: Ctx, t: Tables, kind: str) -> None:
    if ctx.tracer.enabled:
        s = deltalog.commit_summary(t.fact, deltalog.latest_version(t.fact))
        if kind == "append":
            ctx.tracer.count("delta.writer.bytes_per_row",
                             s["add_bytes"] / s["add_rows"])
        else:
            ctx.tracer.count("delta.ops.files_rewritten", s["removes"])


def run_op(ctx: Ctx, t: Tables, kind: str, rng) -> None:
    spark, fact, d = ctx.spark, t.fact, f"{t.name}_fact"
    if kind == "append":
        f, src = _source(ctx, t, _fact_rows(rng, t.batch_rows, t.next_id), "append")
        t.next_id += t.batch_rows
        before = deltalog.latest_version(fact)

        def run():
            with ctx.span("delta.writer.append"):
                return write_delta(spark, src, fact, mode="append")

        def check(snap):
            ctx.duck.execute(f"INSERT INTO {d} SELECT * FROM read_parquet(?)", [f])
            added = deltalog.commit_summary(fact, snap.version)["add_rows"]
            ctx.expect(kind, (snap.version, added), (before + 1, t.batch_rows))
            _commit_counts(ctx, t, kind)
    elif kind == "merge":
        # an upsert: half the source rows update a seeded window of
        # existing ids (one or two files), half are new ids
        m = max(4, t.batch_rows // 2)
        lo = int(rng.integers(0, t.next_id - m))
        ids = np.r_[np.arange(lo, lo + m), np.arange(t.next_id, t.next_id + m)]
        t.next_id += m
        src_rows = _fact_rows(rng, len(ids), 0).set_column(
            0, "l_id", pa.array(ids, type=pa.int64()))
        f, src = _source(ctx, t, src_rows, "merge")
        before = deltalog.latest_version(fact)

        def run():
            with ctx.span("delta.ops.merge"):
                return merge_delta(
                    spark, fact, src, on="t.l_id = s.l_id",
                    when_matched_update={c: f"s.{c}" for c in src_rows.column_names
                                         if c != "l_id"},
                    when_not_matched_insert=True)

        def check(res):
            ctx.duck.execute("CREATE OR REPLACE TEMP TABLE merge_src AS "
                             "SELECT * FROM read_parquet(?)", [f])
            ctx.duck.execute(
                f"UPDATE {d} SET l_orderkey = s.l_orderkey, l_suppkey = s.l_suppkey, "
                f"l_quantity = s.l_quantity, l_cents = s.l_cents, "
                f"l_returnflag = s.l_returnflag FROM merge_src s "
                f"WHERE {d}.l_id = s.l_id")
            ctx.duck.execute(f"INSERT INTO {d} SELECT * FROM merge_src "
                             f"WHERE l_id NOT IN (SELECT l_id FROM {d})")
            ctx.expect(kind, res["version"], before + 1)
            _commit_counts(ctx, t, kind)
    elif kind in ("update", "delete"):
        mod = 997 if kind == "update" else 1009
        pred = f"l_id % {mod} = {int(rng.integers(0, mod))}"

        def run():
            with ctx.span(f"delta.ops.{kind}"):
                if kind == "update":
                    return update_delta(spark, fact, {"l_quantity": "l_quantity + 1"},
                                        predicate=pred)
                return delete_delta(spark, fact, pred)

        def check(res):
            (n,), = ctx.q(f"SELECT COUNT(*) FROM {d} WHERE {pred}")
            if kind == "update":
                ctx.duck.execute(f"UPDATE {d} SET l_quantity = l_quantity + 1 "
                                 f"WHERE {pred}")
                ctx.expect(kind, res["rows_updated"], n)
            else:
                ctx.duck.execute(f"DELETE FROM {d} WHERE {pred}")
                ctx.expect(kind, res["rows_deleted"], n)
            _commit_counts(ctx, t, kind)
    elif kind == "refresh":
        def run():
            with ctx.span("delta.mv_join.refresh"):
                return refresh_join_mv(spark, fact, t.dim, t.mv, **MV_ARGS)

        def check(res):
            ctx.expect(kind, res["fact_version"], deltalog.latest_version(fact))
    elif kind == "read_mv":
        def run():
            with ctx.span("delta.scan"):
                with ctx.span("delta.scan.plan"):
                    df = read_delta(spark, t.mv)
                with ctx.span("delta.scan.exec"):
                    return df.select(*MV_COLS).collect()

        def check(res):
            ctx.expect(kind, rows(res), ctx.q(
                f"SELECT s_nationkey, COUNT(*), SUM(l_quantity), COUNT(l_quantity), "
                f"SUM(l_cents), COUNT(l_cents), MIN(l_cents), MAX(l_cents) "
                f"FROM {d} JOIN {t.name}_dim ON l_suppkey = s_suppkey "
                f"GROUP BY s_nationkey"))
    elif kind == "optimize":
        def run():
            with ctx.span("delta.ops.optimize"):
                return optimize_delta(spark, fact, small_file_threshold=SMALL_FILE_BYTES)

        def check(res):
            got = read_delta(spark, fact).agg(
                F.count(F.lit(1)), F.sum("l_quantity"), F.sum("l_cents")).collect()
            ctx.expect(kind, rows(got), ctx.q(
                f"SELECT COUNT(*), SUM(l_quantity), SUM(l_cents) FROM {d}"))
    else:
        raise ValueError(kind)
    ctx.op(kind, run, check)


def setup(ctx: Ctx, rng, n_rows: int) -> Tables:
    # Warm-up: one op of each kind on scratch tables of the same shape,
    # so the measured cycle starts on a fixture no DML has touched.
    with ctx.phase("write warm-up (scratch tables)"):
        scratch = build(ctx, "scratch", rng, max(200, n_rows // 20))
        for kind in CYCLE + ("optimize",):
            run_op(ctx, scratch, kind, rng)
    with ctx.phase("write fixture"):
        return build(ctx, "main", rng, n_rows)
