"""Read half of the ``lake`` workload: one Delta table built from lineitem.

The table has a multi-file base written in key order (so key ranges
skip files), small appends crossing several checkpoints, and one
deletion-vector DELETE. The measured ops are range scans that skipping
narrows to a few files, aggregates that keep every file, time travel to
pre-checkpoint versions, ``log_replay_df``, ``load_snapshot`` and an
extended-dialect ``sql()`` SELECT. Every result is compared with a
DuckDB mirror of the table or with the log replayed independently.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from urllib.parse import unquote

from pyspark.sql import functions as F

from deltalake_datafusion_spark import (
    delete_delta, load_snapshot, log_replay_df, read_delta, sql, write_delta,
)
from perfbench import data, deltalog
from perfbench.harness import Ctx, rows

BASE_FILES = 8
KINDS = ("scan_range", "scan_full", "time_travel", "log_replay", "snapshot", "sql")
APPENDS = 7
CHECKPOINT_INTERVAL = 3

_AGG = "COUNT(*), SUM(l_quantity), SUM(l_extendedprice)"


def _spark_agg():
    return [F.count(F.lit(1)), F.sum("l_quantity"), F.sum("l_extendedprice")]


@dataclass
class Table:
    path: str
    mirror: str          # DuckDB table: lineitem rows + v_add / v_del
    max_key: int
    last_checkpoint: int
    latest: int
    live: dict           # version -> frozenset of live paths
    orders: dict = field(default_factory=dict)  # kind -> versions still to draw


def _version(t: Table, kind: str, lo: int, hi: int, rng) -> int:
    """A version in ``[lo, hi)``, drawn without replacement: each kind
    takes the window's versions in a seeded order, one per op, so every
    run with as many ops of a kind as the window has versions reads each
    of them once. The versions differ in cost (the newest carries the
    deletion vectors), so a free draw would make a run's cost depend on
    how many of its draws fell on the newest."""
    order = t.orders.get(kind)
    if not order:
        order = t.orders[kind] = [int(v) for v in rng.permutation(range(lo, hi))]
    return order.pop()


def _live(version: int) -> str:
    return f"v_add <= {version} AND (v_del IS NULL OR v_del > {version})"


def build(ctx: Ctx, rng, n_rows: int) -> Table:
    """Base + ``APPENDS`` small appends (a checkpoint every
    ``CHECKPOINT_INTERVAL`` commits) + one DV DELETE touching every
    base file, mirrored row by row in DuckDB."""
    spark, name = ctx.spark, "lineitem"
    path = ctx.path(name)
    base = data.lineitem(rng, n_rows)
    max_key = int(base["l_orderkey"].to_numpy()[-1])
    data.write(base, ctx.path(f"{name}_base.parquet"))
    batch_rows = max(20, n_rows // 1000)
    add = [data.lineitem(rng, batch_rows, max_key + 1 + i * batch_rows)
           for i in range(APPENDS)]
    ctx.duck.execute(
        f"CREATE TABLE {name} AS SELECT *, 0 AS v_add, CAST(NULL AS INT) AS v_del "
        f"FROM read_parquet(?)", [ctx.path(f"{name}_base.parquet")])
    write_delta(
        spark,
        spark.read.parquet(ctx.path(f"{name}_base.parquet"))
        .repartitionByRange(BASE_FILES, "l_orderkey"),
        path,
        configuration={"delta.checkpointInterval": str(CHECKPOINT_INTERVAL)},
    )
    for i, t in enumerate(add):
        f = ctx.path(f"{name}_append{i}.parquet")
        data.write(t, f)
        write_delta(spark, spark.read.parquet(f), path)
        ctx.duck.execute(f"INSERT INTO {name} SELECT *, {i + 1}, NULL "
                         f"FROM read_parquet(?)", [f])
    # one row in about a thousand, in every file: every read of the
    # newest version applies a deletion vector to each file it scans, so
    # a range scan costs the same wherever its range falls
    pred = f"l_orderkey % 997 = {int(rng.integers(0, 997))} AND l_linenumber = 1"
    delete_delta(spark, path, pred)
    ctx.duck.execute(f"UPDATE {name} SET v_del = {APPENDS + 1} WHERE {pred}")
    max_key += APPENDS * batch_rows
    return Table(path, name, max_key, deltalog.checkpoints(path)[-1],
                 deltalog.latest_version(path), deltalog.live_files(path))


def _paths(ps) -> frozenset[str]:
    return frozenset(unquote(p) for p in ps)


def _kept_ratio(ctx: Ctx, t: Table, df, version: int) -> None:
    if ctx.tracer.enabled:
        ctx.tracer.count("delta.scan.files_kept_ratio",
                         len(df.inputFiles()) / len(t.live[version]))


def run_op(ctx: Ctx, t: Table, kind: str, rng) -> None:
    """One read op. The seed picks each parameter from a window of
    similar cost (versions among the last three before the newest
    checkpoint or the newest three, drawn without replacement;
    fixed-width key ranges), so that seeds change plans and data but
    not the amount of work."""
    spark, p = ctx.spark, t.path
    if kind == "scan_range":
        lo = int(rng.integers(1, t.max_key))
        hi = lo + 2_000
        pred = f"l_orderkey BETWEEN {lo} AND {hi}"

        def run():
            with ctx.span("delta.scan"):
                with ctx.span("delta.scan.plan"):
                    df = read_delta(spark, p, predicate=pred)
                with ctx.span("delta.scan.exec"):
                    return df, df.agg(*_spark_agg()).collect()

        def check(res):
            ctx.expect(kind, rows(res[1]), ctx.q(
                f"SELECT {_AGG} FROM {t.mirror} WHERE {pred} AND {_live(t.latest)}"))
            _kept_ratio(ctx, t, res[0], t.latest)
    elif kind == "scan_full":
        pred = f"l_discount <= {int(rng.integers(1, 10)) / 100}"

        def run():
            with ctx.span("delta.scan"):
                with ctx.span("delta.scan.plan"):
                    df = read_delta(spark, p, predicate=pred)
                with ctx.span("delta.scan.exec"):
                    out = (df.groupBy("l_returnflag", "l_linestatus")
                           .agg(*_spark_agg()).collect())
            return df, out

        def check(res):
            ctx.expect(kind, rows(res[1]), ctx.q(
                f"SELECT l_returnflag, l_linestatus, {_AGG} FROM {t.mirror} "
                f"WHERE {pred} AND {_live(t.latest)} GROUP BY ALL"))
            _kept_ratio(ctx, t, res[0], t.latest)
    elif kind == "time_travel":
        v = _version(t, kind, t.last_checkpoint - 3, t.last_checkpoint, rng)
        s = int(rng.integers(100, 1_000))

        def run():
            with ctx.span("delta.scan"):
                with ctx.span("delta.scan.plan"):
                    df = read_delta(spark, p, version=v)
                with ctx.span("delta.scan.exec"):
                    out = df.filter(F.col("l_suppkey") <= s).agg(*_spark_agg()).collect()
            return df, out

        def check(res):
            ctx.expect(kind, rows(res[1]), ctx.q(
                f"SELECT {_AGG} FROM {t.mirror} WHERE l_suppkey <= {s} AND {_live(v)}"))
            _kept_ratio(ctx, t, res[0], v)
    elif kind == "log_replay":
        v = _version(t, kind, t.latest - 2, t.latest + 1, rng)

        def run():
            with ctx.span("delta.snapshot.replay"):
                return log_replay_df(spark, p, version=v).select("path").collect()

        def check(res):
            ctx.expect(kind, sorted(_paths(r[0] for r in res)), sorted(t.live[v]))
    elif kind == "snapshot":
        v = _version(t, kind, t.latest - 2, t.latest + 1, rng)

        def run():
            with ctx.span("delta.snapshot.load"):
                return load_snapshot(p, version=v, spark=spark)

        def check(snap):
            ctx.expect(kind, (snap.version, sorted(_paths(f.path for f in snap.files))),
                       (v, sorted(t.live[v])))
            ctx.tracer.count("delta.snapshot.tail_commits", deltalog.tail_commits(p))
    elif kind == "sql":
        v = _version(t, kind, t.latest - 2, t.latest + 1, rng)
        a = int(rng.integers(1, 150_000))
        b = a + 20_000
        stmt = (f"SELECT l_returnflag, COUNT(*) AS n, SUM(l_quantity) AS q "
                f"FROM delta.`{p}` VERSION AS OF {v} "
                f"WHERE l_partkey BETWEEN {a} AND {b} GROUP BY l_returnflag")

        def run():
            with ctx.span("sql.dispatcher"):
                return sql(spark, stmt).collect()

        def check(res):
            ctx.expect(kind, rows(res), ctx.q(
                f"SELECT l_returnflag, COUNT(*), SUM(l_quantity) FROM {t.mirror} "
                f"WHERE l_partkey BETWEEN {a} AND {b} AND {_live(v)} GROUP BY ALL"))
    else:
        raise ValueError(kind)
    ctx.op(kind, run, check)


def setup(ctx: Ctx, rng, n_rows: int) -> Table:
    with ctx.phase("read fixture"):
        t = build(ctx, rng, n_rows)
    # Warm-up: one op of each kind. Reads change neither the table nor
    # the session's cache, so they run on the fixture itself, with
    # parameters drawn from the set-up stream, not the measured one.
    with ctx.phase("read warm-up"):
        for kind in KINDS:
            run_op(ctx, t, kind, rng)
    t.orders.clear()
    return t
