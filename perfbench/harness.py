"""Run context shared by the workloads: session, timing, checks, output.

One Spark session on ``local[nproc]`` in this process and one client
thread: each op is issued only after the previous one returned (a
closed loop with one client). An op is timed from the public call until
its result is materialized; its correctness check runs afterwards,
outside the timed region and outside any span.
"""

from __future__ import annotations

import math
import os
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from decimal import Decimal

import duckdb

from perfbench.trace import Tracer

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class Mismatch(Exception):
    """An op's result disagrees with the independent computation."""


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work: str) -> None:
    """Process-wide settings read when the JVM and Python workers
    start: the session runs on exactly this machine's cores, the
    workers import the package from this checkout, and temporary files
    stay inside the work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    paths = [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))


def spark_conf(work: str, event_log_dir: str | None) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


# ------------------------------------------------------------------ #
# Result comparison                                                   #
# ------------------------------------------------------------------ #


def plain(v):
    """Spark/DuckDB/numpy scalars and rows as plain Python values."""
    if isinstance(v, Decimal):
        return float(v)
    if hasattr(v, "item") and not isinstance(v, (list, tuple, dict)):
        return v.item()
    if isinstance(v, (list, tuple)):
        return tuple(plain(x) for x in v)
    return v


def rows(rs) -> list[tuple]:
    """Rows as a sorted list of plain tuples (order-insensitive compare)."""
    return sorted((plain(tuple(r)) for r in rs), key=repr)


def same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return a == b


# ------------------------------------------------------------------ #
# Run context                                                         #
# ------------------------------------------------------------------ #


class Ctx:
    """What a workload needs during a run: the session, the work
    directory, the DuckDB mirror, the tracer, and the op tallies."""

    def __init__(self, spark, work: str, seed: int, sf: float, tracer: Tracer,
                 inject_fault: bool = False):
        self.spark = spark
        self.sc = spark.sparkContext
        self.work = work
        self.seed = seed
        self.sf = sf
        self.tracer = tracer
        self.duck = duckdb.connect()
        self.duck.execute("SET threads = 2")
        self.duck.execute(f"SET temp_directory = '{os.path.join(work, 'tmp', 'duck')}'")
        self.latencies_ms: list[float] = []
        self.kinds: list[str] = []
        self.attempted = 0
        self.failed = 0
        self._fault = inject_fault

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def span(self, name: str):
        return self.tracer.span(name)

    @contextmanager
    def phase(self, name: str):
        """Log a set-up phase's duration to standard error."""
        t0 = time.perf_counter()
        yield
        print(f"[perfbench] {name}: {time.perf_counter() - t0:.2f} s",
              file=sys.stderr)

    def q(self, sql: str, params=None) -> list[tuple]:
        """Rows of a DuckDB query, sorted, as plain tuples."""
        return rows(self.duck.execute(sql, params or []).fetchall())

    def expect(self, what: str, actual, expected) -> None:
        if self._fault:
            # test hook: the first comparison gets a wrong expected value
            self._fault = False
            expected = ("deliberately wrong", expected)
        if not same(plain(actual), plain(expected)):
            raise Mismatch(f"{what}: got {actual!r}, expected {expected!r}")

    def op(self, kind: str, run, check=None):
        """Time ``run()`` (the call plus materializing its result), then
        check the result. An exception or a failed check counts the op
        as failed; a failed op's latency is not recorded."""
        self.attempted += 1
        try:
            with self.span("op." + kind):
                t0 = time.perf_counter()
                result = run()
                dt = time.perf_counter() - t0
            if check is not None:
                check(result)
        except Exception:
            self.failed += 1
            print(f"[perfbench] op {kind} failed:\n{traceback.format_exc()}",
                  file=sys.stderr)
            return None
        finally:
            if self.tracer.enabled:
                self.tracer.count("spark.persisted_rdds",
                                  self.sc._jsc.getPersistentRDDs().size())
        self.latencies_ms.append(dt * 1e3)
        self.kinds.append(kind)
        return result

    def close(self) -> None:
        self.duck.close()


def tail(latencies: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest nearest-rank percentile with at
    least ten samples beyond it; the maximum when there are ≤ 10."""
    xs = sorted(latencies)
    n = len(xs)
    if n <= 10:
        return 100.0, xs[-1]
    k = n - 10
    return 100.0 * k / n, xs[k - 1]


def end_to_end(setup_s: float, latencies: list[float], kinds: list[str]) -> dict:
    """The end-to-end metrics from the measured ops.

    Both timings rest on each op kind's median latency, so that a single
    stalled op (a GC pause, a busy neighbour on a shared host) moves
    neither. With every op's latency replaced by its kind's median,
    ``wall_s`` is the sum over the sequence and ``op_p50_ms`` the
    geometric mean. A plain median over all ops would sit in the gap
    between two kinds' latency clusters and jump between them from run
    to run."""
    by_kind: dict[str, list[float]] = {}
    for k, ms in zip(kinds, latencies):
        by_kind.setdefault(k, []).append(ms)
    p50 = {k: statistics.median(xs) for k, xs in by_kind.items()}
    for k, xs in by_kind.items():
        print(f"[perfbench] op {k}: n={len(xs)} median={p50[k]:.1f} ms "
              f"({', '.join(f'{x:.0f}' for x in xs)})", file=sys.stderr)
    pct, tail_ms = tail(latencies)
    print(f"[perfbench] op tail (p{pct:.0f} of {len(latencies)} ops): "
          f"{tail_ms:.1f} ms; plain sum {sum(latencies) / 1e3:.2f} s",
          file=sys.stderr)
    n = {k: len(xs) for k, xs in by_kind.items()}
    wall_s = sum(n[k] * ms for k, ms in p50.items()) / 1e3
    gmean = math.exp(sum(n[k] * math.log(ms) for k, ms in p50.items()) / len(latencies))
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall_s, "s"),
        "op_p50_ms": (gmean, "ms"),
    }
