"""``CREATE / REFRESH / DROP MATERIALIZED VIEW`` — the SQL surface
over the incrementally-maintained views in :mod:`delta.mv` /
:mod:`delta.mv_join` (the extended-dialect pattern the reference's
parser establishes for VACUUM/catalog DDL: a constrained custom
grammar in front of a native execution routine).

Supported definition shapes (the canonical incrementally-maintainable
aggregates):

    CREATE MATERIALIZED VIEW delta.`/mv/path`
    AS SELECT g1[, g2…], COUNT(*) [AS a], SUM(x) [AS b]
              [, MIN(y) [AS c], MAX(y) [AS d]]…
    FROM delta.`/base/path`
    GROUP BY g1[, g2…]

    CREATE MATERIALIZED VIEW delta.`/mv/path`
    AS SELECT g…, COUNT(*), SUM(x)… [, MIN(y), MAX(y)]…
    FROM delta.`/fact` JOIN delta.`/dim` ON fk = dk
    GROUP BY g…                      -- star MV (MIN/MAX: fact cols)

    REFRESH MATERIALIZED VIEW delta.`/mv/path`
    REFRESH ALL MATERIALIZED VIEWS   -- sweep the session registry
    DROP MATERIALIZED VIEW delta.`/mv/path`
    SHOW MATERIALIZED VIEWS          -- registry + freshness + lag

The parsed definition is stored on the view as the
``lakehouse.mv.definition`` table property (JSON), so REFRESH needs
only the view path: it dispatches to the matching incremental
refresh (aggregate / min-max / two-sided join). Output column names
are the canonical ``mv_count`` / ``mv_sum_<c>`` / ``mv_min_<c>`` /
``mv_max_<c>`` regardless of aliases (aliases are accepted and
recorded for documentation; the maintenance layer owns the physical
schema). MIN/MAX on the join form maintain fact-side measures only
(dim-side MIN/MAX would need dim-history recompute machinery the
two-sided algebra doesn't carry)."""

from __future__ import annotations

import json
import re

MV_DEFINITION_KEY = "lakehouse.mv.definition"

# a table reference: `delta.`/path with spaces``, a bare backquoted
# path, or an unquoted token — backquoted forms first so paths with
# spaces match this dialect instead of falling through (ADVICE r10)
_TBL = r"(?:[\w.]+\.`[^`]+`|`[^`]+`|\S+)"

_CREATE_RE = re.compile(
    r"^\s*CREATE\s+MATERIALIZED\s+VIEW\s+(?P<target>" + _TBL + r")\s+"
    r"AS\s+SELECT\s+(?P<sel>.+?)\s+FROM\s+(?P<src>.+?)\s+"
    r"GROUP\s+BY\s+(?P<grp>.+?)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_JOIN_RE = re.compile(
    r"^(?P<fact>" + _TBL + r")\s+JOIN\s+(?P<dim>" + _TBL + r")\s+ON\s+"
    r"(?P<l>[\w.`]+)\s*=\s*(?P<r>[\w.`]+)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_REFRESH_RE = re.compile(
    r"^\s*REFRESH\s+MATERIALIZED\s+VIEW\s+(?P<target>" + _TBL + r")\s*$",
    re.IGNORECASE,
)
_REFRESH_ALL_RE = re.compile(
    r"^\s*REFRESH\s+ALL\s+MATERIALIZED\s+VIEWS\s*$", re.IGNORECASE
)
_DROP_RE = re.compile(
    r"^\s*DROP\s+MATERIALIZED\s+VIEW\s+(?P<target>" + _TBL + r")\s*$",
    re.IGNORECASE,
)
_SHOW_RE = re.compile(
    r"^\s*SHOW\s+MATERIALIZED\s+VIEWS\s*$", re.IGNORECASE
)
_AGG_ITEM_RE = re.compile(
    r"^(?P<fn>COUNT|SUM|MIN|MAX)\s*\(\s*(?P<arg>\*|[\w`]+)\s*\)"
    r"(?:\s+AS\s+(?P<alias>[\w`]+))?$",
    re.IGNORECASE,
)


def _ident(s: str) -> str:
    s = s.strip().strip("`")
    if "." in s:
        s = s.split(".")[-1].strip("`")
    return s


def parse_create_matview(statement: str):
    """Parse a CREATE MATERIALIZED VIEW statement into its definition
    dict, or None when the statement is not this form. Raises
    ``ValueError`` on a malformed definition inside the form."""
    from deltalake_datafusion_spark.sql.dispatcher import (
        _split_top_level_commas,
    )

    m = _CREATE_RE.match(statement)
    if not m:
        return None
    group_cols = [_ident(g) for g in m.group("grp").split(",")]
    sum_cols: list[str] = []
    minmax_cols: list[str] = []
    saw_count = False
    plain: list[str] = []
    for raw in _split_top_level_commas(m.group("sel")):
        item = raw.strip()
        am = _AGG_ITEM_RE.match(item)
        if am:
            fn = am.group("fn").upper()
            arg = _ident(am.group("arg"))
            if fn == "COUNT":
                if am.group("arg").strip() != "*":
                    raise ValueError(
                        "materialized views maintain COUNT(*) only"
                    )
                saw_count = True
            elif fn == "SUM":
                sum_cols.append(arg)
            else:
                if arg not in minmax_cols:
                    minmax_cols.append(arg)
        else:
            plain.append(_ident(item))
    if not saw_count:
        raise ValueError(
            "materialized view definitions must include COUNT(*) (the "
            "maintained cardinality drives group deletion)"
        )
    extra = [c for c in plain if c not in group_cols]
    if extra:
        raise ValueError(
            f"non-aggregate select columns must appear in GROUP BY: {extra}"
        )
    src = m.group("src").strip()
    jm = _JOIN_RE.match(src)
    defn: dict = {
        "group_cols": group_cols,
        "sum_cols": sum_cols,
        "minmax_cols": minmax_cols,
    }
    if jm:
        defn.update(
            kind="join",
            fact=jm.group("fact"),
            dim=jm.group("dim"),
            fact_key=_ident(jm.group("l")),
            dim_key=_ident(jm.group("r")),
        )
    else:
        defn.update(kind="aggregate", base=src)
    return m.group("target"), defn


def execute_create(spark, target: str, defn: dict, registry) -> dict:
    from deltalake_datafusion_spark.delta.mv import build_aggregate_mv
    from deltalake_datafusion_spark.delta.mv_join import build_join_mv
    from deltalake_datafusion_spark.sql.dispatcher import _unquote_target

    mv_path = _unquote_target(target, registry)
    conf = {MV_DEFINITION_KEY: json.dumps(defn, sort_keys=True)}
    if defn["kind"] == "join":
        res = build_join_mv(
            spark,
            _unquote_target(defn["fact"], registry),
            _unquote_target(defn["dim"], registry),
            mv_path,
            fact_key=defn["fact_key"],
            dim_key=defn["dim_key"],
            group_cols=defn["group_cols"],
            sum_cols=defn["sum_cols"],
            minmax_cols=defn["minmax_cols"],
            extra_conf=conf,
        )
    else:
        res = build_aggregate_mv(
            spark, _unquote_target(defn["base"], registry), mv_path,
            defn["group_cols"], defn["sum_cols"], defn["minmax_cols"],
            extra_conf=conf,
        )
    # register for transparent rewrite with RESOLVED paths
    from deltalake_datafusion_spark.sql.mv_rewrite import register_matview

    resolved = dict(defn)
    if defn["kind"] == "join":
        resolved["fact"] = _unquote_target(defn["fact"], registry)
        resolved["dim"] = _unquote_target(defn["dim"], registry)
    else:
        resolved["base"] = _unquote_target(defn["base"], registry)
    register_matview(mv_path, resolved)
    return {"operation": "CREATE MATERIALIZED VIEW", **res}


def execute_refresh(spark, target: str, registry) -> dict:
    from deltalake_datafusion_spark.delta.mv import refresh_aggregate_mv
    from deltalake_datafusion_spark.delta.mv_join import refresh_join_mv
    from deltalake_datafusion_spark.delta.snapshot import load_snapshot
    from deltalake_datafusion_spark.sql.dispatcher import _unquote_target

    mv_path = _unquote_target(target, registry)
    snap = load_snapshot(mv_path, spark=spark)
    raw = (snap.metadata.configuration or {}).get(MV_DEFINITION_KEY)
    if raw is None:
        raise ValueError(
            f"{mv_path} has no {MV_DEFINITION_KEY} property — not a "
            "SQL-defined materialized view (CREATE MATERIALIZED VIEW "
            "first)"
        )
    defn = json.loads(raw)
    if defn["kind"] == "join":
        res = refresh_join_mv(
            spark,
            _unquote_target(defn["fact"], registry),
            _unquote_target(defn["dim"], registry),
            mv_path,
            fact_key=defn["fact_key"],
            dim_key=defn["dim_key"],
            group_cols=defn["group_cols"],
            sum_cols=defn["sum_cols"],
            minmax_cols=defn["minmax_cols"],
        )
    else:
        res = refresh_aggregate_mv(
            spark, _unquote_target(defn["base"], registry), mv_path,
            defn["group_cols"], defn["sum_cols"], defn["minmax_cols"],
        )
    return {"operation": "REFRESH MATERIALIZED VIEW", **res}


def dispatch_matview(spark, statement: str, registry):
    """The dispatcher hook: a summary DataFrame for the three MV
    statements, or None when the statement is not one of them."""
    created = parse_create_matview(statement)
    if created is not None:
        target, defn = created
        res = execute_create(spark, target, defn, registry)
        return spark.createDataFrame(
            [(res["operation"], json.dumps(defn, sort_keys=True),
              res["mode"])],
            "operation string, definition string, mode string",
        )
    m = _REFRESH_RE.match(statement)
    if m:
        res = execute_refresh(spark, m.group("target"), registry)
        return spark.createDataFrame(
            [(res["operation"], res["mode"],
              int(res.get("groups_touched", 0)))],
            "operation string, mode string, groups_touched int",
        )
    if _REFRESH_ALL_RE.match(statement):
        return refresh_all_matviews(spark, registry)
    if _SHOW_RE.match(statement):
        return show_matviews(spark)
    m = _DROP_RE.match(statement)
    if m:
        import shutil

        from deltalake_datafusion_spark.sql.dispatcher import (
            _unquote_target,
        )

        mv_path = _unquote_target(m.group("target"), registry)
        # refuse to drop a table that is not a maintained view —
        # DROP MATERIALIZED VIEW must not delete arbitrary tables
        from deltalake_datafusion_spark.delta.snapshot import (
            load_snapshot,
        )

        snap = load_snapshot(mv_path, spark=spark)
        conf = snap.metadata.configuration or {}
        if MV_DEFINITION_KEY not in conf:
            raise ValueError(
                f"{mv_path} is not a SQL-defined materialized view"
            )
        from deltalake_datafusion_spark.sql.mv_rewrite import (
            unregister_matview,
        )

        unregister_matview(mv_path)
        shutil.rmtree(mv_path, ignore_errors=True)
        return spark.createDataFrame(
            [("DROP MATERIALIZED VIEW", mv_path)],
            "operation string, path string",
        )
    return None


def refresh_all_matviews(spark, registry=None):
    """``REFRESH ALL MATERIALIZED VIEWS`` — the maintenance-service
    verb over the staleness surface (VERDICT r11 #5): every view
    registered in this session refreshes incrementally (a fresh view
    no-ops without committing), one row per view in the summary.
    Views dropped out-of-band are skipped. Each refresh inherits the
    entry points' concurrent-refresh retry, so racing a parallel
    maintainer is safe."""
    rows = []
    from deltalake_datafusion_spark.sql.mv_rewrite import (
        registered_matviews,
    )

    for mv_path in sorted(registered_matviews()):
        try:
            res = execute_refresh(
                spark, f"delta.`{mv_path}`", registry
            )
        except Exception as e:  # dropped out-of-band / not a view
            rows.append((mv_path, "error", 0, str(e)[:120]))
            continue
        rows.append(
            (mv_path, res["mode"],
             int(res.get("groups_touched", 0)), None)
        )
    return spark.createDataFrame(
        rows,
        "path string, mode string, groups_touched int, error string",
    )


def show_matviews(spark):
    """``SHOW MATERIALIZED VIEWS``: one row per view registered for
    rewrite in this session — path, definition kind, source
    table(s), group columns, the committed watermark(s), the bases'
    CURRENT version(s), the staleness LAG in base commits (VERDICT
    r11 #5 — the refresh-cadence signal a maintenance operator
    schedules from; the join form reports the larger of its two
    lags), and whether the view is currently FRESH (lag 0, i.e. the
    transparent rewrite fires under the default policy). One
    snapshot read per listed table, no data scan."""
    from deltalake_datafusion_spark.delta.snapshot import load_snapshot
    from deltalake_datafusion_spark.sql.mv_rewrite import (
        registered_matviews,
    )

    rows = []
    for mv_path, defn in sorted(registered_matviews().items()):
        try:
            snap = load_snapshot(mv_path, spark=spark)
        except Exception:
            continue  # dropped out-of-band
        if defn["kind"] == "join":
            from deltalake_datafusion_spark.delta.mv_join import (
                join_mv_watermarks,
            )

            wm = join_mv_watermarks(snap)
            src = f"{defn['fact']} JOIN {defn['dim']}"
            f_ver = load_snapshot(defn["fact"], spark=spark).version
            d_ver = load_snapshot(defn["dim"], spark=spark).version
            base_s = f"fact={f_ver},dim={d_ver}"
            lag = (
                max(f_ver - wm[0], d_ver - wm[1], 0)
                if wm is not None
                else None
            )
            wm_s = f"fact={wm[0]},dim={wm[1]}" if wm else None
        else:
            from deltalake_datafusion_spark.delta.mv import mv_watermark

            wm = mv_watermark(snap)
            src = defn["base"]
            b_ver = load_snapshot(defn["base"], spark=spark).version
            base_s = str(b_ver)
            lag = max(b_ver - wm, 0) if wm is not None else None
            wm_s = str(wm) if wm is not None else None
        rows.append(
            (
                mv_path,
                defn["kind"],
                src,
                ",".join(defn["group_cols"]),
                wm_s,
                base_s,
                lag,
                lag == 0,
            )
        )
    return spark.createDataFrame(
        rows,
        "path string, kind string, source string, group_cols string, "
        "watermark string, base_version string, lag int, fresh boolean",
    )
