"""Public-suffix-list (PSL) registered domains as a broadcast
longest-suffix join — zero Python in the data path.

The registered (registrable) domain is the public suffix plus one
label: ``a.b.example.co.uk`` → ``example.co.uk``. Getting this right
needs the Public Suffix List (https://publicsuffix.org/ — public
data); a last-two-labels heuristic is wrong for every ccTLD with
second-level registries. A snapshot ships vendored at
``data/public_suffix_list.dat`` (full PSL file format: ``//``
comments, ICANN/private sections, ``*.`` wildcard rules, ``!``
exception rules). The vendored snapshot is a CURATED SUBSET of the
~10k-rule upstream list (generated by ``tools/gen_psl_snapshot.py``
— the container builds offline): hosts under a registry absent from
the subset resolve via the PSL default rule and collapse to TLD+1.
For the faithful full mapping, drop a fresh upstream snapshot over
the data file — the join depth (kmax) and all rule semantics derive
from the file, in this module AND in the DuckDB oracle.

Matching algorithm (publicsuffix.org/list/, "Formal algorithm"):
among all rules whose labels are a suffix of the host, an exception
rule wins (public suffix = the rule minus its leftmost label);
otherwise the rule with the most labels (a ``*.`` wildcard counts its
``*``); if nothing matches, the default rule ``*`` applies (public
suffix = the last label). Registered domain = public suffix + one
label, or the host itself when the host IS a public suffix (kept
non-null so downstream groupBy/blocklist keys stay total).

Spark shape: the rule table is metadata-scale (the full PSL is ~10k
rules), so the lookup is K tiny BROADCAST left joins — one per rule
label-count k=1..K (K=5 for the vendored snapshot) on the host's
last-k-labels suffix — followed by a pure expression tree picking the
prevailing rule. No UDF, no shuffle of the corpus, whole-stage
codegen end to end; at 100 TB the cost is K broadcast hash probes per
row. The identical candidate-join + greatest() arithmetic replays in
DuckDB for the oracle (``queries/web.py``).

IDN hosts: the snapshot is in punycode form (upstream convention),
and the match itself compares labels as-is — run
:func:`with_ascii_host` (one Arrow stage, stdlib idna codec; ASCII
hosts pass through byte-identical) before the lookup for
internationalized crawls, or pre-encode hosts upstream.
"""

from __future__ import annotations

import os
from functools import lru_cache

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PSL_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data",
    "public_suffix_list.dat",
)


@lru_cache(maxsize=4)
def parse_psl(
    path: str = PSL_PATH, include_private: bool = True
) -> tuple[tuple[tuple[str, int, bool, bool, bool], ...], int]:
    """Parse a PSL-format file → (rules, max_key_labels).

    Each rule is ``(key, n_labels, has_norm, has_wild, has_exc)``
    where ``key`` is the rule with any ``*.``/``!`` marker stripped
    (so a wildcard ``*.ck`` keys on ``ck`` and matches hosts with one
    extra label). One key can carry several rule kinds — flags are
    OR-aggregated per key. Driver-side parse of a KB-scale data file.
    """
    per_key: dict[str, list[bool]] = {}
    in_private = False
    with open(path, encoding="utf-8") as fh:
        for raw in fh:
            line = raw.strip()
            if not line:
                continue
            if line.startswith("//"):
                if "BEGIN PRIVATE DOMAINS" in line:
                    in_private = True
                elif "END PRIVATE DOMAINS" in line:
                    in_private = False
                continue
            if in_private and not include_private:
                continue
            rule = line.split()[0].lower()  # rule ends at 1st whitespace
            exc = rule.startswith("!")
            wild = rule.startswith("*.")
            key = rule[1:] if exc else (rule[2:] if wild else rule)
            ent = per_key.setdefault(key, [False, False, False])
            if exc:
                ent[2] = True
            elif wild:
                ent[1] = True
            else:
                ent[0] = True
    rules = tuple(
        (k, k.count(".") + 1, *flags) for k, flags in sorted(per_key.items())
    )
    kmax = max(r[1] for r in rules)
    return rules, kmax


def with_registered_domain(
    df: DataFrame,
    url_col: str | None = None,
    *,
    host_col: str | None = None,
    out_col: str = "registered_domain",
    path: str = PSL_PATH,
    include_private: bool = True,
    suffix_len_col: str | None = None,
) -> DataFrame:
    """Add the PSL registered domain of ``url_col`` (or a bare host in
    ``host_col``) as ``out_col`` — K broadcast joins + expressions.
    ``suffix_len_col`` (optional) additionally emits the prevailing
    public-suffix LABEL COUNT for each host — a host whose label count
    equals it is itself a public suffix; registered-domain form means
    label count == suffix_len + 1 (used by the scalable blocklist
    validation in ``operators/urls.py``).

    Fidelity note: the default ``path`` is the vendored CURATED
    SUBSET of the upstream PSL (see module docstring) — hosts under
    second-level registries absent from the subset collapse to TLD+1
    via the default rule. Pass ``path=`` a full upstream snapshot for
    the faithful mapping; everything (kmax, rule classes) adapts."""
    if (url_col is None) == (host_col is None):
        raise ValueError("pass exactly one of url_col / host_col")
    from deltalake_datafusion_spark.operators.urls import url_host

    rules, kmax = parse_psl(path, include_private)
    spark = df.sparkSession
    # An Arrow LocalRelation (delta/smalldf.py): the plain
    # createDataFrame parallelizes the rule list across
    # defaultParallelism pickled slices, and each of the K
    # per-label-count broadcast builds below then pays a
    # 32-near-empty-Python-task job to re-read it (measured: five
    # 32-task 2-3 s jobs per PSL-keyed query at local[32]).
    from deltalake_datafusion_spark.delta.smalldf import local_rows_df

    rules_df = local_rows_df(
        spark,
        list(rules),
        "key string, klab int, has_norm boolean, "
        "has_wild boolean, has_exc boolean",
    )

    host = (
        F.col(host_col) if host_col is not None else url_host(F.col(url_col))
    )
    out = df.withColumn("__pslh", F.lower(host))
    labels = F.split(F.col("__pslh"), r"\.")
    n = F.size(labels)
    for k in range(1, kmax + 1):
        out = out.withColumn(
            f"__pslc{k}",
            F.when(n >= k, F.array_join(F.slice(labels, n - k + 1, k), ".")),
        )
        rk = F.broadcast(
            rules_df.filter(F.col("klab") == k).select(
                F.col("key").alias(f"__pslc{k}"),
                F.col("has_norm").alias(f"__psln{k}"),
                F.col("has_wild").alias(f"__pslw{k}"),
                F.col("has_exc").alias(f"__psle{k}"),
            )
        )
        out = out.join(rk, f"__pslc{k}", "left")

    # prevailing rule: exception first (public suffix = rule minus its
    # leftmost label), else the most-labels match (wildcard at key
    # length k is a (k+1)-label rule, valid only when the host has the
    # extra label), else the default rule "*" (last label). The
    # coalesce-to-0 + greatest arithmetic is replayed verbatim by the
    # DuckDB oracle — keep the two in lockstep.
    def _flag(name: str):
        return F.coalesce(F.col(name), F.lit(False))

    exc_terms = [
        F.when(_flag(f"__psle{k}"), F.lit(k)).otherwise(F.lit(0))
        for k in range(1, kmax + 1)
    ]
    exc_len = F.greatest(*exc_terms, F.lit(0))
    cand_terms = [F.lit(1)]
    for k in range(1, kmax + 1):
        cand_terms.append(
            F.when(_flag(f"__psln{k}"), F.lit(k)).otherwise(F.lit(0))
        )
        cand_terms.append(
            F.when(_flag(f"__pslw{k}") & (n >= k + 1), F.lit(k + 1)).otherwise(
                F.lit(0)
            )
        )
    ps = F.when(exc_len > 0, exc_len - 1).otherwise(F.greatest(*cand_terms))
    reg = F.when(
        n > ps, F.array_join(F.slice(labels, n - ps, ps + 1), ".")
    ).otherwise(F.col("__pslh"))
    out = out.withColumn(out_col, reg)
    if suffix_len_col is not None:
        out = out.withColumn(suffix_len_col, ps.cast("int"))
    drop = ["__pslh"] + [
        c
        for k in range(1, kmax + 1)
        for c in (f"__pslc{k}", f"__psln{k}", f"__pslw{k}", f"__psle{k}")
    ]
    return out.drop(*drop)


@lru_cache(maxsize=4)
def _psl_rule_map(
    path: str = PSL_PATH, include_private: bool = True
) -> tuple[dict[str, tuple[bool, bool, bool]], int]:
    """``{key: (has_norm, has_wild, has_exc)}`` + kmax — the dict form
    of :func:`parse_psl` for the driver-side matcher."""
    rules, kmax = parse_psl(path, include_private)
    return {k: (n, w, e) for k, _, n, w, e in rules}, kmax


def public_suffix_len_py(
    host: str, path: str = PSL_PATH, include_private: bool = True
) -> int:
    """Driver-side (pure-Python) replay of the prevailing-rule
    arithmetic in :func:`with_registered_domain` — the SAME exception
    / longest-match / wildcard / default-rule logic, for
    metadata-scale validation (e.g. blocklist sanity checks). Returns
    the public-suffix label count of ``host``."""
    rmap, kmax = _psl_rule_map(path, include_private)
    labels = host.lower().split(".")
    n = len(labels)
    exc_len, cand = 0, 1
    for k in range(1, min(n, kmax) + 1):
        key = ".".join(labels[n - k:])
        flags = rmap.get(key)
        if flags is None:
            continue
        has_norm, has_wild, has_exc = flags
        if has_exc:
            exc_len = max(exc_len, k)
        if has_norm:
            cand = max(cand, k)
        if has_wild and n >= k + 1:
            cand = max(cand, k + 1)
    return exc_len - 1 if exc_len > 0 else cand


def registrable_domain_py(
    host: str, path: str = PSL_PATH, include_private: bool = True
) -> str:
    """Driver-side registered domain of a bare host — public suffix
    plus one label, or the host itself when the host IS a public
    suffix (same non-null contract as the DataFrame form; equivalence
    with the broadcast-join path is pytest-pinned)."""
    labels = host.lower().split(".")
    ps = public_suffix_len_py(host, path, include_private)
    if len(labels) > ps:
        return ".".join(labels[len(labels) - ps - 1:])
    return host.lower()


def is_public_suffix_py(
    host: str, path: str = PSL_PATH, include_private: bool = True
) -> bool:
    """True when ``host`` itself is a PSL public suffix (e.g.
    ``co.uk``, ``github.io``) — such a value can never be the
    registered domain of any PROPER subdomain, so a blocklist entry
    like this blocks only hosts exactly equal to it."""
    return public_suffix_len_py(host, path, include_private) >= len(
        host.split(".")
    )


def idna_ascii_py(host: str) -> str:
    """Best-effort IDNA (punycode) ASCII form of a host, label by
    label (stdlib ``idna`` codec — IDNA 2003, the public spec):
    ``münchen.de`` → ``xn--mnchen-3ya.de``. Labels that are already
    ASCII, or that the codec rejects (empty, over-long), pass through
    unchanged — normalization must never DROP a host. Lowercases
    either way (IDNA output is ASCII-lowercase by definition)."""
    out = []
    for label in host.lower().split("."):
        try:
            out.append(
                label.encode("idna").decode("ascii") if label else label
            )
        except (UnicodeError, UnicodeDecodeError):
            out.append(label)
    return ".".join(out)


def with_ascii_host(
    df: DataFrame,
    host_col: str,
    out_col: str = "ascii_host",
) -> DataFrame:
    """Optional pre-stage for internationalized crawls: add the IDNA
    ASCII form of ``host_col`` so PSL matching (whose snapshot is in
    punycode form, per the upstream convention) sees the same
    rendering — ONE Arrow ``mapInPandas`` stage (the idna codec is
    Python-only; everything downstream stays codegen). Hosts already
    ASCII pass through byte-identical, so the stage can be applied
    unconditionally."""
    import pandas as pd
    from pyspark.sql.types import StringType, StructField, StructType

    out_schema = StructType(
        list(df.schema.fields) + [StructField(out_col, StringType())]
    )

    def run(it):
        for pdf in it:
            pdf[out_col] = pd.Series(
                [
                    None if h is None else idna_ascii_py(str(h))
                    for h in pdf[host_col]
                ],
                index=pdf.index,
                dtype=object,
            )
            yield pdf

    return df.mapInPandas(run, out_schema)
