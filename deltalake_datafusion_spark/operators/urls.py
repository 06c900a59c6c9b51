"""URL canonicalization and domain operators — the fetch-frontier /
provenance step of a web-corpus pipeline (RefinedWeb / FineWeb filter
and dedup by canonical URL and registered domain before anything
touches document text).

Pure `pyspark.sql.functions` expression trees (regex in the
Java-regex ∩ RE2 common subset, no lookarounds/backrefs), so the same
patterns replay in any engine and the operators run at scan speed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# query parameters that never identify content (tracking)
TRACKING_PARAMS = r"(utm_[a-z]+|fbclid|gclid|mc_cid|mc_eid|ref_src)"


def normalize_url(col) -> Column:
    """Canonical URL form:

    1. ``scheme://host[:port]`` lowercased (path/query case kept —
       paths are case-significant);
    2. fragment stripped;
    3. default ports stripped (``:80`` for http, ``:443`` for https);
    4. tracking query parameters removed (:data:`TRACKING_PARAMS`),
       separator debris tidied (``?&`` / ``&&`` / trailing ``?``/``&``);
    5. ``/`` appended to a bare authority (``https://a.com`` →
       ``https://a.com/``).
    """
    u = F.trim(col)
    # scheme and host lowercase; USERINFO keeps its case (RFC 3986 —
    # credentials are case-significant, and lowercasing would merge
    # distinct resources in url_dedup)
    prefix = F.regexp_extract(u, r"^[^/]*//[^/?#]*", 0)
    scheme = F.regexp_extract(prefix, r"^([^/]*//)", 1)
    userinfo = F.regexp_extract(prefix, r"^[^/]*//([^/@?#]*@)", 1)
    hostport = F.regexp_extract(prefix, r"^[^/]*//(?:[^/@?#]*@)?(.*)$", 1)
    rest = F.substring(u, F.length(prefix) + 1, F.lit(1 << 30))
    u = F.concat(F.lower(scheme), userinfo, F.lower(hostport), rest)
    u = F.regexp_replace(u, r"#.*$", "")
    u = F.regexp_replace(u, r"^(http://[^/:?#]+):80(/|\?|$)", r"$1$2")
    u = F.regexp_replace(u, r"^(https://[^/:?#]+):443(/|\?|$)", r"$1$2")
    u = F.regexp_replace(
        u, r"([?&])" + TRACKING_PARAMS + r"=[^&#]*", r"$1"
    )
    u = F.regexp_replace(u, r"&&+", "&")
    u = F.regexp_replace(u, r"\?&", "?")
    u = F.regexp_replace(u, r"[?&]+$", "")
    u = F.when(
        u.rlike(r"^[a-z][a-z0-9+.-]*://[^/?#]+$"), F.concat(u, F.lit("/"))
    ).otherwise(u)
    return u


def url_host(col) -> Column:
    """Lowercased host of a URL (port and userinfo stripped)."""
    return F.lower(
        F.regexp_extract(col, r"^[^/]*//(?:[^/@?#]*@)?([^/:?#]+)", 1)
    )


def url_registered_domain(col) -> Column:
    """Last-two-labels registered domain (``a.b.example.co`` →
    ``example.co``). Heuristic, wrong for second-level ccTLD
    registries (``example.co.uk`` → ``co.uk``) — the faithful
    PSL-backed mapping is :func:`operators.psl.with_registered_domain`
    (broadcast longest-suffix join, still zero-Python); this
    expression-only form remains for contexts that need a bare
    ``Column`` with no join."""
    host = url_host(col)
    return F.when(
        host.rlike(r"\.[^.]+\.[^.]+$"),
        F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1),
    ).otherwise(host)


def url_dedup(
    df: DataFrame, url_col: str, id_col: str
) -> DataFrame:
    """Keep one row (min id) per CANONICAL URL — crawl frontiers
    re-fetch the same page through tracking-parameter and fragment
    variants; one digest shuffle, same shape as ``exact_dedup``."""
    from deltalake_datafusion_spark.operators.dedup import exact_dedup

    keyed = df.withColumn("__canon", normalize_url(F.col(url_col)))
    return exact_dedup(
        keyed, "__canon", id_col, normalize=False
    ).drop("__canon")


def domain_blocklist_filter(
    df: DataFrame,
    url_col: str,
    blocked_domains: DataFrame,
    keep_blocked: bool = False,
    psl: bool = True,
) -> DataFrame:
    """Drop (or keep, for auditing) rows whose registered domain is in
    the blocklist — one BROADCAST semi/anti join on the domain (the
    blocklist is always metadata-scale; corpus text never shuffles).
    ``blocked_domains`` must have a ``domain`` column.

    ``psl=True`` (default) resolves the registered domain through the
    vendored Public Suffix List (``operators/psl.py``) so
    ``example.co.uk`` in the blocklist blocks exactly that registrant
    — never the whole ``co.uk`` namespace; ``psl=False`` keeps the
    join-free last-two-labels heuristic.

    MIGRATION NOTE (psl=False → psl=True): under the PSL mapping a
    blocklist entry that is itself a public suffix (``co.uk``,
    ``blogspot.com``) can never equal any proper subdomain's
    registered domain — it blocks only a host exactly equal to it, so
    namespace-wide entries that "worked" under the heuristic silently
    under-block. This function VALIDATES the blocklist and emits a
    ``UserWarning`` with counts + up-to-20 samples of (a) entries
    that are PSL public suffixes and (b) entries that are not in
    registered-domain form (e.g. ``www.example.co.uk``) and can
    therefore never match; pass explicit registrants instead, or
    ``psl=False`` for the old namespace-prefix behavior. The
    validation runs as ONE distributed aggregate over the blocklist
    (plus two early-exit ``limit`` jobs for samples, only when
    something is flagged) — never a full driver-side collect, so a
    10M-entry blocklist can't stall the driver on a warning path."""
    if psl:
        from deltalake_datafusion_spark.operators.psl import (
            with_registered_domain,
        )

        checked = with_registered_domain(
            blocked_domains.select(F.lower("domain").alias("domain"))
            .filter(F.col("domain").isNotNull()),
            host_col="domain",
            out_col="__reg",
            suffix_len_col="__ps",
        ).withColumn("__nlab", F.size(F.split(F.col("domain"), r"\.")))
        is_suffix = F.col("__nlab") <= F.col("__ps")
        is_nonreg = (~is_suffix) & (F.col("__nlab") > F.col("__ps") + 1)
        counts = checked.agg(
            F.sum(is_suffix.cast("long")).alias("n_suffix"),
            F.sum(is_nonreg.cast("long")).alias("n_nonreg"),
        ).collect()[0]
        n_suffix = counts["n_suffix"] or 0
        n_nonreg = counts["n_nonreg"] or 0
        if n_suffix or n_nonreg:
            import warnings

            def _samples(flag) -> list[str]:
                return sorted(
                    r["domain"]
                    for r in checked.filter(flag)
                    .select("domain")
                    .limit(20)
                    .collect()
                )

            parts = []
            if n_suffix:
                parts.append(
                    f"{n_suffix} entries that are PSL public suffixes "
                    "and only match an exactly-equal host: "
                    f"{_samples(is_suffix)}"
                )
            if n_nonreg:
                parts.append(
                    f"{n_nonreg} entries not in registered-domain "
                    f"form (never match): {_samples(is_nonreg)}"
                )
            warnings.warn(
                "domain_blocklist_filter(psl=True): " + "; ".join(parts)
                + " — list explicit registrants, or use psl=False for "
                "namespace-prefix blocking",
                UserWarning,
                stacklevel=2,
            )
        keyed = with_registered_domain(df, url_col, out_col="__dom")
    else:
        keyed = df.withColumn("__dom", url_registered_domain(F.col(url_col)))
    how = "left_semi" if keep_blocked else "left_anti"
    return keyed.join(
        F.broadcast(blocked_domains.select(F.col("domain").alias("__dom"))),
        "__dom",
        how,
    ).drop("__dom")


def url_path(col) -> Column:
    """Path component of a URL (query/fragment excluded; ``/`` for a
    bare authority so the set element is always non-empty)."""
    p = F.regexp_extract(col, r"^[^/]*//[^/?#]*([^?#]*)", 1)
    return F.when(p == "", F.lit("/")).otherwise(p)


def domain_mirror_pairs(
    df: DataFrame,
    url_col: str,
    threshold: float = 0.6,
    num_perm: int = 64,
    bands: int = 32,
    psl: bool = True,
    max_bucket: int = 200,
    seed: int = 42,
) -> DataFrame:
    """MIRROR-SITE detection: near-duplicate registered DOMAINS by
    MinHash-LSH over each domain's URL *path set* — mirrors serve the
    same content tree under a different registrant, so their path
    sets are near-identical even when hosts, schemes and tracking
    params differ. The standard crawl-dedup companion to per-document
    near-dup (a mirror is caught once at the domain level instead of
    once per page).

    Returns ``(domain_a, domain_b, n_paths_a, n_paths_b, n_common,
    jaccard)`` for exact path-set Jaccard ≥ ``threshold``,
    ``domain_a < domain_b``.

    Scale shape: the corpus collapses to one distinct-path-hash set
    per registered domain (shuffles carry only (domain, 8-byte hash)
    digests — URLs and text never move); MinHash signatures, LSH
    banding and the candidate join are the shared machinery of
    ``operators/dedup.py`` (never all-pairs across domains); exact
    verification joins only LSH candidates. PSL keying (round-8
    snapshot) is what makes the unit of comparison the REGISTRANT —
    the two-label heuristic would fold every ``*.co.uk`` mirror
    family into one key and miss them all."""
    from deltalake_datafusion_spark.operators.dedup import (
        _signature_of,
        minhash_lsh_candidates,
    )

    if psl:
        from deltalake_datafusion_spark.operators.psl import (
            with_registered_domain,
        )

        keyed = with_registered_domain(df, url_col, out_col="domain")
    else:
        keyed = df.withColumn(
            "domain", url_registered_domain(F.col(url_col))
        )
    paths = keyed.select(
        "domain", url_path(F.col(url_col)).alias("__path")
    ).distinct()
    # One row per registered domain — the pipeline's designed collapse
    # point. It feeds FOUR differently-projected consumers (signature,
    # both verification sides, the name/size join); the differing
    # column pruning gives each consumer its own exchange, so AQE
    # reuse never shares the PSL-keying + distinct + collect_set
    # subtree, and the consumers are CONCURRENT broadcast futures that
    # race a cold cache (measured: five ~32-task repeats per query at
    # local[32], unchanged by a lazy persist). Eager fill is therefore
    # justified here — unlike r12's setjoin case, where AQE reuse
    # already shared the exchange and the eager count was pure cost
    # (guide §5). The returned plan reads these rows lazily, so the
    # cut is a localCheckpoint the ContextCleaner reclaims.
    sets_ = paths.groupBy("domain").agg(
        F.collect_set(F.xxhash64("__path")).alias("sh")
    ).localCheckpoint(eager=True)
    hsh = sets_.select(F.xxhash64("domain").alias("id"), "sh")
    names = sets_.select(
        F.xxhash64("domain").alias("id"),
        "domain",
        F.size("sh").alias("n_paths"),
    )
    sigs = _signature_of(hsh, num_perm, seed)
    cands = minhash_lsh_candidates(sigs, bands, max_bucket)
    verified = (
        cands.join(
            hsh.select(F.col("id").alias("a"), F.col("sh").alias("sh_a")),
            "a",
        )
        .join(
            hsh.select(F.col("id").alias("b"), F.col("sh").alias("sh_b")),
            "b",
        )
        .withColumn(
            "n_common", F.size(F.array_intersect("sh_a", "sh_b"))
        )
        .withColumn(
            "jaccard",
            F.col("n_common")
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "n_common", "jaccard")
    )
    out = (
        verified.join(
            names.select(
                F.col("id").alias("a"),
                F.col("domain").alias("dom_x"),
                F.col("n_paths").alias("np_x"),
            ),
            "a",
        )
        .join(
            names.select(
                F.col("id").alias("b"),
                F.col("domain").alias("dom_y"),
                F.col("n_paths").alias("np_y"),
            ),
            "b",
        )
    )
    first = F.col("dom_x") <= F.col("dom_y")
    return out.select(
        F.when(first, F.col("dom_x")).otherwise(F.col("dom_y")).alias(
            "domain_a"
        ),
        F.when(first, F.col("dom_y")).otherwise(F.col("dom_x")).alias(
            "domain_b"
        ),
        F.when(first, F.col("np_x")).otherwise(F.col("np_y")).alias(
            "n_paths_a"
        ),
        F.when(first, F.col("np_y")).otherwise(F.col("np_x")).alias(
            "n_paths_b"
        ),
        "n_common",
        "jaccard",
    )
