"""Portable, MERGEABLE HyperLogLog sketches as pure expression trees
(Flajolet et al. 2007) — cross-engine-deterministic approximate
distinct counting.

Spark's built-in ``approx_count_distinct`` is a sketch whose hash is
engine-local, so queries built on it can only be rows-only checked
(the repo's ``q_approx_aggs``). This HLL derives every register from
the repo's portable md5 arithmetic and keeps the register SUM in
exact integer units, so the whole sketch — registers, merges, and
the final estimate arithmetic — replays bit-for-bit in DuckDB/any
ANSI engine, making approximate distinct counts ORACLE-CHECKABLE.

Register math (b index bits, m = 2^b registers, 60-bit md5 hash):

- ``idx = h & (m-1)``; ``w = h >> b`` (52 usable bits at b=8);
- ``rho = 52 − bitlen(w) + 1`` (leading-zero rank; ``bitlen`` via
  the engine's integer→binary-string length — integer-exact, no
  floating log2 whose last ulp could differ between libms);
- per group per register keep ``max(rho)`` — the classic mergeable
  state: UNION of sketches = element-wise register max;
- estimate: ``α_m · m² / Σ 2^(−M_j)``, with the register sum carried
  as a LONG in units of 2^−53 (every term 2^(53−rho) is an exact
  power of two; the sum of ≤ m+zero terms stays < 2^63), so the only
  floating-point steps are one division and the small-range
  linear-counting branch — identical across engines;
- small-range correction: raw ≤ 2.5·m and V>0 → ``m·ln(m/V)``.

Scale shape: ONE partial-aggregated groupBy (group, register) — the
shuffle carries ≤ m rows per group per task regardless of corpus
size — then a metadata-scale per-group rollup. Sketches persist as
(group, idx, reg) rows and merge across days/partitions with a plain
``groupBy … max`` — the property that makes HLL the standard for
incremental distinct-count rollups at 100 TB.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

HLL_W = 52  # usable hash bits above the index at b=8 (60 - 8)


def _hll_alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1 + 1.079 / m)


def hll_sketch(
    df: DataFrame,
    key_col: str,
    group_cols: list[str],
    b: int = 8,
) -> DataFrame:
    """(group_cols…, idx, reg) register rows — the persistable,
    mergeable sketch state. NULL keys carry no information (SQL
    distinct-count semantics ignore NULL)."""
    m = 1 << b
    w_bits = 60 - b
    key = F.col(key_col)
    h = F.conv(F.substring(F.md5(key.cast("string")), 1, 15), 16, 10).cast(
        "long"
    )
    idx = h.bitwiseAND(F.lit(m - 1))
    w = F.shiftright(h, b)
    # integer-exact bit length via base-2 string render — NOT log2
    # (floating log could differ in the last ulp between engines)
    bitlen = F.length(F.conv(w.cast("string"), 10, 2))
    rho = F.when(w > 0, F.lit(w_bits) - bitlen + 1).otherwise(
        F.lit(w_bits + 1)
    )
    return (
        df.filter(key.isNotNull())
        .select(*group_cols, idx.alias("idx"), rho.alias("rho"))
        .groupBy(*group_cols, "idx")
        .agg(F.max("rho").alias("reg"))
    )


def hll_merge(
    sketch_a: DataFrame, sketch_b: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Union of two sketches: element-wise register max — the HLL
    merge is lossless (sketch(A ∪ B) ≡ merge(sketch(A), sketch(B)),
    register for register; pytest-pinned)."""
    return (
        sketch_a.unionByName(sketch_b)
        .groupBy(*group_cols, "idx")
        .agg(F.max("reg").alias("reg"))
    )


def hll_estimate(
    sketch: DataFrame,
    group_cols: list[str],
    b: int = 8,
    out_col: str = "n_distinct_est",
) -> DataFrame:
    """Per-group cardinality estimate from register rows. The
    register sum is an exact LONG (units of 2^-53): absent registers
    contribute 2^53 each, a register with rank rho contributes
    2^(53-rho) — so the pre-division arithmetic is integer-identical
    in any engine."""
    m = 1 << b
    alpha = _hll_alpha(m)
    w_bits = 60 - b
    unit = 1 << (w_bits + 1)  # 2^53 at b=8: the rho=0 (absent) term
    per = sketch.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("__n"),
        # shiftleft in the DSL takes only a literal bit count — the
        # SQL form accepts a column
        F.sum(
            F.expr(f"shiftleft(1L, CAST({w_bits + 1} - reg AS INT))")
        ).alias("__zp"),
    )
    z = (F.col("__zp") + (F.lit(m) - F.col("__n")) * F.lit(unit)).cast(
        "double"
    )
    raw = F.lit(alpha * m * m) * F.lit(float(unit)) / z
    v = (F.lit(m) - F.col("__n")).cast("double")  # zero registers
    est = F.when(
        (raw <= 2.5 * m) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v),
    ).otherwise(raw)
    return per.select(*group_cols, est.alias(out_col))


def approx_distinct(
    df: DataFrame,
    key_col: str,
    group_cols: list[str],
    b: int = 8,
    out_col: str = "n_distinct_est",
) -> DataFrame:
    """Sketch + estimate in one call — the drop-in portable
    ``approx_count_distinct`` (relative error ≈ 1.04/√m: ~6.5 % at
    the default 256 registers; raise ``b`` for tighter bounds)."""
    return hll_estimate(
        hll_sketch(df, key_col, group_cols, b), group_cols, b, out_col
    )


def cms_sketch(
    df: DataFrame,
    key_col: str,
    group_cols: list[str] | None = None,
    d: int = 4,
    w_bits: int = 10,
    weight_col: str | None = None,
) -> DataFrame:
    """Portable, MERGEABLE count-min sketch (Cormode & Muthukrishnan
    2005) as a pure expression tree — cross-engine-deterministic
    approximate frequency counting.

    ``d`` independent hash rows × ``w = 2^w_bits`` buckets; every
    bucket index derives from the repo's portable md5 arithmetic
    (``md5(j ‖ ':' ‖ key)`` → 60-bit integer → low ``w_bits`` bits),
    so the sketch state — and therefore every estimate read off it —
    replays bit-for-bit in DuckDB/any ANSI engine. Counts are exact
    longs; CMS guarantees ``estimate ≥ true count`` with
    ``P[err > ε·N] ≤ (1/2^w_bits)^?``-style bounds (ε = e/w, δ =
    e^-d for the classic parameterization).

    Scale shape: each input row fans out to ``d`` (row, bucket)
    pairs, then ONE partial-aggregated groupBy — the shuffle carries
    ≤ ``d·w`` rows per group per task regardless of corpus size (4096
    at the defaults). Sketches persist as (group…, j, bucket, cnt)
    rows and merge across days/partitions with a plain
    ``groupBy … sum`` — the standard incremental heavy-hitter rollup
    at 100 TB.

    ``weight_col`` counts each occurrence by a long weight instead
    of 1 (e.g. pre-aggregated counts)."""
    group_cols = group_cols or []
    key = F.col(key_col)
    wgt = F.lit(1).cast("long") if weight_col is None else F.col(
        weight_col
    ).cast("long")
    w_mask = (1 << w_bits) - 1
    pairs = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(str(j)), F.lit(":"), key)),
                        1,
                        15,
                    ),
                    16,
                    10,
                )
                .cast("long")
                .bitwiseAND(F.lit(w_mask))
                .alias("bucket"),
            )
            for j in range(d)
        ]
    )
    return (
        df.filter(key.isNotNull())
        .select(*group_cols, wgt.alias("__w"), F.explode(pairs).alias("p"))
        .select(*group_cols, "p.j", "p.bucket", "__w")
        .groupBy(*group_cols, "j", "bucket")
        .agg(F.sum("__w").alias("cnt"))
    )


def cms_merge(
    sketch_a: DataFrame, sketch_b: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """Union of two sketches: element-wise counter sum — the CMS
    merge is lossless (sketch(A ⊎ B) ≡ merge(sketch(A), sketch(B)),
    counter for counter; pytest-pinned)."""
    group_cols = group_cols or []
    return (
        sketch_a.unionByName(sketch_b)
        .groupBy(*group_cols, "j", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def cms_lookup(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    d: int = 4,
    w_bits: int = 10,
    out_col: str = "cms_est",
) -> DataFrame:
    """Point-query the sketch for each row of ``keys``: the estimate
    is ``min`` over the ``d`` rows of the key's bucket counters
    (absent bucket = 0). The sketch is ``d·w`` rows — broadcast — so
    the probe is ``d`` broadcast joins folded into one via the
    exploded (j, bucket) pairs; no shuffle lands on the keys side
    beyond the final per-key min."""
    from pyspark.sql.functions import broadcast

    key = F.col(key_col)
    w_mask = (1 << w_bits) - 1
    pairs = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(str(j)), F.lit(":"), key)),
                        1,
                        15,
                    ),
                    16,
                    10,
                )
                .cast("long")
                .bitwiseAND(F.lit(w_mask))
                .alias("bucket"),
            )
            for j in range(d)
        ]
    )
    probed = (
        keys.select("*", F.explode(pairs).alias("p"))
        .select("*", "p.j", "p.bucket")
        .drop("p")
        .join(broadcast(sketch), ["j", "bucket"], "left")
        .withColumn("cnt", F.coalesce(F.col("cnt"), F.lit(0).cast("long")))
    )
    others = [c for c in keys.columns]
    return probed.groupBy(*others).agg(F.min("cnt").alias(out_col))


# ------------------------------------------------------------------ #
# KMV (k-minimum-values) distinct sketch                              #
# ------------------------------------------------------------------ #

KMV_K = 64
# estimate arithmetic: ((k-1) << KMV_EST_SHIFT) div (kth >> KMV_DROP)
# — pure int64 (63·2^40 < 2^46; kth>>20 < 2^40), exact in any engine.
KMV_EST_SHIFT = 40
KMV_DROP = 20


def kmv_sketch(
    df: DataFrame, key: str, group_cols=(), k: int = KMV_K
) -> DataFrame:
    """K-minimum-values distinct sketch (Bar-Yossef et al. 2002;
    Beyer et al. 2007): per group, the ``k`` smallest DISTINCT
    60-bit portable md5 hashes of ``key`` — the second mergeable
    distinct-count sketch beside :func:`hll_sketch`, and the one
    that also supports SET algebra by hash membership (union = merge
    + re-truncate; intersection via the Beyer et al. matching-hash
    estimator, see :func:`kmv_set_ops` users).

    Everything is integer: the sketch IS k (group, h) rows, so it
    persists as a table and merges with plain relational ops.
    Scale shape: one distinct (partial-aggregated) + one per-group
    top-k window — the shuffle carries distinct hashes, the state k
    rows per group."""
    h = F.conv(
        F.substring(F.md5(F.col(key).cast("string")), 1, 15), 16, 10
    ).cast("long")
    g = list(group_cols)
    hashes = (
        df.filter(F.col(key).isNotNull())
        .select(*[F.col(c) for c in g], h.alias("h"))
        .distinct()
    )
    return _k_smallest(hashes, g, k)


def _k_smallest(hashes: DataFrame, g: list, k: int) -> DataFrame:
    """k smallest ``h`` per group. Grouped: per-group window (state =
    k rows/group). UNGROUPED: ``sort().limit()`` — Spark plans it as
    ``TakeOrderedAndProject`` (per-partition top-k, then a k-row
    driver-side merge), never a single-partition global window — so
    the whole-dataset sketch stays scalable."""
    if g:
        w = Window.partitionBy(*g).orderBy("h")
        return (
            hashes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .drop("rn")
        )
    return hashes.sort("h").limit(k)


def kmv_merge(a: DataFrame, b: DataFrame, group_cols=(), k: int = KMV_K) -> DataFrame:
    """Union of two KMV sketches: merge hash rows, dedup, keep the k
    smallest per group — the lossless union property (the union
    sketch equals the sketch of the unioned data)."""
    g = list(group_cols)
    hashes = a.unionByName(b).distinct()
    return _k_smallest(hashes, g, k)


def kmv_estimate(
    sketch: DataFrame, group_cols=(), k: int = KMV_K
) -> DataFrame:
    """Distinct-count estimate from a KMV sketch, all-integer:
    fewer than k hashes seen → the sketch is the exact distinct set
    (estimate = its size); otherwise ``(k-1)·2^40 div (h_k >> 20)``
    with ``h_k`` the k-th minimum over the 60-bit hash space — the
    classic (k-1)/h_k estimator carried in int64 (documented 2^-20
    precision drop on h_k is ~1e-6 relative; the estimator's own
    stddev at k=64 is ~12%)."""
    g = list(group_cols)
    agg = sketch.groupBy(*g).agg(
        F.count(F.lit(1)).cast("long").alias("n_seen"),
        F.max("h").alias("kth"),
    )
    est = F.when(F.col("n_seen") < k, F.col("n_seen")).otherwise(
        F.expr(
            f"CAST({(k - 1)} AS BIGINT) * {1 << KMV_EST_SHIFT} div "
            f"greatest(shiftright(kth, {KMV_DROP}), 1L)"
        )
    )
    return agg.select(
        *g, "n_seen", "kth", est.cast("long").alias("n_distinct_est")
    )
