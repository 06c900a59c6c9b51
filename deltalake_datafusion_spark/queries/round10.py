"""Round-10 query surface: join-MV maintenance, ANN recall, and the
other deepening queries from the round-9 verdict queue. Registered
AFTER the pinned 50-entry driver prefix (discipline: the driver's
correctness window is the registry prefix; new names append)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deltalake_datafusion_spark.operators.partitioning import spread
from deltalake_datafusion_spark.queries import QuerySpec, load_tables

# Media-synthesis fan-out cost class: one row = one encode+decode of a
# small synthetic payload (~0.5-3 ms with the r12 table-driven codecs).
# 128 rows/task keeps per-task Python-worker spin-up well under the
# decode work it buys; at corpus scale the defaultParallelism cap in
# spread() binds and the fan-out is unchanged (VERDICT r12 #2: the
# unconditional 32-way fan lost 2x on the light decodes at sf0.1).
_DECODE_ROWS_PER_TASK = 128


def specs() -> list[QuerySpec]:
    return [
        QuerySpec(
            "delta_mv_join_incremental",
            delta_mv_join_incremental,
            _MV_JOIN_SQL,
        ),
        QuerySpec(
            "sim_recall_matrix",
            sim_recall_matrix,
            _recall_matrix_sql(),
        ),
        QuerySpec(
            "multimodal_jpeg_decode",
            multimodal_jpeg_decode,
            _JPEG_DECODE_SQL,
        ),
        QuerySpec("web_robots_filter", web_robots_filter, _ROBOTS_SQL),
        QuerySpec(
            "text_repeated_spans",
            text_repeated_spans,
            _REPEATED_SPANS_SQL,
        ),
        QuerySpec(
            "streaming_mv_join_refresh",
            streaming_mv_join_refresh,
            _SMV_JOIN_SQL,
        ),
        QuerySpec("q_orc_roundtrip", q_orc_roundtrip, _ORC_RT_SQL),
        QuerySpec(
            "multimodal_png_color",
            multimodal_png_color,
            _PNG_COLOR_SQL,
        ),
        QuerySpec(
            "multimodal_jpeg_color",
            multimodal_jpeg_color,
            _JPEG_COLOR_SQL,
        ),
        QuerySpec(
            "multimodal_flac_decode",
            multimodal_flac_decode,
            _FLAC_DECODE_SQL,
        ),
        QuerySpec(
            "multimodal_cross_format_dedup",
            multimodal_cross_format_dedup,
            _CROSS_FORMAT_SQL,
        ),
        QuerySpec(
            "multimodal_gif_decode",
            multimodal_gif_decode,
            _GIF_DECODE_SQL,
        ),
        QuerySpec(
            "delta_mv_minmax_incremental",
            delta_mv_minmax_incremental,
            _MV_MINMAX_SQL,
        ),
        QuerySpec(
            "sql_matview_lifecycle",
            sql_matview_lifecycle,
            _SQL_MV_SQL,
        ),
    ]


# ---------------------------------------------------------------- #
# delta_mv_join_incremental                                         #
# ---------------------------------------------------------------- #


def delta_mv_join_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained fact⋈dim STAR materialized view with
    TWO-SIDED CDF maintenance (``delta/mv_join.py``): orders (fact:
    id, custkey fk, cents) and customer (dim: dk, mktsegment) → both
    CDF-enabled Delta tables → full MV build (count + cents per
    segment) → changes on BOTH bases — fact appends + in-place
    update + delete, AND a dim SCD segment overwrite — → ONE
    incremental refresh applying the three-term delta algebra
    (ΔF⋈D_new + F_new⋈ΔD − ΔF⋈ΔD; the fact read for the dim side is
    pruned to the changed dim keys). The returned view must equal
    the full recompute of the final joined state — exactly what the
    oracle computes from the source rows, so any drift in the
    two-sided arithmetic or either watermark hash-mismatches."""
    from deltalake_datafusion_spark.delta.mv_join import (
        build_join_mv,
        refresh_join_mv,
    )
    from deltalake_datafusion_spark.delta.ops import (
        delete_delta,
        update_delta,
    )
    from deltalake_datafusion_spark.delta.scan import read_delta
    from deltalake_datafusion_spark.delta.writer import write_delta
    from deltalake_datafusion_spark.queries.delta_tier import _fresh_dir

    t = load_tables(spark, sf_dir, "orders", "customer")
    fact_path = _fresh_dir("mvjfact", sf_dir)
    dim_path = _fresh_dir("mvjdim", sf_dir)
    mv = _fresh_dir("mvjview", sf_dir)
    cdf = {"delta.enableChangeDataFeed": "true"}
    fact = t["orders"].select(
        F.col("o_orderkey").alias("id"),
        F.col("o_custkey").alias("fk"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    dim = t["customer"].select(
        F.col("c_custkey").alias("dk"),
        F.col("c_mktsegment").alias("seg"),
    )
    write_delta(spark, fact, fact_path, configuration=cdf)
    write_delta(spark, dim, dim_path, configuration=cdf)
    kw = dict(
        fact_key="fk", dim_key="dk", group_cols=["seg"], sum_cols=["cents"]
    )
    build_join_mv(spark, fact_path, dim_path, mv, **kw)
    # fact side: append + update + delete
    extra = t["orders"].filter(F.col("o_orderkey") % 101 == 0).select(
        (F.col("o_orderkey") + 100000000).alias("id"),
        F.col("o_custkey").alias("fk"),
        (F.col("o_orderkey") % 997).cast("long").alias("cents"),
    )
    write_delta(spark, extra, fact_path, mode="append", configuration=cdf)
    update_delta(spark, fact_path, set_exprs={"cents": "cents * 2"},
                 predicate="id % 13 = 0")
    delete_delta(spark, fact_path, "id % 17 = 5")
    # dim side: SCD attribute overwrite moving whole customers between
    # segments
    update_delta(spark, dim_path, set_exprs={"seg": "'Z-MOVED'"},
                 predicate="dk % 7 = 3")
    refresh_join_mv(spark, fact_path, dim_path, mv, **kw)
    return (
        read_delta(spark, mv)
        .select("seg", "mv_count",
                F.col("mv_sum_cents").cast("long").alias("mv_sum_cents"))
        .orderBy("seg")
    )


_MV_JOIN_SQL = """
WITH fact0 AS (
  SELECT o_orderkey AS id, o_custkey AS fk,
    CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders
  UNION ALL
  SELECT o_orderkey + 100000000, o_custkey,
    CAST(o_orderkey % 997 AS BIGINT)
  FROM orders WHERE o_orderkey % 101 = 0
),
fact1 AS (
  SELECT id, fk,
    CASE WHEN id % 13 = 0 THEN cents * 2 ELSE cents END AS cents
  FROM fact0
),
fact AS (SELECT * FROM fact1 WHERE NOT (id % 17 = 5)),
dim AS (
  SELECT c_custkey AS dk,
    CASE WHEN c_custkey % 7 = 3 THEN 'Z-MOVED' ELSE c_mktsegment END AS seg
  FROM customer
)
SELECT seg, CAST(COUNT(*) AS BIGINT) AS mv_count,
  CAST(SUM(cents) AS BIGINT) AS mv_sum_cents
FROM fact JOIN dim ON fact.fk = dim.dk
GROUP BY seg ORDER BY seg
"""


# ---------------------------------------------------------------- #
# sim_recall_matrix                                                 #
# ---------------------------------------------------------------- #

_RECALL_K = 10
_RECALL_NQ = 8
_RECALL_BITS = 4
_RECALL_TABLES = 8
_RECALL_DIM = 64
_RECALL_SEED = 42
_RECALL_NLISTS = 16
_RECALL_NPROBE = 4
_RECALL_M = 8
_RECALL_REFINE = 4


def _recall_queries(corpus):
    """The held-out query set: perturbed copies (+0.05 on element 0)
    of the first ``_RECALL_NQ`` corpus vectors — NOT added to the
    corpus, so each query has one near-dup anchor plus nine genuinely
    hard exact neighbors the ANN methods must find."""
    return corpus.filter(F.col("vec_id") < _RECALL_NQ).select(
        (F.col("vec_id") + 1000000).alias("query_id"),
        F.transform(
            F.col("v"), lambda x, i: F.when(i == 0, x + 0.05).otherwise(x)
        ).alias("query_vec"),
    )


def sim_recall_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN QUALITY CONTRACT (VERDICT r9 #2): recall@10 of the three
    approximate top-k operators against :func:`brute_force_topk` on
    the same corpus and queries, emitted as EXACT INTEGER hit counts
    per method — so any tuning regression in the LSH banding, IVF
    probing, or PQ quantization shifts an integer and hash-fails.

    Every method runs fully deterministic AND engine-replayable:
    the LSH hyperplanes are the operator's own seeded Gaussians
    (inlined verbatim into the oracle), the IVF coarse quantizer is
    the hash-free ``vec_id < 16`` anchor set (via ``ivf_topk``'s
    external-anchors seam), and the PQ codebooks are the subvectors
    of those same 16 corpus rows — all arithmetic strict left folds
    in double on both engines. The oracle replays all three ANN
    pipelines end-to-end in DuckDB and recomputes the identical hit
    counts. The recall FLOORS are pinned separately in
    ``tests/test_similarity_recall.py`` (including the trained
    k-means/PQ paths this query's replayable variants stand in for)."""
    from deltalake_datafusion_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        lsh_topk,
        pq_topk,
    )

    t = load_tables(spark, sf_dir, "embeddings")
    corpus = t["embeddings"].select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    # Both frames feed every method: the query set four times and the
    # brute-force truth five (once as the "brute" row, once per
    # hit-join). r12's EAGER localCheckpoints here cost 3.2x at
    # local[32] (driver BENCH_r12: 3.99 -> 12.58 s; the barrier
    # materialized cpus partitions per checkpoint) — r13 keeps the
    # sharing but LAZY (guide §5): the first consumer fills the cut
    # inside the one real job. Both frames are tiny (8 query rows / 80
    # truth rows) and the returned plan reads them, so they are local
    # checkpoints the ContextCleaner reclaims, not session-cache leaks.
    queries = _recall_queries(corpus).localCheckpoint(eager=False)
    kw = dict(id_col="vec_id", vec_col="v")
    truth = (
        brute_force_topk(corpus, queries, k=_RECALL_K, **kw)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=False)
    )
    anchors = corpus.filter(F.col("vec_id") < _RECALL_NLISTS).select(
        F.col("vec_id").cast("int").alias("list_id"),
        F.col("v").alias("avec"),
    )
    codebooks = _recall_codebooks(corpus)
    methods = {
        "brute": truth,
        "lsh": lsh_topk(
            corpus, queries, k=_RECALL_K, bits=_RECALL_BITS,
            tables=_RECALL_TABLES, dim=_RECALL_DIM, seed=_RECALL_SEED, **kw
        ),
        "ivf": ivf_topk(
            corpus, queries, k=_RECALL_K, n_lists=_RECALL_NLISTS,
            n_probe=_RECALL_NPROBE, anchors=anchors, **kw
        ),
        "pq": pq_topk(
            corpus, queries, k=_RECALL_K, codebooks=codebooks,
            refine=_RECALL_REFINE, **kw
        ),
    }
    total = _RECALL_K * _RECALL_NQ
    parts = []
    for name, df in sorted(methods.items()):
        hits = truth.join(
            df.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
        ).agg(F.count(F.lit(1)).cast("long").alias("hits"))
        parts.append(
            hits.select(
                F.lit(name).alias("method"),
                "hits",
                F.lit(total).cast("long").alias("n_pairs"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("method")


def _recall_codebooks(corpus) -> list[list[list[float]]]:
    """Deterministic PQ codebooks for the recall contract: subspace
    ``j``'s 16 centroids are the ``j``-th subvectors of corpus rows
    ``vec_id 0..15`` (a metadata-scale collect; engine-replayable —
    the oracle slices the same rows in SQL)."""
    rows = {
        r["vec_id"]: r["v"]
        for r in corpus.filter(
            F.col("vec_id") < _RECALL_NLISTS
        ).collect()
    }
    dsub = _RECALL_DIM // _RECALL_M
    return [
        [
            [float(x) for x in rows[c][j * dsub:(j + 1) * dsub]]
            for c in range(_RECALL_NLISTS)
        ]
        for j in range(_RECALL_M)
    ]


def _recall_matrix_sql() -> str:
    """DuckDB replay of all three ANN pipelines + the hit-count
    arithmetic. The LSH plane constants are generated by the SAME
    seeded generator the operator uses and inlined as literals
    (repr() round-trips the exact double)."""
    from deltalake_datafusion_spark.operators.similarity import _hyperplanes

    k, nq = _RECALL_K, _RECALL_NQ
    bits, tables = _RECALL_BITS, _RECALL_TABLES
    m, dsub = _RECALL_M, _RECALL_DIM // _RECALL_M

    def lst(plane):
        return "[" + ", ".join(repr(x) for x in plane) + "]"

    # per (table, bit) plane literals, exactly lsh_topk's layout
    bucket_exprs = []
    for t in range(tables):
        planes = _hyperplanes(_RECALL_DIM, bits, _RECALL_SEED + 1000 * t)
        terms = []
        for b, plane in enumerate(planes):
            dot = (
                "list_reduce(list_transform(list_zip(v, "
                f"{lst(plane)}), p -> p[1] * p[2]), (x, y) -> x + y)"
            )
            terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << b} ELSE 0 END)")
        bucket_exprs.append(
            "{'t': " + str(t) + ", 'bucket': " + " + ".join(terms) + "}"
        )

    cos = (
        "list_reduce(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]),"
        " (x, y) -> x + y)"
        " / (sqrt(list_reduce(list_transform({a}, x -> x * x),"
        " (x, y) -> x + y))"
        " * sqrt(list_reduce(list_transform({b}, x -> x * x),"
        " (x, y) -> x + y)))"
    )
    sqd = (
        "list_reduce(list_transform(list_zip({a}, {b}),"
        " p -> (p[1] - p[2]) * (p[1] - p[2])), (x, y) -> x + y)"
    )

    buckets_sql = ",\n      ".join(bucket_exprs)
    return f"""
WITH corpus AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
queries AS (
  SELECT vec_id + 1000000 AS query_id,
    list_transform(v, (x, i) -> CASE WHEN i = 1 THEN x + 0.05 ELSE x END) AS q
  FROM corpus WHERE vec_id < {nq}
),
exact AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
    {cos.format(a='q.q', b='c.v')} AS cosine
  FROM queries q JOIN corpus c ON TRUE
),
truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY cosine DESC, neighbor_id ASC) AS rn
    FROM exact) WHERE rn <= {k}
),
-- ============ LSH replay (operator's own seeded planes) ============
c_buckets AS (
  SELECT vec_id, tb.t, tb.bucket FROM (
    SELECT vec_id, unnest([
      {buckets_sql}
    ]) AS tb FROM (SELECT vec_id, v FROM corpus))
),
q_buckets AS (
  SELECT query_id, tb.t, tb.bucket FROM (
    SELECT query_id, unnest([
      {buckets_sql}
    ]) AS tb FROM (SELECT query_id, q AS v FROM queries))
),
lsh_cand AS (
  SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
  FROM q_buckets q JOIN c_buckets c ON q.t = c.t AND q.bucket = c.bucket
),
lsh_top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT e.query_id, e.neighbor_id,
      ROW_NUMBER() OVER (PARTITION BY e.query_id
                         ORDER BY e.cosine DESC, e.neighbor_id ASC) AS rn
    FROM exact e JOIN lsh_cand l
      ON e.query_id = l.query_id AND e.neighbor_id = l.neighbor_id)
  WHERE rn <= {k}
),
-- ============ IVF replay (vec_id<16 anchors) ============
anchors AS (
  SELECT CAST(vec_id AS INT) AS list_id, v AS avec FROM corpus
  WHERE vec_id < {_RECALL_NLISTS}
),
assigned AS (
  SELECT vec_id AS neighbor_id, list_id FROM (
    SELECT c.vec_id, a.list_id,
      ROW_NUMBER() OVER (PARTITION BY c.vec_id
        ORDER BY {cos.format(a='c.v', b='a.avec')} DESC, a.list_id ASC) AS rn
    FROM corpus c JOIN anchors a ON TRUE) WHERE rn = 1
),
probes AS (
  SELECT query_id, list_id FROM (
    SELECT q.query_id, a.list_id,
      ROW_NUMBER() OVER (PARTITION BY q.query_id
        ORDER BY {cos.format(a='q.q', b='a.avec')} DESC, a.list_id ASC) AS rn
    FROM queries q JOIN anchors a ON TRUE) WHERE rn <= {_RECALL_NPROBE}
),
ivf_top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT e.query_id, e.neighbor_id,
      ROW_NUMBER() OVER (PARTITION BY e.query_id
                         ORDER BY e.cosine DESC, e.neighbor_id ASC) AS rn
    FROM exact e
    JOIN probes p ON e.query_id = p.query_id
    JOIN assigned s ON s.neighbor_id = e.neighbor_id
                   AND s.list_id = p.list_id)
  WHERE rn <= {k}
),
-- ============ PQ replay (vec_id<16 subvector codebooks) ============
cb AS (
  SELECT CAST(vec_id AS INT) AS c, j,
    v[(j * {dsub} + 1):((j + 1) * {dsub})] AS cent
  FROM corpus, unnest(range({m})) AS t(j) WHERE vec_id < {_RECALL_NLISTS}
),
codes AS (
  SELECT neighbor_id, j, c AS code FROM (
    SELECT x.vec_id AS neighbor_id, cb.j, cb.c,
      ROW_NUMBER() OVER (PARTITION BY x.vec_id, cb.j
        ORDER BY {sqd.format(
            a='x.v[(cb.j * ' + str(dsub) + ' + 1):((cb.j + 1) * '
              + str(dsub) + ')]',
            b='cb.cent')} ASC, cb.c ASC) AS rn
    FROM corpus x JOIN cb ON TRUE) WHERE rn = 1
),
adc AS (
  SELECT q.query_id, d.neighbor_id,
    list_reduce(
      list(
        {sqd.format(
            a='q.q[(d.j * ' + str(dsub) + ' + 1):((d.j + 1) * '
              + str(dsub) + ')]',
            b='cb.cent')}
        ORDER BY d.j),
      (x, y) -> x + y) AS adc
  FROM queries q
  JOIN codes d ON TRUE
  JOIN cb ON cb.j = d.j AND cb.c = d.code
  GROUP BY q.query_id, d.neighbor_id, q.q
),
pq_cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY adc ASC, neighbor_id ASC) AS rn
    FROM adc) WHERE rn <= {k * _RECALL_REFINE}
),
pq_top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT e.query_id, e.neighbor_id,
      ROW_NUMBER() OVER (PARTITION BY e.query_id
                         ORDER BY e.cosine DESC, e.neighbor_id ASC) AS rn
    FROM exact e JOIN pq_cand p
      ON e.query_id = p.query_id AND e.neighbor_id = p.neighbor_id)
  WHERE rn <= {k}
),
-- ============ hit counts ============
hits AS (
  SELECT 'brute' AS method, CAST(COUNT(*) AS BIGINT) AS hits FROM truth
  UNION ALL
  SELECT 'lsh', CAST(COUNT(*) AS BIGINT)
  FROM truth t JOIN lsh_top s
    ON t.query_id = s.query_id AND t.neighbor_id = s.neighbor_id
  UNION ALL
  SELECT 'ivf', CAST(COUNT(*) AS BIGINT)
  FROM truth t JOIN ivf_top s
    ON t.query_id = s.query_id AND t.neighbor_id = s.neighbor_id
  UNION ALL
  SELECT 'pq', CAST(COUNT(*) AS BIGINT)
  FROM truth t JOIN pq_top s
    ON t.query_id = s.query_id AND t.neighbor_id = s.neighbor_id
)
SELECT method, hits, CAST({k * nq} AS BIGINT) AS n_pairs
FROM hits ORDER BY method
"""


# ---------------------------------------------------------------- #
# multimodal_jpeg_decode                                            #
# ---------------------------------------------------------------- #


def multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline JPEG grayscale decode (``operators/jpeg.py``,
    VERDICT r9 #3): genuine JPEG files — SOI/DQT/SOF0/DHT/SOS
    markers, Annex-K Huffman entropy coding, byte stuffing, and (for
    every third image) DRI/RSTn restart markers — whose four 8x8
    blocks are constants ``(doc_id·37 + 17·bi + 29·bj) mod 256``.
    With the unit quant table a piecewise-constant image decodes
    EXACTLY (DC-only blocks through the integer IDCT), so the oracle
    recomputes every pixel statistic arithmetically from doc_id — a
    Huffman, predictor, restart, dequant, or IDCT bug
    hash-mismatches. Every 7th payload is junk and every 11th a
    PROGRESSIVE (SOF2) stub; both must contribute no rows (the
    reject/skip contract)."""
    from deltalake_datafusion_spark.operators.jpeg import (
        jpeg_decode_features,
    )

    docs = (
        load_tables(spark, sf_dir, "documents")["documents"]
        .filter(F.col("doc_id") % 5 == 2)
        .select("doc_id")
    )
    # the documents table is one parquet file -> one scan partition;
    # spread the Python encode/decode stage with a width derived from
    # the row count (guide §2.6, cost-aware per VERDICT r12 #2)
    docs = spread(docs, rows_per_task=_DECODE_ROWS_PER_TASK)

    def build(it):
        import pandas as pd

        from deltalake_datafusion_spark.operators.jpeg import (
            build_jpeg_gray8,
        )

        for pdf in it:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                if did % 7 == 3:
                    payloads.append(b"not a jpeg at all")
                    continue
                if did % 11 == 4:
                    # scanless SOF2 stub: EOI before any SOS →
                    # rejected loudly (progressive itself decodes now)
                    payloads.append(
                        b"\xff\xd8\xff\xc2\x00\x0b\x08\x00\x10\x00\x10"
                        b"\x01\x01\x11\x00\xff\xd9"
                    )
                    continue
                px = [
                    [
                        (did * 37 + 17 * (y // 8) + 29 * (x // 8)) % 256
                        for x in range(16)
                    ]
                    for y in range(16)
                ]
                payloads.append(
                    build_jpeg_gray8(
                        px,
                        restart_interval=1 if did % 3 == 0 else 0,
                    )
                )
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    media = docs.mapInPandas(build, "media_id long, payload binary")
    feats = jpeg_decode_features(media)
    return feats.orderBy("media_id").select(
        "media_id",
        "width",
        "height",
        "pixel_sum",
        F.col("pixel_min").cast("int").alias("pixel_min"),
        F.col("pixel_max").cast("int").alias("pixel_max"),
    )


_JPEG_DECODE_SQL = """
WITH ids AS (
  SELECT doc_id FROM documents
  WHERE doc_id % 5 = 2 AND doc_id % 7 <> 3 AND doc_id % 11 <> 4
),
blocks AS (
  SELECT i.doc_id, (i.doc_id * 37 + 17 * b.bi + 29 * b.bj) % 256 AS lvl
  FROM ids i, (SELECT bi, bj FROM range(2) r1(bi), range(2) r2(bj)) b
)
SELECT doc_id AS media_id,
  CAST(16 AS INT) AS width,
  CAST(16 AS INT) AS height,
  CAST(64 * SUM(lvl) AS BIGINT) AS pixel_sum,
  CAST(MIN(lvl) AS INT) AS pixel_min,
  CAST(MAX(lvl) AS INT) AS pixel_max
FROM blocks GROUP BY doc_id ORDER BY media_id
"""


# ---------------------------------------------------------------- #
# web_robots_filter                                                 #
# ---------------------------------------------------------------- #


def web_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots Exclusion Protocol end to end (``operators/robots.py``,
    RFC 9309): 20 synthetic hosts each publish a REAL robots.txt body
    — star group with prefix, longest-match-allow, and wildcard+``$``
    rules; every 5th host adds an exact ``sparkbot`` group that
    OVERRIDES the star group entirely — and every document
    contributes six URLs probing each decision class (plain allow,
    prefix disallow, longer allow-override, ``*.tmp$`` anchor hit,
    anchor miss, exact-group disallow). The pipeline parses the
    bodies (Arrow-batched), compiles patterns, and filters with
    longest-match / allow-wins-tie / no-match-allows precedence; the
    oracle knows every decision analytically from the construction,
    so a parser-grammar, group-selection, wildcard, anchor, or
    precedence bug shifts a count and hash-fails."""
    from deltalake_datafusion_spark.operators.robots import (
        parse_robots_rules,
        robots_url_filter,
    )

    d_docs = load_tables(spark, sf_dir, "documents")["documents"]
    dom = F.col("doc_id") % 20
    m = F.col("doc_id") % 97
    host = F.concat(F.lit("site"), dom, F.lit(".example"))
    star_group = F.concat(
        F.lit("# crawl policy\nUser-agent: *\nDisallow: /private/\n"
              "Allow: /private/open"), F.col("d"),
        F.lit("/\nDisallow: /*.tmp$\n"),
    )
    exact_group = F.concat(
        F.lit("User-agent: SparkBot\nDisallow: /deny"), F.col("d"),
        F.lit("/\n\n"),
    )
    robots = (
        d_docs.select(dom.alias("d")).distinct()
        .select(
            F.concat(F.lit("site"), F.col("d"), F.lit(".example"))
            .alias("host"),
            F.when(
                F.col("d") % 5 == 0, F.concat(exact_group, star_group)
            ).otherwise(star_group).alias("robots_txt"),
        )
    )
    rules = parse_robots_rules(robots, agent="sparkbot")
    base = F.concat(F.lit("https://"), host)
    urls = d_docs.select(
        "doc_id",
        F.explode(
            F.array(
                F.concat(base, F.lit("/public/p"), m),
                F.concat(base, F.lit("/private/s"), m),
                F.concat(base, F.lit("/private/open"), dom,
                         F.lit("/p"), m),
                F.concat(base, F.lit("/data/f"), m, F.lit(".tmp")),
                F.concat(base, F.lit("/data/f"), m, F.lit(".tmp2")),
                F.concat(base, F.lit("/deny"), dom, F.lit("/x"), m),
            )
        ).alias("url"),
    )
    verdicts = robots_url_filter(urls, rules, keep="annotated")
    from deltalake_datafusion_spark.operators.urls import url_host

    return (
        verdicts.groupBy(url_host(F.col("url")).alias("host"))
        .agg(
            F.sum(F.col("__allowed").cast("long")).alias("n_allowed"),
            F.sum((~F.col("__allowed")).cast("long")).alias("n_blocked"),
        )
        .orderBy("host")
    )


_ROBOTS_SQL = """
WITH docs AS (
  SELECT doc_id, doc_id % 20 AS d FROM documents
),
per_host AS (
  SELECT 'site' || d || '.example' AS host,
    -- exact sparkbot group (d%5=0): only /deny<d>/ is blocked ->
    -- 5 of the 6 probe URLs pass; star hosts block /private/s and
    -- the .tmp anchor hit -> 4 pass
    CAST(SUM(CASE WHEN d % 5 = 0 THEN 5 ELSE 4 END) AS BIGINT)
      AS n_allowed,
    CAST(SUM(CASE WHEN d % 5 = 0 THEN 1 ELSE 2 END) AS BIGINT)
      AS n_blocked
  FROM docs GROUP BY d
)
SELECT host, n_allowed, n_blocked FROM per_host ORDER BY host
"""


# ---------------------------------------------------------------- #
# text_repeated_spans                                               #
# ---------------------------------------------------------------- #

_SPAN_K = 20
_FOOTER = " == SHARED FOOTER $F == all rights reserved, id "


def text_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document EXACT repeated-span profile
    (``operators/text.py::repeated_kgram_profile`` — the Lee et al.
    2022 exact-substring dedup measurement): every 3rd document gets
    one of 4 shared boilerplate footers appended, so verbatim
    cross-document spans exist by construction on top of any natural
    repeats; the operator counts, per document, its k=20 char-grams,
    the grams shared verbatim with OTHER documents, and the merged
    character coverage of those repeated spans. The oracle replays
    the same gram extraction (substr + generate_series), cross-doc
    multiplicity, and interval-union arithmetic in SQL — a shuffle
    key, window-frame, or overlap-merge bug hash-fails."""
    from deltalake_datafusion_spark.operators.text import (
        repeated_kgram_profile,
    )

    d = load_tables(spark, sf_dir, "documents")["documents"]
    footer = F.concat(
        F.lit(" == SHARED FOOTER "),
        (F.col("doc_id") % 4),
        F.lit(" == all rights reserved, id "),
        (F.col("doc_id") % 2),
    )
    docs = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0, F.concat(F.col("text"), footer)
        ).otherwise(F.col("text")).alias("text"),
    )
    prof = repeated_kgram_profile(docs, k=_SPAN_K)
    return prof.orderBy("doc_id").select(
        "doc_id", "n_grams", "n_repeated", "covered_chars", "doc_len"
    )


_REPEATED_SPANS_SQL = f"""
WITH docs AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 = 0 THEN
      text || ' == SHARED FOOTER ' || (doc_id % 4)
           || ' == all rights reserved, id ' || (doc_id % 2)
    ELSE text END AS text
  FROM documents
),
grams AS (
  SELECT doc_id, p AS pos,
    CAST(('0x' || substr(md5(substr(text, p, {_SPAN_K})), 1, 15))
         AS BIGINT) AS h
  FROM (
    SELECT doc_id, text,
      unnest(range(1, greatest(length(text) - {_SPAN_K} + 1, 0) + 1)) AS p
    FROM docs)
),
multi AS (
  SELECT h FROM grams GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1
),
rep AS (
  SELECT gr.doc_id, gr.pos,
    LEAD(gr.pos) OVER (PARTITION BY gr.doc_id ORDER BY gr.pos) AS nxt
  FROM grams gr JOIN multi m ON gr.h = m.h
),
cov AS (
  SELECT doc_id,
    CAST(COUNT(*) AS BIGINT) AS n_repeated,
    CAST(SUM(CASE WHEN nxt IS NULL THEN {_SPAN_K}
             ELSE LEAST({_SPAN_K}, nxt - pos) END) AS BIGINT)
      AS covered_chars
  FROM rep GROUP BY doc_id
)
SELECT d.doc_id,
  CAST(GREATEST(LENGTH(d.text) - {_SPAN_K} + 1, 0) AS BIGINT) AS n_grams,
  COALESCE(c.n_repeated, 0) AS n_repeated,
  COALESCE(c.covered_chars, 0) AS covered_chars,
  CAST(LENGTH(d.text) AS BIGINT) AS doc_len
FROM docs d LEFT JOIN cov c USING (doc_id)
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------- #
# streaming_mv_join_refresh                                         #
# ---------------------------------------------------------------- #


def streaming_mv_join_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTINUOUS star-MV maintenance, production split
    (``delta/mv_join.py::streaming_refresh_join_mv``): the
    high-velocity FACT side streams through its change feed — each
    micro-batch joins the signed fact deltas to the dim AS OF the
    view's dim watermark and MERGEs through the shared signed-delta
    core, the fact watermark txn riding the same commit —
    while a later dim SCD change reconciles through the two-sided
    batch refresh (which reads the stream-advanced fact watermark).
    The final view must equal the full recompute of the final joined
    state, which is what the oracle computes."""
    from deltalake_datafusion_spark.delta.mv_join import (
        build_join_mv,
        refresh_join_mv,
        streaming_refresh_join_mv,
    )
    from deltalake_datafusion_spark.delta.ops import delete_delta
    from deltalake_datafusion_spark.delta.ops import update_delta
    from deltalake_datafusion_spark.delta.scan import read_delta
    from deltalake_datafusion_spark.delta.writer import write_delta
    from deltalake_datafusion_spark.queries.delta_tier import _fresh_dir

    t = load_tables(spark, sf_dir, "orders", "customer")
    fact_path = _fresh_dir("smvjfact", sf_dir)
    dim_path = _fresh_dir("smvjdim", sf_dir)
    mv = _fresh_dir("smvjview", sf_dir)
    ck = _fresh_dir("smvjckpt", sf_dir)
    cdf = {"delta.enableChangeDataFeed": "true"}
    fact = t["orders"].select(
        F.col("o_orderkey").alias("id"),
        F.col("o_custkey").alias("fk"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    dim = t["customer"].select(
        F.col("c_custkey").alias("dk"),
        F.col("c_mktsegment").alias("seg"),
    )
    write_delta(spark, fact, fact_path, configuration=cdf)
    write_delta(spark, dim, dim_path, configuration=cdf)
    kw = dict(
        fact_key="fk", dim_key="dk", group_cols=["seg"], sum_cols=["cents"]
    )
    build_join_mv(spark, fact_path, dim_path, mv, **kw)
    extra = t["orders"].filter(F.col("o_orderkey") % 151 == 0).select(
        (F.col("o_orderkey") + 200000000).alias("id"),
        F.col("o_custkey").alias("fk"),
        (F.col("o_orderkey") % 1009).cast("long").alias("cents"),
    )
    write_delta(spark, extra, fact_path, mode="append", configuration=cdf)
    delete_delta(spark, fact_path, "id % 19 = 7")
    streaming_refresh_join_mv(spark, fact_path, dim_path, mv,
                              checkpoint_dir=ck, **kw)
    # rare dim change -> two-sided batch reconcile over the
    # stream-advanced watermarks
    update_delta(spark, dim_path, set_exprs={"seg": "'Z-STREAMED'"},
                 predicate="dk % 11 = 6")
    refresh_join_mv(spark, fact_path, dim_path, mv, **kw)
    return (
        read_delta(spark, mv)
        .select("seg", "mv_count",
                F.col("mv_sum_cents").cast("long").alias("mv_sum_cents"))
        .orderBy("seg")
    )


_SMV_JOIN_SQL = """
WITH fact0 AS (
  SELECT o_orderkey AS id, o_custkey AS fk,
    CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders
  UNION ALL
  SELECT o_orderkey + 200000000, o_custkey,
    CAST(o_orderkey % 1009 AS BIGINT)
  FROM orders WHERE o_orderkey % 151 = 0
),
fact AS (SELECT * FROM fact0 WHERE NOT (id % 19 = 7)),
dim AS (
  SELECT c_custkey AS dk,
    CASE WHEN c_custkey % 11 = 6 THEN 'Z-STREAMED'
         ELSE c_mktsegment END AS seg
  FROM customer
)
SELECT seg, CAST(COUNT(*) AS BIGINT) AS mv_count,
  CAST(SUM(cents) AS BIGINT) AS mv_sum_cents
FROM fact JOIN dim ON fact.fk = dim.dk
GROUP BY seg ORDER BY seg
"""


# ---------------------------------------------------------------- #
# q_orc_roundtrip                                                   #
# ---------------------------------------------------------------- #


def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink handler (completing the columnar-format matrix
    beside parquet/CSV/JSONL): orders exports to ORC partitioned by
    orderstatus, reads back with a partition-pruning filter AND a
    data predicate (both must reach the ORC scan — the plan guard in
    tests/test_plan_quality.py pins the DataFilters searchArgument
    pushdown and the PartitionFilters pruning), then aggregates per
    priority. The oracle
    replays the filtered aggregate on the original rows — the format
    round-trip must be lossless for longs/strings/doubles."""
    import os

    from deltalake_datafusion_spark.queries.analytics import _work_dir

    o = load_tables(spark, sf_dir, "orders")["orders"]
    d = os.path.join(_work_dir("orcrt", sf_dir), "o")
    (
        o.select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderpriority",
        )
        .write.mode("overwrite")
        .partitionBy("o_orderstatus")
        .orc(d)
    )
    back = spark.read.orc(d).filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_custkey") % 3 == 1)
    )
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                .cast("long")
            ).alias("cents"),
            F.count_distinct("o_custkey").alias("n_cust"),
        )
        .orderBy("o_orderpriority")
    )


_ORC_RT_SQL = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
    AS cents,
  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust
FROM orders
WHERE o_orderstatus = 'F' AND o_custkey % 3 = 1
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------- #
# multimodal_png_color                                              #
# ---------------------------------------------------------------- #


def multimodal_png_color(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL truecolor PNG decode (``operators/multimodal.py::
    decode_png`` — closing most of VERDICT r9 gap #3): genuine RGB /
    RGBA / grayscale PNGs (inflate + all five scanline filters at
    pixel stride) whose channel values are analytic in (doc_id, x,
    y); the operator emits exact per-channel and integer Rec.601
    luma sums. doc_id%4==1 → RGBA (alpha excluded from sums),
    %4==2 → grayscale, %4==0 → RGB, %4==3 → INDEXED color type 3
    (every pixel's color routed through a 48-entry PLTE — same
    analytic channel values, so a palette-lookup or index-unpack bug
    shows as a channel-sum drift); every 9th payload is junk and
    contributes no rows. The oracle recomputes every channel sum
    arithmetically — a defilter-stride, channel-order, palette, or
    luma rounding bug hash-fails."""
    from deltalake_datafusion_spark.operators.multimodal import (
        png_color_features,
    )

    docs = (
        load_tables(spark, sf_dir, "documents")["documents"]
        .filter(F.col("doc_id") % 3 == 1)
        .select("doc_id")
    )
    # the documents table is one parquet file -> one scan partition;
    # spread the Python encode/decode stage with a width derived from
    # the row count (guide §2.6, cost-aware per VERDICT r12 #2)
    docs = spread(docs, rows_per_task=_DECODE_ROWS_PER_TASK)

    def build(it):
        import pandas as pd

        from deltalake_datafusion_spark.operators.multimodal import (
            build_png_gray8,
            build_png_palette,
            build_png_rgb,
        )

        W, H = 8, 6
        for pdf in it:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                if did % 9 == 4:
                    payloads.append(b"not a png")
                    continue
                if did % 4 == 2:
                    gray = [
                        [(did * 3 + 7 * x + 11 * y) % 256
                         for x in range(W)]
                        for y in range(H)
                    ]
                    payloads.append(build_png_gray8(gray))
                    continue
                px = [
                    [
                        (
                            (did * 3 + 7 * x + 11 * y) % 256,
                            (did * 5 + 13 * x + 3 * y) % 256,
                            (did * 7 + x + 17 * y) % 256,
                        )
                        + (((x + y) % 256,) if did % 4 == 1 else ())
                        for x in range(W)
                    ]
                    for y in range(H)
                ]
                if did % 4 == 3:
                    # indexed: one palette entry per pixel position,
                    # same analytic colors through a PLTE lookup
                    pal = [px[y][x] for y in range(H) for x in range(W)]
                    idx = [
                        [y * W + x for x in range(W)] for y in range(H)
                    ]
                    payloads.append(build_png_palette(idx, pal))
                    continue
                payloads.append(
                    build_png_rgb(px, alpha=(did % 4 == 1))
                )
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    media = docs.mapInPandas(build, "media_id long, payload binary")
    return png_color_features(media).orderBy("media_id")


_PNG_COLOR_SQL = """
WITH ids AS (
  SELECT doc_id FROM documents
  WHERE doc_id % 3 = 1 AND doc_id % 9 <> 4
),
grid AS (
  SELECT i.doc_id, x, y,
    CASE WHEN i.doc_id % 4 = 2 THEN 0
         WHEN i.doc_id % 4 = 1 THEN 6
         WHEN i.doc_id % 4 = 3 THEN 3 ELSE 2 END AS ct,
    (i.doc_id * 3 + 7 * x + 11 * y) % 256 AS r0,
    (i.doc_id * 5 + 13 * x + 3 * y) % 256 AS g0,
    (i.doc_id * 7 + x + 17 * y) % 256 AS b0
  FROM ids i,
    (SELECT unnest(range(8)) AS x) xs,
    (SELECT unnest(range(6)) AS y) ys
),
px AS (
  SELECT doc_id, ct,
    CASE WHEN ct = 0 THEN r0 ELSE r0 END AS r,
    CASE WHEN ct = 0 THEN r0 ELSE g0 END AS g,
    CASE WHEN ct = 0 THEN r0 ELSE b0 END AS b
  FROM grid
)
SELECT doc_id AS media_id,
  CAST(MAX(ct) AS INT) AS color_type,
  CAST(8 AS INT) AS width,
  CAST(6 AS INT) AS height,
  CAST(SUM(r) AS BIGINT) AS sum_r,
  CAST(SUM(g) AS BIGINT) AS sum_g,
  CAST(SUM(b) AS BIGINT) AS sum_b,
  CAST(SUM((299 * r + 587 * g + 114 * b) // 1000) AS BIGINT) AS sum_luma
FROM px GROUP BY doc_id ORDER BY media_id
"""


# ---------------------------------------------------------------- #
# multimodal_jpeg_color                                             #
# ---------------------------------------------------------------- #


def multimodal_jpeg_color(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL COLOR JPEG decode (``operators/jpeg.py::decode_jpeg`` —
    the color extension of VERDICT r9 #3): genuine 3-component YCbCr
    JPEGs with interleaved MCUs, per-component DC predictors, (every
    3rd image) restart markers, and — doc_id%3==1 — **PROGRESSIVE
    (SOF2) streams** (multi-scan spectral selection + successive
    approximation, T.81 Annex G; r10 next-round #7). EVEN doc_ids
    are 4:2:0 CHROMA-SUBSAMPLED (32x32, four Y + Cb + Cr per 16x16
    MCU, exact 2x2-mean downsample, replication upsample) with
    constant 16x16 macroblocks; odd doc_ids are 4:4:4 (16x16) with
    constant 8x8 blocks. Constant blocks survive the DCT path (and
    the constant-chroma downsample) exactly — in both the baseline
    and the multi-pass progressive coefficient assembly — so each
    decoded pixel is EXACTLY ``ycbcr_to_rgb_int(rgb_to_ycbcr_int(
    rgb))`` and the oracle replays BOTH 16-bit fixed-point
    colorspace transforms (floor-division arithmetic) plus the
    channel/luma sums in SQL. Every 7th payload is junk and
    contributes no rows."""
    from deltalake_datafusion_spark.operators.jpeg import (
        jpeg_color_features,
    )

    docs = (
        load_tables(spark, sf_dir, "documents")["documents"]
        .filter(F.col("doc_id") % 5 == 3)
        .select("doc_id")
    )
    # the documents table is one parquet file -> one scan partition;
    # spread the Python encode/decode stage with a width derived from
    # the row count (guide §2.6, cost-aware per VERDICT r12 #2)
    docs = spread(docs, rows_per_task=_DECODE_ROWS_PER_TASK)

    def build(it):
        import pandas as pd

        from deltalake_datafusion_spark.operators.jpeg import (
            build_jpeg_color,
            build_jpeg_progressive,
        )

        for pdf in it:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                if did % 7 == 2:
                    payloads.append(b"definitely not a jpeg")
                    continue
                blk = 16 if did % 2 == 0 else 8  # 420 macroblock / 444
                side = 2 * blk
                px = [
                    [
                        (
                            (did * 11 + 29 * (y // blk)
                             + 37 * (x // blk)) % 256,
                            (did * 17 + 13 * (y // blk)
                             + 7 * (x // blk)) % 256,
                            (did * 23 + 3 * (y // blk)
                             + 19 * (x // blk)) % 256,
                        )
                        for x in range(side)
                    ]
                    for y in range(side)
                ]
                sub = "420" if did % 2 == 0 else "444"
                if did % 3 == 1:
                    # PROGRESSIVE (SOF2): multi-scan spectral
                    # selection + successive approximation — decodes
                    # to the same analytic pixels, so the oracle is
                    # untouched; every other progressive doc also
                    # carries DRI/RSTn restarts in every scan
                    payloads.append(
                        build_jpeg_progressive(
                            px, subsample=sub,
                            restart_interval=2 if did % 6 == 4 else 0,
                        )
                    )
                else:
                    payloads.append(
                        build_jpeg_color(
                            px,
                            restart_interval=(
                                1 if did % 3 == 0 else 0
                            ),
                            subsample=sub,
                        )
                    )
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    media = docs.mapInPandas(build, "media_id long, payload binary")
    return jpeg_color_features(media).orderBy("media_id")


_JPEG_COLOR_SQL = """
WITH ids AS (
  SELECT doc_id FROM documents
  WHERE doc_id % 5 = 3 AND doc_id % 7 <> 2
),
blocks AS (
  SELECT i.doc_id,
    (i.doc_id * 11 + 29 * b.bi + 37 * b.bj) % 256 AS r0,
    (i.doc_id * 17 + 13 * b.bi + 7 * b.bj) % 256 AS g0,
    (i.doc_id * 23 + 3 * b.bi + 19 * b.bj) % 256 AS b0
  FROM ids i, (SELECT bi, bj FROM range(2) t1(bi), range(2) t2(bj)) b
),
fwd AS (
  SELECT doc_id, r0, g0, b0,
    LEAST(255, GREATEST(0, CAST(FLOOR(
      (19595*r0 + 38470*g0 + 7471*b0 + 32768) / 65536.0) AS BIGINT)))
      AS y,
    LEAST(255, GREATEST(0, CAST(FLOOR(
      (-11059*r0 - 21709*g0 + 32768*b0 + 32768) / 65536.0) AS BIGINT)
      + 128)) AS cb,
    LEAST(255, GREATEST(0, CAST(FLOOR(
      (32768*r0 - 27439*g0 - 5329*b0 + 32768) / 65536.0) AS BIGINT)
      + 128)) AS cr
  FROM blocks
),
inv AS (
  SELECT doc_id,
    LEAST(255, GREATEST(0, y + CAST(FLOOR(
      (91881*(cr-128) + 32768) / 65536.0) AS BIGINT))) AS r,
    LEAST(255, GREATEST(0, y - CAST(FLOOR(
      (22554*(cb-128) + 46802*(cr-128) + 32768) / 65536.0) AS BIGINT)))
      AS g,
    LEAST(255, GREATEST(0, y + CAST(FLOOR(
      (116130*(cb-128) + 32768) / 65536.0) AS BIGINT))) AS b
  FROM fwd
)
SELECT doc_id AS media_id,
  CAST(3 AS INT) AS color_type,
  CAST(CASE WHEN doc_id % 2 = 0 THEN 32 ELSE 16 END AS INT) AS width,
  CAST(CASE WHEN doc_id % 2 = 0 THEN 32 ELSE 16 END AS INT) AS height,
  -- even ids: 16x16 macroblocks (256 px each); odd: 8x8 blocks (64)
  CAST(CASE WHEN doc_id % 2 = 0 THEN 256 ELSE 64 END * SUM(r)
       AS BIGINT) AS sum_r,
  CAST(CASE WHEN doc_id % 2 = 0 THEN 256 ELSE 64 END * SUM(g)
       AS BIGINT) AS sum_g,
  CAST(CASE WHEN doc_id % 2 = 0 THEN 256 ELSE 64 END * SUM(b)
       AS BIGINT) AS sum_b,
  CAST(CASE WHEN doc_id % 2 = 0 THEN 256 ELSE 64 END
       * SUM((299*r + 587*g + 114*b) // 1000) AS BIGINT) AS sum_luma
FROM inv GROUP BY doc_id ORDER BY media_id
"""


# ---------------------------------------------------------------- #
# multimodal_flac_decode                                            #
# ---------------------------------------------------------------- #


def multimodal_flac_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL FLAC decode (``operators/flac.py`` — lossless audio for
    VERDICT r9 gap #3): genuine mono 16-bit FLAC streams — STREAMINFO,
    CRC-8-checked frame headers, CONSTANT/FIXED **and LPC orders 1–8
    (Levinson-quantized coefficients + arithmetic shift)** subframes
    with partitioned Rice residuals, frame CRC-16 — whose samples are
    the deterministic ramp ``((i·37 + doc_id·101) mod 2001) − 1000``.
    FLAC is lossless, so the decoded sample statistics equal the
    source formula's EXACTLY and the oracle recomputes them
    arithmetically — a Rice, predictor, LPC-shift, warmup, CRC, or
    bit-packing bug hash-fails. Every 13th payload is junk (no rows);
    partition order and subframe type vary with doc_id to cover the
    geometry × predictor matrix."""
    from deltalake_datafusion_spark.operators.flac import (
        flac_decode_features,
    )

    docs = (
        load_tables(spark, sf_dir, "documents")["documents"]
        .filter(F.col("doc_id") % 7 == 4)
        .select("doc_id")
    )
    # the documents table is one parquet file -> one scan partition;
    # spread the Python encode/decode stage with a width derived from
    # the row count (guide §2.6, cost-aware per VERDICT r12 #2)
    docs = spread(docs, rows_per_task=_DECODE_ROWS_PER_TASK)

    def build(it):
        import pandas as pd

        from deltalake_datafusion_spark.operators.flac import (
            build_flac_pcm16,
            build_flac_stereo16,
        )

        for pdf in it:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                if did % 13 == 6:
                    payloads.append(b"fLaC but not really")
                    continue
                n = 400 + (did % 5) * 173
                s = [((i * 37 + did * 101) % 2001) - 1000
                     for i in range(n)]
                # spread encodings across the subframe-type matrix:
                # FIXED/CONSTANT/VERBATIM for lpc=0, genuine LPC
                # orders 1–8 otherwise — decode is lossless either
                # way, so the oracle's analytic stats don't change
                lpc = ((did // 13) % 9) or None
                if did % 11 == 3:
                    # STEREO: left = the mono ramp, right = a second
                    # analytic ramp; frames cycle all four channel
                    # assignments (indep / left-side / right-side /
                    # mid-side) — the oracle unions both formulas
                    right = [((i * 53 + did * 71) % 1777) - 888
                             for i in range(n)]
                    payloads.append(
                        build_flac_stereo16(
                            s, right, block_size=256,
                            partition_order=did % 3,
                            lpc_order=lpc,
                        )
                    )
                    continue
                payloads.append(
                    build_flac_pcm16(
                        s, block_size=256,
                        partition_order=did % 3,
                        lpc_order=lpc,
                    )
                )
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    media = docs.mapInPandas(build, "media_id long, payload binary")
    return flac_decode_features(media).orderBy("media_id")


_FLAC_DECODE_SQL = """
WITH ids AS (
  SELECT doc_id, 400 + (doc_id % 5) * 173 AS n FROM documents
  WHERE doc_id % 7 = 4 AND doc_id % 13 <> 6
),
samples AS (
  SELECT doc_id, ((i * 37 + doc_id * 101) % 2001) - 1000 AS s FROM (
    SELECT doc_id, unnest(range(n)) AS i FROM ids)
  UNION ALL
  -- stereo docs: the right channel's second analytic ramp
  SELECT doc_id, ((i * 53 + doc_id * 71) % 1777) - 888 AS s FROM (
    SELECT doc_id, unnest(range(n)) AS i FROM ids
    WHERE doc_id % 11 = 3)
)
SELECT doc_id AS media_id,
  CAST(COUNT(*) AS BIGINT) AS n_samples,
  CAST(SUM(s) AS BIGINT) AS sum_s,
  CAST(SUM(s * s) AS BIGINT) AS sumsq,
  CAST(MIN(s) AS INT) AS s_min,
  CAST(MAX(s) AS INT) AS s_max
FROM samples GROUP BY doc_id ORDER BY media_id
"""


# ---------------------------------------------------------------- #
# multimodal_cross_format_dedup                                     #
# ---------------------------------------------------------------- #


def multimodal_cross_format_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-FORMAT perceptual image dedup
    (``operators/multimodal.py::ahash64_multi`` + the pigeonhole
    band join): each document renders its FAMILY's image (quadrant
    gray levels analytic in ``doc_id mod 10``) in one of FOUR real
    encodings by ``doc_id mod 4`` — gray PNG, gray baseline JPEG,
    truecolor PNG, 4:4:4 color JPEG — and the pipeline must land
    every rendition of the same image on the SAME aHash (gray JPEG
    DC-only decode is exact; (v,v,v) color survives both codecs'
    integer paths exactly) and pair all same-pattern images at
    hamming 0 through the banded join. The oracle recomputes each
    image's quadrant-vs-mean bit pattern and pairs by pattern
    equality — a decoder, luma, grid, or banding bug changes the
    pair set and hash-fails. Every 31st payload is junk (skipped)."""
    from deltalake_datafusion_spark.operators.multimodal import (
        ahash_image_hashes_multi,
        ahash_near_dup_pairs,
    )

    docs = (
        load_tables(spark, sf_dir, "documents")["documents"]
        .filter(F.col("doc_id") % 3 == 2)
        .select("doc_id")
    )
    # the documents table is one parquet file -> one scan partition;
    # spread the Python encode/decode stage with a width derived from
    # the row count (guide §2.6, cost-aware per VERDICT r12 #2)
    docs = spread(docs, rows_per_task=_DECODE_ROWS_PER_TASK)

    def build(it):
        import pandas as pd

        from deltalake_datafusion_spark.operators.jpeg import (
            build_jpeg_color,
            build_jpeg_gray8,
        )
        from deltalake_datafusion_spark.operators.multimodal import (
            build_png_gray8,
            build_png_rgb,
        )

        for pdf in it:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                if did % 31 == 0:
                    payloads.append(b"not an image")
                    continue
                fam = did % 10
                quad = [(fam * 37 + q * 61) % 200 + 5 for q in range(4)]
                gray = [
                    [quad[(y // 8) * 2 + (x // 8)] for x in range(16)]
                    for y in range(16)
                ]
                kind = did % 4
                if kind == 0:
                    payloads.append(build_png_gray8(gray))
                elif kind == 1:
                    payloads.append(build_jpeg_gray8(gray))
                elif kind == 2:
                    payloads.append(
                        build_png_rgb(
                            [[(v, v, v) for v in row] for row in gray]
                        )
                    )
                else:
                    payloads.append(
                        build_jpeg_color(
                            [[(v, v, v) for v in row] for row in gray]
                        )
                    )
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    media = docs.mapInPandas(build, "media_id long, payload binary")
    hashes = ahash_image_hashes_multi(media)
    pairs = ahash_near_dup_pairs(hashes, max_hamming=3)
    return pairs.orderBy("a", "b")


_CROSS_FORMAT_SQL = """
WITH ids AS (
  SELECT doc_id FROM documents
  WHERE doc_id % 3 = 2 AND doc_id % 31 <> 0
),
imgs AS (
  SELECT doc_id,
    -- quadrant gray levels and the aHash quadrant-vs-mean pattern:
    -- every 2x2 grid cell inside a quadrant equals its level, the
    -- global mean is (sum of the 4 levels) // 4 exactly
    [
      ((doc_id % 10) * 37 + 0 * 61) % 200 + 5,
      ((doc_id % 10) * 37 + 1 * 61) % 200 + 5,
      ((doc_id % 10) * 37 + 2 * 61) % 200 + 5,
      ((doc_id % 10) * 37 + 3 * 61) % 200 + 5
    ] AS q
  FROM ids
),
pat AS (
  SELECT doc_id,
    (CASE WHEN q[1] > (q[1]+q[2]+q[3]+q[4]) // 4 THEN 1 ELSE 0 END)
    + 2 * (CASE WHEN q[2] > (q[1]+q[2]+q[3]+q[4]) // 4 THEN 1 ELSE 0 END)
    + 4 * (CASE WHEN q[3] > (q[1]+q[2]+q[3]+q[4]) // 4 THEN 1 ELSE 0 END)
    + 8 * (CASE WHEN q[4] > (q[1]+q[2]+q[3]+q[4]) // 4 THEN 1 ELSE 0 END)
      AS p
  FROM imgs
)
SELECT a.doc_id AS a, b.doc_id AS b, CAST(0 AS BIGINT) AS hamming
FROM pat a JOIN pat b ON a.p = b.p AND a.doc_id < b.doc_id
ORDER BY a, b
"""


# ---------------------------------------------------------------- #
# multimodal_gif_decode                                             #
# ---------------------------------------------------------------- #


def multimodal_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF decode (``operators/gif.py`` — the fourth genuine
    still-image codec): valid GIF89a files with a 16-entry global
    color table and REAL LZW-compressed index streams (variable code
    width, dictionary growth, KwKwK sequences arise naturally from
    the run-heavy index pattern), palette and indices both analytic
    in doc_id. LZW is lossless over indices, so every decoded pixel
    is exact and the oracle recomputes the channel/luma sums from
    the same palette arithmetic — an LZW width-bump, palette, or
    sub-block reassembly bug hash-fails. Every 9th payload is junk
    and contributes no rows."""
    from deltalake_datafusion_spark.operators.gif import (
        gif_color_features,
    )

    docs = (
        load_tables(spark, sf_dir, "documents")["documents"]
        .filter(F.col("doc_id") % 5 == 1)
        .select("doc_id")
    )
    # the documents table is one parquet file -> one scan partition;
    # spread the Python encode/decode stage with a width derived from
    # the row count (guide §2.6, cost-aware per VERDICT r12 #2)
    docs = spread(docs, rows_per_task=_DECODE_ROWS_PER_TASK)

    def build(it):
        import pandas as pd

        from deltalake_datafusion_spark.operators.gif import build_gif

        for pdf in it:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                if did % 9 == 7:
                    payloads.append(b"GIF-ish junk")
                    continue
                pal = [
                    (
                        (did * 3 + i * 17) % 256,
                        (did * 5 + i * 23) % 256,
                        (did * 7 + i * 31) % 256,
                    )
                    for i in range(16)
                ]
                idx = [
                    [(x // 3 + y // 2 + did) % 16 for x in range(24)]
                    for y in range(18)
                ]
                payloads.append(build_gif(idx, pal))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    media = docs.mapInPandas(build, "media_id long, payload binary")
    return gif_color_features(media).orderBy("media_id")


_GIF_DECODE_SQL = """
WITH ids AS (
  SELECT doc_id FROM documents
  WHERE doc_id % 5 = 1 AND doc_id % 9 <> 7
),
px AS (
  SELECT i.doc_id,
    (x // 3 + y // 2 + i.doc_id) % 16 AS ci
  FROM ids i,
    (SELECT unnest(range(24)) AS x) xs,
    (SELECT unnest(range(18)) AS y) ys
),
rgb AS (
  SELECT doc_id,
    (doc_id * 3 + ci * 17) % 256 AS r,
    (doc_id * 5 + ci * 23) % 256 AS g,
    (doc_id * 7 + ci * 31) % 256 AS b
  FROM px
)
SELECT doc_id AS media_id,
  CAST(1 AS INT) AS color_type,
  CAST(24 AS INT) AS width,
  CAST(18 AS INT) AS height,
  CAST(SUM(r) AS BIGINT) AS sum_r,
  CAST(SUM(g) AS BIGINT) AS sum_g,
  CAST(SUM(b) AS BIGINT) AS sum_b,
  CAST(SUM((299*r + 587*g + 114*b) // 1000) AS BIGINT) AS sum_luma
FROM rgb GROUP BY doc_id ORDER BY media_id
"""


# ---------------------------------------------------------------- #
# delta_mv_minmax_incremental                                       #
# ---------------------------------------------------------------- #


def delta_mv_minmax_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIN/MAX-bearing incrementally-maintained MV
    (``delta/mv.py::refresh_aggregate_mv`` with ``minmax_cols``):
    min/max are NOT abelian — deletes can invalidate them — so the
    refresh pairs signed count/sum deltas with a TARGETED recompute
    of exactly the groups that lost an extremum (base read pruned to
    those group keys), while
    insert-only groups merge monotonically and never touch the base.
    The lifecycle deletes each priority group's extreme rows (both
    current minima and maxima land in the delete predicate) and
    appends new extremes; the view must equal the full recompute of
    the final base state — which is what the oracle computes, so a
    stale-extreme bug (the classic MIN/MAX-MV failure) hash-fails."""
    from deltalake_datafusion_spark.delta.mv import (
        build_aggregate_mv,
        refresh_aggregate_mv,
    )
    from deltalake_datafusion_spark.delta.ops import delete_delta
    from deltalake_datafusion_spark.delta.scan import read_delta
    from deltalake_datafusion_spark.delta.writer import write_delta
    from deltalake_datafusion_spark.queries.delta_tier import _fresh_dir

    o = load_tables(spark, sf_dir, "orders")["orders"]
    base = _fresh_dir("mmvbase", sf_dir)
    mv = _fresh_dir("mmvview", sf_dir)
    cdf = {"delta.enableChangeDataFeed": "true"}
    rows = o.select(
        F.col("o_orderkey").alias("id"),
        F.col("o_orderpriority").alias("g"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    write_delta(spark, rows, base, configuration=cdf)
    build_aggregate_mv(spark, base, mv, ["g"], ["cents"], ["cents"])
    # append new extremes into existing groups + a brand-new group
    extra = o.filter(F.col("o_orderkey") % 97 == 0).select(
        (F.col("o_orderkey") + 300000000).alias("id"),
        F.col("o_orderpriority").alias("g"),
        (F.col("o_orderkey") % 2 * 2000000000
         - 1000000000).cast("long").alias("cents"),  # ±1e9 extremes
    )
    write_delta(spark, extra, base, mode="append", configuration=cdf)
    # delete a band that includes many of the planted extremes AND
    # original rows -> min/max recompute must fire per group
    delete_delta(spark, base, "id % 3 = 1")
    refresh_aggregate_mv(spark, base, mv, ["g"], ["cents"], ["cents"])
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


_MV_MINMAX_SQL = """
WITH base AS (
  SELECT o_orderkey AS id, o_orderpriority AS g,
    CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders
  UNION ALL
  SELECT o_orderkey + 300000000, o_orderpriority,
    CAST(o_orderkey % 2 * 2000000000 - 1000000000 AS BIGINT)
  FROM orders WHERE o_orderkey % 97 = 0
),
final AS (SELECT * FROM base WHERE NOT (id % 3 = 1))
SELECT g, CAST(COUNT(*) AS BIGINT) AS mv_count,
  CAST(SUM(cents) AS BIGINT) AS mv_sum_cents,
  CAST(MIN(cents) AS BIGINT) AS mv_min_cents,
  CAST(MAX(cents) AS BIGINT) AS mv_max_cents
FROM final GROUP BY g ORDER BY g
"""


# ---------------------------------------------------------------- #
# sql_matview_lifecycle                                             #
# ---------------------------------------------------------------- #


def sql_matview_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MATERIALIZED VIEW SQL surface end to end
    (``sql/matview.py`` — the extended-dialect pattern the
    reference's parser establishes, in front of the incremental
    maintenance tier): CREATE MATERIALIZED VIEW (min/max-bearing
    aggregate over a CDF-enabled Delta base) through the dialect →
    base changes (appends + a delete that invalidates group minima)
    → REFRESH MATERIALIZED VIEW (parses nothing — the persisted
    ``lakehouse.mv.definition`` property drives the dispatch to the
    delete-aware min/max refresh). The view must equal the full
    recompute of the final base state — the oracle computes it, so a
    grammar, definition-persistence, dispatch, or maintenance bug
    hash-fails."""
    from deltalake_datafusion_spark.delta.ops import delete_delta
    from deltalake_datafusion_spark.delta.scan import read_delta
    from deltalake_datafusion_spark.delta.writer import write_delta
    from deltalake_datafusion_spark.queries.delta_tier import _fresh_dir
    from deltalake_datafusion_spark.sql.dispatcher import sql as lsql

    c = load_tables(spark, sf_dir, "customer")["customer"]
    base = _fresh_dir("sqlmvbase", sf_dir)
    mv = _fresh_dir("sqlmvview", sf_dir)
    cdf = {"delta.enableChangeDataFeed": "true"}
    rows = c.select(
        F.col("c_custkey").alias("id"),
        F.col("c_mktsegment").alias("g"),
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    write_delta(spark, rows, base, configuration=cdf)
    lsql(
        spark,
        f"CREATE MATERIALIZED VIEW delta.`{mv}` AS "
        f"SELECT g, COUNT(*) AS n, SUM(cents) AS total, "
        f"MIN(cents), MAX(cents) "
        f"FROM delta.`{base}` GROUP BY g",
    )
    extra = c.filter(F.col("c_custkey") % 41 == 0).select(
        (F.col("c_custkey") + 500000000).alias("id"),
        F.col("c_mktsegment").alias("g"),
        (F.col("c_custkey") % 2 * 400000000
         - 200000000).cast("long").alias("cents"),
    )
    write_delta(spark, extra, base, mode="append", configuration=cdf)
    delete_delta(spark, base, "id % 5 = 2")
    lsql(spark, f"REFRESH MATERIALIZED VIEW delta.`{mv}`")
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


_SQL_MV_SQL = """
WITH base AS (
  SELECT c_custkey AS id, c_mktsegment AS g,
    CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS cents FROM customer
  UNION ALL
  SELECT c_custkey + 500000000, c_mktsegment,
    CAST(c_custkey % 2 * 400000000 - 200000000 AS BIGINT)
  FROM customer WHERE c_custkey % 41 = 0
),
final AS (SELECT * FROM base WHERE NOT (id % 5 = 2))
SELECT g, CAST(COUNT(*) AS BIGINT) AS mv_count,
  CAST(SUM(cents) AS BIGINT) AS mv_sum_cents,
  CAST(MIN(cents) AS BIGINT) AS mv_min_cents,
  CAST(MAX(cents) AS BIGINT) AS mv_max_cents
FROM final GROUP BY g ORDER BY g
"""
