"""llm_pipeline: the LLM-data operators, with no Delta log involved.

Each pass builds a fresh corpus (the generated documents plus seeded
near-duplicate and exact-duplicate copies) and a fresh embedding corpus
(generated vectors plus planted neighbours), then runs ``exact_dedup``,
``minhash_dedup_pairs``, ``simhash_near_dup_pairs``,
``ngram_jaccard_pairs``, ``quality_features``, ``lsh_topk`` and
``ivf_topk``. Row-valued outputs go to the ``noop`` sink; pair and top-k
outputs are collected. Checks use planted ground truth computed here:
every planted near-duplicate pair is found with its exact Jaccard /
Hamming value, every planted neighbour is in its query's top 2, and
``exact_dedup`` keeps what DuckDB's GROUP BY on the normalized text
keeps.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from deltalake_datafusion_spark.operators.dedup import (
    exact_dedup, minhash_dedup_pairs, minhash_lsh_candidates, minhash_signature,
    ngram_jaccard_pairs, simhash_near_dup_pairs,
)
from deltalake_datafusion_spark.operators.similarity import ivf_topk, lsh_topk
from deltalake_datafusion_spark.operators.text import quality_features
from perfbench import data
from perfbench.harness import Ctx

PASS = ("exact", "minhash", "simhash", "ngram", "quality", "lsh", "ivf")
SECONDS_PER_PASS = 9  # passes per run = --seconds // SECONDS_PER_PASS
# sf0.03 (1.5k documents, 600 vectors) keeps a run near 55 s; see README.
DEFAULT_SF = 0.03
JACCARD = 0.5
BANDS = 64
# The package's validated simhash setting (its DuckDB-checked query uses
# the same): Hamming ≤ 4 with a 32-row neighbourhood.
MAX_HAMMING = 4
NEIGHBORS = 32
QUERIES = 8


@dataclass
class Corpus:
    """One pass's inputs and their ground truth."""
    name: str
    docs_file: str
    texts: dict[int, str]
    near: dict[tuple[int, int], tuple[float, int]]  # (a, b) -> (jaccard, hamming)
    vecs_file: str
    queries_file: str
    planted: dict[int, int]  # query id -> planted neighbour id


@dataclass
class State:
    base_docs: pa.Table
    base_vecs: np.ndarray
    n_planted: int
    passes: int = 0


def _perturb(rng, text: str) -> str:
    words = text.split(" ")
    for i in rng.choice(len(words), size=int(rng.integers(1, 3)), replace=False):
        words[i] = data.VOCAB[int(rng.integers(0, len(data.VOCAB)))]
    return " ".join(words)


def _restyle(rng, text: str) -> str:
    """Same normalized text: case, punctuation and spacing changed."""
    words = text.split(" ")
    i = int(rng.integers(0, len(words)))
    words[i] = words[i].upper() + rng.choice([",", ".", "!", ";"])
    return "  ".join(words)


def make_corpus(ctx: Ctx, st: State, rng) -> Corpus:
    """Base documents plus seeded near-duplicates (each within every
    operator's threshold of its original) and restyled exact copies;
    base vectors plus a planted neighbour per query."""
    st.passes += 1
    name = f"pass{st.passes}"
    base_ids = st.base_docs["doc_id"].to_numpy()
    base_texts = st.base_docs["text"].to_pylist()
    texts = dict(zip(base_ids.tolist(), base_texts))
    long_docs = [i for i, t in texts.items() if t.count(" ") >= 29]
    near: dict[tuple[int, int], tuple[float, int]] = {}
    extra_ids, extra_texts = [], []
    first = 1_000_000 * st.passes
    for k, src in enumerate(rng.choice(long_docs, size=st.n_planted, replace=False)):
        src = int(src)
        while True:
            t = _perturb(rng, texts[src])
            j = data.jaccard(texts[src], t)
            h = data.hamming(data.simhash_md5_60(texts[src]),
                             data.simhash_md5_60(t))
            if j >= JACCARD and h <= MAX_HAMMING:
                break
        near[(src, first + k)] = (j, h)
        extra_ids.append(first + k)
        extra_texts.append(t)
    for k, src in enumerate(rng.choice(base_ids, size=st.n_planted, replace=False)):
        extra_ids.append(first + 500_000 + k)
        extra_texts.append(_restyle(rng, texts[int(src)]))
    texts.update(zip(extra_ids, extra_texts))
    docs = pa.table({
        "doc_id": np.r_[base_ids, np.array(extra_ids, dtype=np.int64)],
        "text": base_texts + extra_texts,
    })
    docs_file = data.write(docs, ctx.path(f"{name}_docs.parquet"))

    n = len(st.base_vecs)
    picks = rng.choice(n, size=QUERIES, replace=False)

    def near_copy(i):
        v = st.base_vecs[i] + 0.01 * rng.standard_normal(data.EMB_DIM)
        return v / np.linalg.norm(v)

    planted_ids = np.arange(first, first + QUERIES)
    vecs = np.r_[st.base_vecs, np.stack([near_copy(i) for i in picks])]
    ids = np.r_[np.arange(n), planted_ids]
    queries = np.stack([near_copy(i) for i in picks])
    vecs_file = data.write(pa.table({
        "vec_id": ids.astype(np.int64),
        "v": pa.array(list(vecs.astype(np.float64)), type=pa.list_(pa.float64())),
    }), ctx.path(f"{name}_vecs.parquet"))
    queries_file = data.write(pa.table({
        "query_id": np.arange(QUERIES, dtype=np.int64),
        "query_vec": pa.array(list(queries.astype(np.float64)),
                              type=pa.list_(pa.float64())),
    }), ctx.path(f"{name}_queries.parquet"))
    return Corpus(name, docs_file, texts, near, vecs_file, queries_file,
                  dict(zip(range(QUERIES), planted_ids.tolist())))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _pairs(ctx: Ctx, c: Corpus, kind: str, got: dict, value) -> None:
    """Every planted pair found, with the independently computed value."""
    ctx.expect(kind, sorted((p, got.get(p)) for p in c.near),
               sorted((p, value(v)) for p, v in c.near.items()))


def run_op(ctx: Ctx, c: Corpus, kind: str) -> None:
    spark = ctx.spark
    docs = spark.read.parquet(c.docs_file)
    if kind == "exact":
        out = exact_dedup(docs, "text", "doc_id")

        def run():
            with ctx.span("operators.dedup.exact"):
                _noop(out)

        def check(_):
            got = out.agg(F.count(F.lit(1)), F.sum("doc_id")).collect()
            ctx.expect(kind, [tuple(r) for r in got], ctx.q(
                "SELECT COUNT(*), SUM(k) FROM (SELECT MIN(doc_id) AS k "
                "FROM read_parquet(?) GROUP BY trim(regexp_replace(regexp_replace("
                "lower(text), '[^\\p{L}\\p{N}\\s]', ' ', 'g'), '\\s+', ' ', 'g')))",
                [c.docs_file]))
    elif kind == "minhash":
        def run():
            with ctx.span("operators.dedup.minhash"):
                return minhash_dedup_pairs(docs, "text", "doc_id", threshold=JACCARD,
                                           bands=BANDS, shingle_n=3).collect()

        def check(res):
            _pairs(ctx, c, kind, {(r.a, r.b): r.jaccard for r in res}, lambda v: v[0])
            if ctx.tracer.enabled:
                cands = minhash_lsh_candidates(
                    minhash_signature(docs, "text", "doc_id", shingle_n=3),
                    BANDS).count()
                ctx.tracer.count("operators.dedup.minhash_candidates_per_pair",
                                 cands / len(res))
    elif kind == "simhash":
        def run():
            with ctx.span("operators.dedup.simhash"):
                return simhash_near_dup_pairs(docs, "text", "doc_id",
                                              max_hamming=MAX_HAMMING,
                                              neighbors=NEIGHBORS,
                                              hash_mode="md5_60").collect()

        def check(res):
            _pairs(ctx, c, kind, {(r.a, r.b): r.hamming for r in res}, lambda v: v[1])
    elif kind == "ngram":
        def run():
            with ctx.span("operators.dedup.ngram"):
                return ngram_jaccard_pairs(docs, "text", "doc_id", threshold=JACCARD,
                                           shingle_n=3).collect()

        def check(res):
            _pairs(ctx, c, kind, {(r.a, r.b): r.jaccard for r in res}, lambda v: v[0])
    elif kind == "quality":
        out = quality_features(docs, "text")

        def run():
            with ctx.span("operators.text.quality"):
                _noop(out)

        def check(_):
            got = out.agg(F.count(F.lit(1)), F.sum("q_n_chars"),
                          F.sum("q_n_tokens")).collect()
            ts = c.texts.values()
            ctx.expect(kind, tuple(got[0]), (
                len(c.texts), sum(len(t) for t in ts),
                sum(len(data.normalize(t).split(" ")) for t in ts)))
    elif kind in ("lsh", "ivf"):
        vecs = spark.read.parquet(c.vecs_file)
        queries = spark.read.parquet(c.queries_file)

        def run():
            with ctx.span(f"operators.similarity.{kind}"):
                if kind == "lsh":
                    out = lsh_topk(vecs, queries, k=2, bits=8, tables=8,
                                   dim=data.EMB_DIM, id_col="vec_id", vec_col="v")
                else:
                    out = ivf_topk(vecs, queries, k=2, n_lists=16, n_probe=4,
                                   id_col="vec_id", vec_col="v")
                return out.collect()

        def check(res):
            top2: dict[int, set] = {}
            for r in res:
                top2.setdefault(r.query_id, set()).add(r.neighbor_id)
            ctx.expect(kind, sorted((q, p in top2.get(q, ())) for q, p in c.planted.items()),
                       sorted((q, True) for q in c.planted))
    else:
        raise ValueError(kind)
    ctx.op(kind, run, check)


def _pass(ctx: Ctx, st: State, rng) -> None:
    c = make_corpus(ctx, st, rng)
    for kind in PASS:
        run_op(ctx, c, kind)


def setup(ctx: Ctx) -> State:
    rng = np.random.default_rng([ctx.seed, 0])
    n_docs = max(200, int(50_000 * ctx.sf))
    n_vecs = max(200, int(20_000 * ctx.sf))
    n_planted = max(4, int(400 * ctx.sf))
    with ctx.phase("warm-up (scratch corpus, one op of each kind)"):
        _pass(ctx, State(data.documents(rng, max(200, n_docs // 10)),
                         data.embeddings(rng, max(200, n_vecs // 10)), 4), rng)
    with ctx.phase("fixture"):
        return State(data.documents(rng, n_docs), data.embeddings(rng, n_vecs),
                     n_planted, passes=1)


def measure(ctx: Ctx, st: State, rng, seconds: int) -> None:
    for _ in range(max(1, seconds // SECONDS_PER_PASS)):
        _pass(ctx, st, rng)
