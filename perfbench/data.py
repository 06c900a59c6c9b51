"""Seeded input generators.

Every table is generated from ``numpy.random.default_rng(seed)`` and
written as parquet inside the run's work directory, so the same seed
gives byte-identical inputs. Shapes follow the TPC-H-style star schema
and the LLM-corpus tables the package's query suite uses; ``sf`` scales
row counts the same way (sf0.1 → 600k ``lineitem`` rows, 5k documents,
2k embeddings).
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Small closed vocabulary, as in the package's generated document corpus:
# trigram shingles of random documents rarely collide, so planted
# near-duplicates stand far above the random-pair background.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window delta log file commit snapshot index "
    "shard page cache token"
).split()
EMB_DIM = 64
_DAY_US = 86_400_000_000
_EPOCH_1992_US = 694_224_000_000_000  # 1992-01-01T00:00:00Z


def lineitem_rows(sf: float) -> int:
    return max(200, int(6_000_000 * sf))


def lineitem(rng: np.random.Generator, n: int, first_orderkey: int = 1) -> pa.Table:
    """``n`` lineitem rows whose order keys start at ``first_orderkey``
    and rise with the row index (1-7 lines per order), so a base table
    written in key order has disjoint per-file key ranges."""
    lines = rng.integers(1, 8, size=n)
    order_idx = np.repeat(np.arange(n), lines)[:n]
    first_row = np.r_[0, np.cumsum(lines)][order_idx]
    orderkey = first_orderkey + order_idx.astype(np.int64)
    linenumber = (np.arange(n) - first_row + 1).astype(np.int32)
    qty = rng.integers(1, 51, size=n)
    price_cents = rng.integers(90_000, 200_000, size=n)
    return pa.table(
        {
            "l_orderkey": orderkey,
            "l_partkey": rng.integers(1, 200_001, size=n).astype(np.int64),
            "l_suppkey": rng.integers(1, 1_001, size=n).astype(np.int64),
            "l_linenumber": linenumber,
            "l_quantity": qty.astype(np.float64),
            "l_extendedprice": (qty * price_cents) / 100.0,
            "l_discount": rng.integers(0, 11, size=n) / 100.0,
            "l_tax": rng.integers(0, 9, size=n) / 100.0,
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), size=n),
            "l_linestatus": rng.choice(np.array(["F", "O"]), size=n),
            "l_shipdate": pa.array(
                _EPOCH_1992_US + rng.integers(0, 2_500, size=n) * _DAY_US,
                type=pa.timestamp("us", tz="UTC"),
            ),
        }
    )


def supplier(rng: np.random.Generator, n: int = 1_000) -> pa.Table:
    return pa.table(
        {
            "s_suppkey": np.arange(1, n + 1, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(1, n + 1)],
            "s_nationkey": rng.integers(0, 25, size=n).astype(np.int32),
            "s_acctbal": rng.integers(-99_999, 999_999, size=n) / 100.0,
        }
    )


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """``n`` documents of 10–100 words drawn from ``VOCAB``."""
    lengths = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lengths.sum()))
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[pos : pos + ln]))
        pos += ln
    return pa.table({"doc_id": np.arange(n, dtype=np.int64), "text": texts})


def embeddings(rng: np.random.Generator, n: int) -> np.ndarray:
    """Unit-norm float32 vectors: random pairs sit near cosine 0."""
    v = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path)
    return path


# ------------------------------------------------------------------ #
# Independent text measures (ground truth for the dedup operators)    #
# ------------------------------------------------------------------ #

_NON_WORD = re.compile(r"[^\w\s]|_")
_SPACES = re.compile(r"\s+")


def normalize(text: str) -> str:
    """Lowercase, non-alphanumerics to spaces, collapse whitespace."""
    return _SPACES.sub(" ", _NON_WORD.sub(" ", text.lower())).strip()


def shingles(text: str, n: int = 3) -> set[str]:
    w = normalize(text).split(" ")
    if len(w) < n:
        return {" ".join(w)}
    return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}


def jaccard(a: str, b: str, n: int = 3) -> float:
    sa, sb = shingles(a, n), shingles(b, n)
    return len(sa & sb) / len(sa | sb)


def simhash_md5_60(text: str) -> int:
    """64-bit SimHash over 60-bit md5 word hashes (majority vote per
    bit), the definition behind the operator's ``md5_60`` mode."""
    hs = [int(hashlib.md5(w.encode()).hexdigest()[:15], 16)
          for w in normalize(text).split(" ")]
    sig = 0
    for b in range(60):
        if 2 * sum((h >> b) & 1 for h in hs) > len(hs):
            sig |= 1 << b
    return sig


def hamming(a: int, b: int) -> int:
    return bin(a ^ b).count("1")
