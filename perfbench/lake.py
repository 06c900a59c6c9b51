"""lake: the Delta table provider, read path and write path.

Two table sets in one session. The read table (``lake_read``) is a
lineitem Delta table with a multi-file base, small appends crossing
checkpoints and one deletion-vector DELETE; its ops are range scans that
skipping narrows to a few files, aggregates that keep every file, time
travel to pre-checkpoint versions, ``log_replay_df``, ``load_snapshot``
and an extended-dialect ``sql()`` SELECT. The write tables
(``lake_write``) are a CDF fact table, a dimension table and a join
materialized view; a write cycle is append → MERGE → UPDATE → DELETE →
``refresh_join_mv`` → read the view.

The measured sequence is a number of blocks, each the six read kinds in
a fixed order; in every block but the last (in the only one, when there
is one) each read is followed by one op of the write cycle. The
sequence ends with one OPTIMIZE. At the default length that is three
blocks: three ops of each read kind and two of each write kind, so the
per-kind medians that the end-to-end timings rest on have two or three
samples. The seed picks every op's parameters and the generated data;
the order is fixed.
"""

from __future__ import annotations

import numpy as np

from perfbench import data, lake_read, lake_write
from perfbench.harness import Ctx

# sf0.03 (180k lineitem rows) keeps a run near 70 s; see README.
DEFAULT_SF = 0.03
SECONDS_PER_BLOCK = 9  # blocks per run = --seconds // SECONDS_PER_BLOCK


def setup(ctx: Ctx):
    rng = np.random.default_rng([ctx.seed, 0])
    n = data.lineitem_rows(ctx.sf)
    return lake_read.setup(ctx, rng, n), lake_write.setup(ctx, rng, n)


def measure(ctx: Ctx, state, rng, seconds: int) -> None:
    reads, writes = state
    blocks = max(1, seconds // SECONDS_PER_BLOCK)
    for b in range(blocks):
        for r, w in zip(lake_read.KINDS, lake_write.CYCLE):
            lake_read.run_op(ctx, reads, r, rng)
            if b < max(1, blocks - 1):
                lake_write.run_op(ctx, writes, w, rng)
    lake_write.run_op(ctx, writes, "optimize", rng)
