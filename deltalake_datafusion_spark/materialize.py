"""Materialization policy: the one home for cached intermediates.

1. MERGE sources: walk, then materialize. A MERGE reads its source
   more than once, so a source that cannot be re-read identically is
   materialized once — delta-spark's MERGE source rule
   (``MergeIntoMaterializeSource``). :func:`needs_materializing` walks
   the plan; a cheap deterministic source is re-read instead (there a
   persist made per-micro-batch MV refresh 2.8x slower at local[32]).
2. Operator-internal reuse: :func:`scope` persists the frames one
   operation shares and unpersists each on every exit path.
3. Frames a lazily returned plan still reads: ``localCheckpoint``,
   called at the site. Spark's ContextCleaner reclaims the blocks once
   the returned frame is garbage-collected.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame

# Nodes that re-read their child row for row, and leaves that re-read
# identically at scan cost (InMemoryRelation: a frame already cached).
_PASS_THROUGH = frozenset({"Project", "Filter", "SubqueryAlias"})
_STABLE_LEAVES = frozenset({
    "LocalRelation", "LogicalRDD", "LogicalRelation", "Range",
    "InMemoryRelation",
})


def needs_materializing(df: DataFrame) -> bool:
    """False only when ``df``'s optimized plan is deterministic and
    holds only projections, filters and aliases over stable leaves.
    Python UDFs (``BatchEvalPython``), ``sample()``, joins and shuffles
    materialize; so do ``rand()`` and ``uuid()``."""
    plan = df._jdf.queryExecution().optimizedPlan()
    if not plan.deterministic():
        return True
    stack = [plan]
    while stack:
        node = stack.pop()
        kids = node.children()
        n = kids.size()
        if node.nodeName() not in (_PASS_THROUGH if n else _STABLE_LEAVES):
            return True
        stack.extend(kids.apply(i) for i in range(n))
    return False


@contextmanager
def scope():
    """Yield ``persist(df) -> df``. Every frame persisted through it is
    unpersisted when the ``with`` block exits, however it exits."""
    frames: list[DataFrame] = []

    def persist(df: DataFrame) -> DataFrame:
        frames.append(df.persist())
        return frames[-1]

    try:
        yield persist
    finally:
        for df in frames:
            df.unpersist()
