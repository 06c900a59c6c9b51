"""Identity columns (Delta's ``GENERATED ALWAYS/BY DEFAULT AS
IDENTITY``): writer-assigned monotone ids with a high-water mark.

Field metadata keys (the delta-spark convention):

- ``delta.identity.start`` / ``delta.identity.step`` — the sequence
- ``delta.identity.highWaterMark`` — furthest value ever assigned
- ``delta.identity.allowExplicitInsert`` — ``BY DEFAULT`` (true) vs
  ``ALWAYS`` (false: user-supplied values are rejected)

Assignment is executor-side, shuffle-free and whole-stage-codegen:
``base + step * monotonically_increasing_id()`` — Spark's monotonic id
is exactly the block allocation ``partition_id * 2^33 + row_index``,
so every task mints from its own disjoint range with zero
coordination. The Delta spec explicitly allows gaps in identity
values, which is what buys this: no global row numbering, no driver
round-trips, any number of tasks. The new high-water mark is
recovered from the written files' footer stats (already collected for
the add actions), so identity costs no extra job at all.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql.types import StructField, StructType


def identity_field(
    name: str,
    dtype="bigint",
    start: int = 1,
    step: int = 1,
    allow_explicit_insert: bool = False,
) -> StructField:
    """A StructField declared as an identity column."""
    from pyspark.sql.types import LongType, _parse_datatype_string

    if step == 0:
        raise ValueError("identity step must be nonzero")
    t = _parse_datatype_string(dtype) if isinstance(dtype, str) else dtype
    if not isinstance(t, LongType):
        raise ValueError("identity columns must be BIGINT")
    return StructField(
        name,
        t,
        True,
        {
            "delta.identity.start": start,
            "delta.identity.step": step,
            "delta.identity.allowExplicitInsert": allow_explicit_insert,
        },
    )


def identity_columns(schema: StructType) -> dict[str, dict]:
    """{column: {start, step, hwm, allow_explicit}} for every identity
    column in the schema."""
    out = {}
    for f in schema.fields:
        md = f.metadata or {}
        if "delta.identity.start" not in md:
            continue
        out[f.name] = {
            "start": int(md["delta.identity.start"]),
            "step": int(md.get("delta.identity.step", 1)),
            "hwm": (
                int(md["delta.identity.highWaterMark"])
                if "delta.identity.highWaterMark" in md
                else None
            ),
            "allow_explicit": bool(
                md.get("delta.identity.allowExplicitInsert", False)
            ),
        }
    return out


def assign_identity(
    df: DataFrame, column: str, base: int, step: int
) -> DataFrame:
    """``df`` plus ``column`` filled with block-allocated identity
    values — a pure JVM expression (no shuffle, no Python)."""
    from pyspark.sql import functions as F

    return df.withColumn(
        column,
        (
            F.lit(base) + F.lit(step) * F.monotonically_increasing_id()
        ).cast("long"),
    )


def high_water_mark_from_stats(
    stats_jsons: list[str], column: str, step: int
) -> int | None:
    """New high-water mark for an assigned identity column, recovered
    from the written files' stats (max for ascending, min for
    descending) — no extra scan."""
    best = None
    for s in stats_jsons:
        try:
            d = json.loads(s)
        except (TypeError, ValueError):
            continue
        v = (d.get("maxValues" if step > 0 else "minValues") or {}).get(column)
        if v is None:
            continue
        v = int(v)
        if best is None or (v > best if step > 0 else v < best):
            best = v
    return best


def advance_hwm_from_adds(
    schema: StructType, adds: list[dict], steps: dict[str, int]
) -> tuple[StructType, dict[str, int]]:
    """``schema`` with each minted identity column's high-water mark
    advanced from the stats of the data files a write produced
    (``adds``: its add actions; ``steps``: {column: step}), plus
    {column: new hwm} for the columns that advanced. Stats are keyed
    by physical column name."""
    stats = [a["add"].get("stats") for a in adds]
    advanced: dict[str, int] = {}
    for c, step in steps.items():
        phys = (schema[c].metadata or {}).get(
            "delta.columnMapping.physicalName", c
        )
        hwm = high_water_mark_from_stats(stats, phys, step)
        if hwm is not None:
            schema = schema_with_hwm(schema, c, hwm)
            advanced[c] = hwm
    return schema, advanced


def schema_with_hwm(
    schema: StructType, column: str, hwm: int
) -> StructType:
    """Schema with ``column``'s ``delta.identity.highWaterMark``
    advanced to ``hwm``."""
    fields = []
    for f in schema.fields:
        if f.name != column:
            fields.append(f)
            continue
        md = dict(f.metadata or {})
        md["delta.identity.highWaterMark"] = hwm
        fields.append(StructField(f.name, f.dataType, f.nullable, md))
    return StructType(fields)
