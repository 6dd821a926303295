"""Output checks: an order-insensitive digest computed inside Spark, and
per-seed references accepted only after a key's rows match its DuckDB
oracle.

The digest hashes every output column of every row with ``xxhash64`` and
sums the two 32-bit halves of the row hashes separately, so it ignores
row order and partitioning, cannot overflow a BIGINT under ANSI mode for
fewer than 2**31 rows, and makes Spark compute every column (a bare
``count()`` would let column pruning skip them). Floating-point values are
rounded to ``FLOAT_DIGITS`` decimals first, as ``tools/check.py``'s
``norm`` rounds them, so a change that only reorders a floating-point sum
keeps the digest.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, DataType, DoubleType, FloatType, MapType, StructType,
)

REFERENCE_FILE = "reference.json"
FLOAT_DIGITS = 9


def _rewritten(t: DataType) -> bool:
    """Whether ``t`` holds a map or a floating-point value."""
    if isinstance(t, (MapType, FloatType, DoubleType)):
        return True
    if isinstance(t, ArrayType):
        return _rewritten(t.elementType)
    if isinstance(t, StructType):
        return any(_rewritten(f.dataType) for f in t.fields)
    return False


def hashable(c: Column, t: DataType) -> Column:
    """``c`` with every floating-point value inside it rounded to
    ``FLOAT_DIGITS`` decimals (adding 0.0 turns -0.0 into 0.0), and every
    map replaced by its entries sorted by key, which ``xxhash64`` accepts
    (it rejects map types)."""
    if not _rewritten(t):
        return c
    if isinstance(t, (FloatType, DoubleType)):
        return F.round(c, FLOAT_DIGITS) + F.lit(0.0)
    if isinstance(t, MapType):
        if _rewritten(t.valueType):
            c = F.transform_values(c, lambda _k, v: hashable(v, t.valueType))
        return F.array_sort(F.map_entries(c))
    if isinstance(t, ArrayType):
        return F.transform(c, lambda x: hashable(x, t.elementType))
    return F.struct(*[
        hashable(c.getField(f.name), f.dataType).alias(f.name) for f in t.fields
    ])


def digest(df: DataFrame) -> tuple[int, str]:
    """Run ``df`` and return (row count, order-insensitive digest)."""
    cols = [
        hashable(F.col("`" + f.name.replace("`", "``") + "`"), f.dataType)
        for f in df.schema.fields
    ]
    h = F.xxhash64(*cols) if cols else F.lit(0).cast("bigint")
    row = (
        df.select(h.alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.shiftrightunsigned("h", 32)).alias("hi"),
            F.sum(F.col("h").bitwiseAND(0xFFFFFFFF)).alias("lo"),
        )
        .collect()[0]
    )
    return row["n"], f"{row['n']}:{row['hi'] or 0}:{row['lo'] or 0}"


class References:
    """Per-seed reference outputs, stored beside the seed's inputs.

    Each entry is ``{"rows": n, "digest": d}``; ``digest`` is None for a
    key without an oracle, which is then checked by row count only.
    """

    def __init__(self, data_dir: str):
        self.path = os.path.join(data_dir, REFERENCE_FILE)
        self.entries: dict[str, dict] = {}
        if os.path.exists(self.path):
            with open(self.path) as fh:
                self.entries = json.load(fh)

    def missing(self, keys) -> list[str]:
        return [k for k in keys if k not in self.entries]

    def add(self, key: str, rows: int, digest_: str | None) -> None:
        self.entries[key] = {"rows": rows, "digest": digest_}

    def save(self) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(self.entries, fh, indent=1, sort_keys=True)
        os.replace(tmp, self.path)

    def matches(self, key: str, rows: int, digest_: str) -> bool:
        ref = self.entries.get(key)
        if ref is None:
            return False
        if ref["digest"] is None:
            return ref["rows"] == rows
        return ref["digest"] == digest_


def oracle_problems(con, oracle_sql: str, sdf_cols, srows) -> list[str]:
    """Compare Spark rows with the DuckDB oracle's rows, normalised as
    ``tools/check.py`` does; return what differs (empty when they match)."""
    from tools.check import normalize_rows

    rel = con.sql(oracle_sql)
    ocols, orows = rel.columns, rel.fetchall()
    if sorted(sdf_cols) != sorted(ocols):
        return [f"columns spark={sorted(sdf_cols)} oracle={sorted(ocols)}"]
    if len(srows) != len(orows):
        return [f"row count spark={len(srows)} oracle={len(orows)}"]
    a = normalize_rows(sdf_cols, [tuple(r) for r in srows])
    b = normalize_rows(ocols, orows)
    diff = [(x, y) for x, y in zip(a, b) if x != y]
    if diff:
        return [f"{len(diff)} rows differ, first: spark={diff[0][0]} oracle={diff[0][1]}"]
    return []
