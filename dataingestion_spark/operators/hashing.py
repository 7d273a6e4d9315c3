"""The canonical md5-hex → integer helpers behind every cross-engine
determinism contract in this package.

Several operators turn a lowercase md5 hex prefix into a uniform integer
with nothing but string/integer ops, so Spark and a DuckDB oracle agree
bit-for-bit. The math is one fixed polynomial — keep it in ONE place:
a drifted copy (different digit lookup, different width) silently breaks
an oracle, and the failure looks like a data bug, not a helper bug.

Every Spark-side md5-hex → integer step in the package (embeddings,
sketches, simhash, splits, sampling, KMV, the hashed classifier) goes
through :func:`hex_digit` or :func:`hex_prefix_long`. Several DuckDB
oracle builders (``*_sql``) spell the same polynomial out inline; they
are the independent reference these helpers are checked against.
The hyperplane-LSH plane constants are computed driver-side with
``hashlib`` (``similarity.plane_component_value``) and inlined as
literals in both engines.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, functions as F

__all__ = ["hex_digit", "hex_prefix_long", "horner_hex_sql"]


def hex_digit(col: Column) -> Column:
    """Engine-agnostic hex digit → 0..15 (instr over the hex alphabet)."""
    return F.instr(F.lit("0123456789abcdef"), col) - 1


def hex_prefix_long(hexcol: Column, nchars: int) -> Column:
    """Integer value of the first ``nchars`` lowercase hex chars (≤ 15,
    so the value fits a long with room to spare)."""
    terms = [
        hex_digit(F.substring(hexcol, i + 1, 1)).cast("long")
        * (1 << (4 * (nchars - 1 - i)))
        for i in range(nchars)
    ]
    return reduce(lambda a, b: a + b, terms)


def horner_hex_sql(hex_expr: str, nchars: int) -> str:
    """The same integer as :func:`hex_prefix_long`, as a DuckDB/ANSI
    Horner fold over ``hex_expr`` (any SQL expression yielding the hex
    string)."""
    expr = "CAST(0 AS BIGINT)"
    for i in range(1, nchars + 1):
        expr = (f"({expr} * 16 + (instr('0123456789abcdef', "
                f"substr({hex_expr}, {i}, 1)) - 1))")
    return expr
