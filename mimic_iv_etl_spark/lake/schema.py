"""Schema-evolution rules: union-by-name merge with safe type widening.

The reference's schema story is per-query CSV ``inferSchema`` against a static
YAML catalog with no enforcement (``bigquery_utils.py:98``, SURVEY.md §1.2) —
drift is silently mistyped. Here evolution is explicit: a batch schema is
merged into the table schema (new columns appended as nullable, numeric types
widened along safe chains), and anything else is an error.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Safe widening chains. A type may widen to any type later in its chain.
_INT_CHAIN = [T.ByteType(), T.ShortType(), T.IntegerType(), T.LongType()]
_FLOAT_CHAIN = [T.FloatType(), T.DoubleType()]


def _chain_pos(dt: T.DataType) -> tuple[str, int] | None:
    for name, chain in (("int", _INT_CHAIN), ("float", _FLOAT_CHAIN)):
        for i, c in enumerate(chain):
            if dt == c:
                return name, i
    return None


def widen(a: T.DataType, b: T.DataType) -> T.DataType:
    """Least common widened type of ``a`` and ``b``; raises if incompatible."""
    if a == b:
        return a
    pa_, pb = _chain_pos(a), _chain_pos(b)
    if pa_ and pb:
        if pa_[0] == pb[0]:
            chain = _INT_CHAIN if pa_[0] == "int" else _FLOAT_CHAIN
            return chain[max(pa_[1], pb[1])]
        # integral + floating → double (safe container for both)
        return T.DoubleType()
    raise TypeError(f"incompatible schema evolution: {a.simpleString()} -> {b.simpleString()}")


def merge_schemas(table: T.StructType, batch: T.StructType) -> T.StructType:
    """Union-by-name merge: table column order first, new batch columns appended.

    New columns are always nullable (pre-evolution rows have no value).
    Existing columns widen per :func:`widen`; nullability is OR'd.
    """
    by_name = {f.name: f for f in batch.fields}
    out: list[T.StructField] = []
    for f in table.fields:
        if f.name in by_name:
            g = by_name.pop(f.name)
            out.append(T.StructField(f.name, widen(f.dataType, g.dataType),
                                     f.nullable or g.nullable))
        else:
            out.append(f)
    for f in batch.fields:
        if f.name in by_name:  # preserves batch field order for appended cols
            out.append(T.StructField(f.name, f.dataType, True))
    return T.StructType(out)


def schemas_equal(a: T.StructType, b: T.StructType) -> bool:
    return [(f.name, f.dataType) for f in a.fields] == [(f.name, f.dataType) for f in b.fields]


def quote(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier (spaces, dots and
    backticks in column names survive ``selectExpr``/``F.expr``)."""
    return "`" + name.replace("`", "``") + "`"

