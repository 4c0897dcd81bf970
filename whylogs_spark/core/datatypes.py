"""Type lattice: Spark DataType -> whylogs-style value type.

Mirrors the reference's type system (reference:
python/whylogs/core/datatypes.py:45-131): Integral / Fractional / String /
Bool / Tensor / Object, with datetimes handled separately (the reference
excludes datetime64 from Integral and lets them fall through to AnyType;
we do strictly better by tracking temporal min/max + cardinality).

Spark columns are statically typed, so the per-value dispatch of the
reference (python/whylogs/core/preprocessing.py:307) collapses into a
single driver-side mapping from ``StructField.dataType``.
"""

from __future__ import annotations

from enum import Enum

from pyspark.sql import types as T


class ValueType(str, Enum):
    INTEGRAL = "integral"
    FRACTIONAL = "fractional"
    BOOLEAN = "boolean"
    STRING = "string"
    TEMPORAL = "temporal"
    TENSOR = "tensor"
    OBJECT = "object"


_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FRACTIONAL = (T.FloatType, T.DoubleType, T.DecimalType)
_TEMPORAL = (T.TimestampType, T.DateType, T.TimestampNTZType)


def value_type_of(dt: T.DataType) -> ValueType:
    if isinstance(dt, _INTEGRAL):
        return ValueType.INTEGRAL
    if isinstance(dt, _FRACTIONAL):
        return ValueType.FRACTIONAL
    if isinstance(dt, T.BooleanType):
        return ValueType.BOOLEAN
    if isinstance(dt, T.StringType):
        return ValueType.STRING
    if isinstance(dt, _TEMPORAL):
        return ValueType.TEMPORAL
    if isinstance(dt, T.ArrayType) and isinstance(
        dt.elementType, _INTEGRAL + _FRACTIONAL
    ):
        return ValueType.TENSOR
    return ValueType.OBJECT


def _leaf_paths(dt: T.StructType, prefix: tuple):
    out = []
    for f in dt.fields:
        p = prefix + (f.name,)
        if isinstance(f.dataType, T.StructType):
            out.extend(_leaf_paths(f.dataType, p))
        else:
            out.append((p, f.dataType))
    return out


def flatten_struct_columns(df, columns=None, segment_cols=()):
    """Expand top-level STRUCT columns into one column per leaf path,
    named ``a.b.c`` — each leaf then profiles as a first-class column of
    its own scalar type (counts/distribution/cardinality/...).

    A strict superset of the reference, which maps any nested value to a
    count-only object column (reference:
    python/whylogs/core/datatypes.py:82-110). Maps and arrays-of-struct
    stay opaque (dynamic keys / repetition have no static leaf set) and
    keep the reference's count-only OBJECT behavior.

    Pure projection — Catalyst prunes unreferenced leaves at the parquet
    scan, so flattening never widens the read. Returns ``(df, columns)``
    with the selection rewritten to leaf names.
    """
    from pyspark.sql import functions as F

    def q(name: str) -> str:
        return "`" + name.replace("`", "``") + "`"

    fields = df.schema.fields
    chosen = {
        f.name: (
            isinstance(f.dataType, T.StructType)
            and f.name not in segment_cols
            and (columns is None or f.name in columns)
        )
        for f in fields
    }
    if not any(chosen.values()):
        return df, columns
    sel, rename = [], {}
    taken = {f.name for f in fields}
    for f in fields:
        if not chosen[f.name]:
            sel.append(F.col(q(f.name)))
            continue
        leaves = _leaf_paths(f.dataType, (f.name,))
        if not leaves:  # empty struct: keep opaque
            sel.append(F.col(q(f.name)))
            continue
        rename[f.name] = []
        for path, _dt in leaves:
            name = ".".join(path)
            if name in taken:
                raise ValueError(
                    f"nested leaf {name!r} collides with an existing "
                    "column; rename one of them before profiling")
            taken.add(name)
            expr = F.col(q(path[0]))
            for part in path[1:]:
                expr = expr.getField(part)
            sel.append(expr.alias(name))
            rename[f.name].append(name)
    new_columns = columns
    if columns is not None:
        new_columns = []
        for c in columns:
            new_columns.extend(rename.get(c, [c]))
    return df.select(*sel), new_columns

