"""Descriptor → Spark ``StructType`` bridge.

Makes inferred schemas directly consumable by ``spark.read.json(schema=…)``
and friends — the Spark-native payoff the reference cannot offer (its only
output is DDL text, ``/root/reference/Schemer.scala:107-115``).

Mapping (SURVEY §1.5): ``???``→NullType (StringType under
``unknown_as_string``), BOOLEAN→BooleanType, VARCHAR(n)→VarcharType(n),
STRING→StringType, int ladder→Byte/Short/Integer/LongType,
FLOAT/DOUBLE→Float/DoubleType, NUMERIC(p,s)→DecimalType(min(p,38), s),
ARRAY→ArrayType, STRUCT→StructType.  All fields nullable (Hive semantics —
the reference has no NOT NULL inference, SURVEY §1.4).
"""

from __future__ import annotations

from pyspark.sql import types as T

from .lattice import (
    MapOf,
    Arr,
    Bool,
    Descriptor,
    Num,
    Str,
    Struct,
    Ts,
    Unknown,
)
from .render import VARCHAR_MAX, numeric_tier

_SPARK_TIERS = {
    "TINYINT": T.ByteType,
    "SMALLINT": T.ShortType,
    "INT": T.IntegerType,
    "BIGINT": T.LongType,
    "FLOAT": T.FloatType,
    "DOUBLE": T.DoubleType,
}


def to_spark_type(
    desc: Descriptor, unknown_as_string: bool = False, varchar_as_string: bool = False
) -> T.DataType:
    """``varchar_as_string=True`` maps VARCHAR(n) → StringType — required for
    schemas used in ``spark.read`` (Spark rejects char/varchar in read schemas
    without the legacy flag)."""
    if isinstance(desc, Unknown):
        return T.StringType() if unknown_as_string else T.NullType()
    if isinstance(desc, MapOf):  # opt-in structs_to_maps deviation
        return T.MapType(
            T.StringType(),
            to_spark_type(desc.value, unknown_as_string, varchar_as_string),
            True,
        )
    if isinstance(desc, Bool):
        return T.BooleanType()
    if isinstance(desc, Ts):
        return T.TimestampType() if desc.has_time else T.DateType()
    if isinstance(desc, Str):
        n = desc.max_len
        if 0 < n <= VARCHAR_MAX and not varchar_as_string:
            return T.VarcharType(n)
        return T.StringType()
    if isinstance(desc, Num):
        tier, p, s = numeric_tier(desc)
        if tier == "NUMERIC":
            return T.DecimalType(min(p, 38), min(s, 38))
        return _SPARK_TIERS[tier]()
    if isinstance(desc, Arr):
        return T.ArrayType(
            to_spark_type(desc.element, unknown_as_string, varchar_as_string), True
        )
    if isinstance(desc, Struct):
        return to_spark_schema(desc, unknown_as_string, varchar_as_string)
    raise TypeError(f"unmappable descriptor: {desc!r}")


def to_spark_schema(
    desc: Descriptor, unknown_as_string: bool = False, varchar_as_string: bool = False
) -> T.StructType:
    """Top-level StructType for a struct descriptor (first-seen field order)."""
    if not isinstance(desc, Struct):
        raise TypeError("top-level schema must be a struct (object rows)")
    return T.StructType(
        [
            T.StructField(
                k, to_spark_type(v, unknown_as_string, varchar_as_string), True
            )
            for k, v in desc.fields.items()
        ]
    )
