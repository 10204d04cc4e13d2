"""Hive DDL renderer — the codegen layer.

Re-expresses the reference's exemplar→string printer
(``out``/``definition``/``table``, ``/root/reference/Schemer.scala:67-115``)
over our descriptor lattice.  Runs entirely on the driver: the distributed
part of the engine ends with one small schema descriptor.

Faithfulness notes (each a documented decision, SURVEY §7):

- Tab indentation, ``ARRAY<…>``/``STRUCT<…>`` multi-line layout, ``???`` for
  unknown, ``NUMERIC(p, s)`` spelling and the int/float ladder thresholds all
  match ``Schemer.scala:67-97``.
- Struct fields are comma-separated.  The reference's *code* omits the commas
  (``Schemer.scala:92-95`` joins with only ``\\n``) while its README golden
  output has them (``README.md:29-31``); commas are the valid Hive syntax, so
  we follow the README.
- VARCHAR bound: reference uses ``0 < n < 65356`` — a typo for Hive's 65535
  (``Schemer.scala:73``).  We use ``0 < n <= 65535`` (deviation noted).
- Numeric tiers use min *and* max bounds (reference keeps only the max and
  mis-tiers mixed-sign columns — SURVEY §1.4 bug, fixed).
"""

from __future__ import annotations

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
    num_bounds_precision,
)

VARCHAR_MAX = 65535  # Hive's real bound; reference typo'd 65356 (Schemer.scala:73)

#: The integer ladder: the narrowest tier whose [min, max] holds the column.
_INT_LADDER = (
    ("TINYINT", -(2**7), 2**7 - 1),
    ("SMALLINT", -(2**15), 2**15 - 1),
    ("INT", -(2**31), 2**31 - 1),
    ("BIGINT", -(2**63), 2**63 - 1),
)


def numeric_tier(num: Num) -> tuple[str, int, int]:
    """The int-ladder/FLOAT/DOUBLE/NUMERIC decision tree
    (``Schemer.scala:77-85``), with min/max bounds instead of a max
    exemplar: ``(tier, precision, scale)`` with ``tier`` one of the
    ``_INT_LADDER`` names, ``FLOAT``, ``DOUBLE`` or ``NUMERIC``.  The DDL
    renderer and the Spark-type bridge both map this one result."""
    if num.max_scale == 0:
        lo, hi = int(num.lo), int(num.hi)
        for tier, tmin, tmax in _INT_LADDER:
            if tmin <= lo and hi <= tmax:
                return tier, 0, 0
        return "NUMERIC", num_bounds_precision(num), 0
    p = num_bounds_precision(num)
    if p <= 7:
        return "FLOAT", p, num.max_scale
    if p <= 15:
        return "DOUBLE", p, num.max_scale
    return "NUMERIC", p, num.max_scale


def render_type(desc: Descriptor, indent: int = 0, key: str | None = None) -> str:
    """Render one descriptor as a Hive type string (``out``,
    ``Schemer.scala:67-97``): tab-indented, recursive, ``???`` for unknown."""
    pad = "\t" * indent
    prefix = pad + (key + " " if key else "")
    if isinstance(desc, Unknown):
        return prefix + "???"
    if isinstance(desc, Bool):
        return prefix + "BOOLEAN"
    if isinstance(desc, Ts):  # opt-in detect_dates deviation (lattice.Ts)
        return prefix + ("TIMESTAMP" if desc.has_time else "DATE")
    if isinstance(desc, Str):
        n = desc.max_len
        if 0 < n <= VARCHAR_MAX:
            return prefix + f"VARCHAR({n})"
        return prefix + "STRING"
    if isinstance(desc, Num):
        tier, p, s = numeric_tier(desc)
        return prefix + (f"NUMERIC({p}, {s})" if tier == "NUMERIC" else tier)
    if isinstance(desc, Arr):
        return "\n".join(
            [prefix + "ARRAY<", render_type(desc.element, indent + 1), pad + ">"]
        )
    if isinstance(desc, MapOf):  # opt-in structs_to_maps deviation
        return "\n".join(
            [
                prefix + "MAP<STRING,",
                render_type(desc.value, indent + 1),
                pad + ">",
            ]
        )
    if isinstance(desc, Struct):
        lines = [prefix + "STRUCT<"]
        fields = list(desc.fields.items())
        for i, (k, v) in enumerate(fields):
            comma = "," if i < len(fields) - 1 else ""
            lines.append(render_type(v, indent + 1, key=k + ":") + comma)
        lines.append(pad + ">")
        return "\n".join(lines)
    raise TypeError(f"unrenderable descriptor: {desc!r}")


def render_definition(schema: Descriptor, indent: int = 0) -> str:
    """Top-level column list, ``name TYPE`` joined by ``,\\n``
    (``definition``, ``Schemer.scala:99-105``; non-struct ⇒ ``ERROR``)."""
    if not isinstance(schema, Struct):
        return "ERROR"
    return ",\n".join(
        render_type(v, indent, key=k) for k, v in schema.fields.items()
    )


def render_table(schema: Descriptor, name: str, file: str) -> str:
    """Full three-statement Hive script (``table``, ``Schemer.scala:107-115``):
    ``ADD JAR`` + ``CREATE TABLE … ROW FORMAT SERDE`` + ``LOAD DATA``."""
    return "\n".join(
        [
            "ADD JAR hive-json-serde-0.2.jar;",
            "",
            f"CREATE TABLE {name} (",
            render_definition(schema, 1),
            ") ROW FORMAT SERDE 'org.apache.hadoop.hive.contrib.serde2.JsonSerde';",
            "",
            f"LOAD DATA LOCAL INPATH '{file}' INTO TABLE {name};",
        ]
    )
