"""Expected Hive DDL, rendered from a type spec the generator chose.

This is the benchmark's own oracle.  It never calls the program's lattice or
renderer: the generator decides every field's bounds, lengths and scales up
front, plants rows that reach them, and this module turns that choice into
the exact text the CLI must print.  The rules are the reference tool's
documented output (integer ladder, FLOAT/DOUBLE/NUMERIC by precision,
VARCHAR(n) up to 65535, ``???`` for all-null, tab-indented STRUCT/ARRAY).

A spec is a nested tuple:

    ("int", lo, hi)               integers in [lo, hi]
    ("dec", lo_units, hi_units, scale)
                                  fixed-scale decimals lo_units/10**scale ..
    ("str", max_len)              strings, longest has max_len code points
    ("bool",) / ("null",)         booleans / always null
    ("arr", elem_spec)            arrays (elem ("null",) = only empty arrays)
    ("struct", [(name, spec), ...])
"""

from __future__ import annotations

_INT_TIERS = (
    ("TINYINT", -(2**7), 2**7 - 1),
    ("SMALLINT", -(2**15), 2**15 - 1),
    ("INT", -(2**31), 2**31 - 1),
    ("BIGINT", -(2**63), 2**63 - 1),
)


def _int_digits(n: int) -> int:
    n = abs(n)
    return 0 if n == 0 else len(str(n))


def type_name(spec) -> str:
    """Hive type of a scalar spec."""
    kind = spec[0]
    if kind == "null":
        return "???"
    if kind == "bool":
        return "BOOLEAN"
    if kind == "str":
        n = spec[1]
        return f"VARCHAR({n})" if 0 < n <= 65535 else "STRING"
    if kind == "int":
        lo, hi = spec[1], spec[2]
        for name, tlo, thi in _INT_TIERS:
            if tlo <= lo and hi <= thi:
                return name
        return f"NUMERIC({max(1, _int_digits(lo), _int_digits(hi))}, 0)"
    if kind == "dec":
        lo_u, hi_u, scale = spec[1], spec[2], spec[3]
        digits = max(_int_digits(abs(lo_u) // 10**scale), _int_digits(abs(hi_u) // 10**scale))
        p = max(1, digits + scale)
        if p <= 7:
            return "FLOAT"
        if p <= 15:
            return "DOUBLE"
        return f"NUMERIC({p}, {scale})"
    raise ValueError(f"not a scalar spec: {spec!r}")


def render(spec, indent: int = 0, key: str | None = None) -> str:
    pad = "\t" * indent
    prefix = pad + (key + " " if key else "")
    kind = spec[0]
    if kind == "arr":
        return "\n".join([prefix + "ARRAY<", render(spec[1], indent + 1), pad + ">"])
    if kind == "struct":
        fields = spec[1]
        lines = [prefix + "STRUCT<"]
        for i, (name, sub) in enumerate(fields):
            comma = "," if i < len(fields) - 1 else ""
            lines.append(render(sub, indent + 1, key=name + ":") + comma)
        lines.append(pad + ">")
        return "\n".join(lines)
    return prefix + type_name(spec)


def table_ddl(columns, name: str, path: str) -> str:
    """The three-statement script the CLI prints for a top-level struct."""
    return "\n".join(
        [
            "ADD JAR hive-json-serde-0.2.jar;",
            "",
            f"CREATE TABLE {name} (",
            ",\n".join(render(spec, 1, key=col) for col, spec in columns),
            ") ROW FORMAT SERDE 'org.apache.hadoop.hive.contrib.serde2.JsonSerde';",
            "",
            f"LOAD DATA LOCAL INPATH '{path}' INTO TABLE {name};",
        ]
    )
