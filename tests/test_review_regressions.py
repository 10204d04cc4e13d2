"""Regression tests for the round-1 self-review findings (each was a
verified bug before its fix)."""

from decimal import Decimal

import pytest

from hive_serde_schema_gen_spark.schema_infer import (
    BadJson,
    Num,
    diff,
    infer_ndjson_strings,
    infer_path,
    render_definition,
)
from hive_serde_schema_gen_spark.schema_infer.lattice import describe, merge_lenient


def test_nan_infinity_rejected_as_bad_json():
    """json.loads admits NaN/Infinity by default; the lattice can't type
    them (Decimal('Infinity') breaks rendering) and play-json rejects them."""
    for lit in ("NaN", "Infinity", "-Infinity"):
        with pytest.raises(BadJson) as ei:
            infer_ndjson_strings(iter(['{"ok": 1}', '{"v": %s}' % lit]))
        assert ei.value.line == 2


def test_permissive_cross_partition_conflict_file_path(spark, tmp_path):
    """PERMISSIVE must not crash when the kind conflict only surfaces at
    the driver's cross-partition merge (partition boundaries are not
    semantics)."""
    p = tmp_path / "split_conflict.json"
    p.write_text('{"v": 1}\n{"v": "x"}\n')
    result = infer_path(spark, str(p), mode="PERMISSIVE", min_partitions=2)
    assert render_definition(result.schema) == "v TINYINT"
    assert result.lines == 2
    assert any("RowMismatch" in e.message for e in result.errors)


def test_num_hash_eq_contract():
    a = Num(10, 10, 1)
    b = Num(Decimal("10.0"), Decimal("10.0"), 1)
    assert a == b
    assert hash(a) == hash(b)


def test_merge_lenient_keeps_earlier_kind():
    a = describe({"v": 1, "w": "x"})
    b = describe({"v": "oops", "w": "xyz"})
    m = merge_lenient(a, b)
    assert render_definition(m) == "v TINYINT,\nw VARCHAR(3)"


def test_merge_lenient_precedence_not_arrival_order():
    """The PERMISSIVE winner of a kind conflict is fixed by kind, whichever
    side comes first, at any depth; a non-object row never replaces the
    row struct."""
    a = describe({"v": "oops", "n": {"x": ["s"]}})
    b = describe({"v": 1, "n": {"x": [2]}})
    want = "v TINYINT,\nn STRUCT<\n\tx: ARRAY<\n\t\tTINYINT\n\t>\n>"
    assert render_definition(merge_lenient(a, b)) == want
    assert render_definition(merge_lenient(b, a)) == want
    for row in (5, "s", [1], True):
        assert merge_lenient(b, describe(row)) == b
        assert merge_lenient(describe(row), b) == b


def test_evolve_narrowing_is_not_widening():
    old = infer_ndjson_strings(iter(['{"s": "abcdefghij"}'])).schema  # VARCHAR(10)
    new = infer_ndjson_strings(iter(['{"s": "abc"}'])).schema  # VARCHAR(3)
    (change,) = [c for c in diff(old, new) if c.column == "s"]
    assert change.kind == "narrowed"
    from hive_serde_schema_gen_spark.schema_infer import alter_statements

    assert alter_statements("t", old, new) == []


def test_streaming_accumulator_survives_cross_batch_conflict(spark):
    from hive_serde_schema_gen_spark.schema_infer import infer_json_column
    from hive_serde_schema_gen_spark.streaming.infer_stream import (
        StreamingSchemaAccumulator,
    )

    acc = StreamingSchemaAccumulator(permissive=True)
    b1 = spark.createDataFrame([('{"a": 1}',)], ["props"])
    b2 = spark.createDataFrame([('{"a": "x"}',)], ["props"])
    acc.absorb(infer_json_column(b1, "props", permissive=True), 1)
    acc.absorb(infer_json_column(b2, "props", permissive=True), 1)
    assert acc.definition() == "a TINYINT"
    assert acc.rows == 2


def test_permissive_field_set_is_partition_independent(spark, tmp_path):
    """Advisor repro: a row with one conflicting field must contribute its
    NON-conflicting fields in PERMISSIVE mode regardless of partitioning.
    Within a partition the fold now degrades field-wise (merge_lenient of
    the row's descriptor), matching what the cross-partition driver merge
    does — so 1 partition and 2 partitions infer the same schema."""
    p = tmp_path / "perm_fieldwise.json"
    p.write_text('{"v": 1}\n{"v": "x", "b": 5}\n')
    one = infer_path(spark, str(p), mode="PERMISSIVE", min_partitions=1)
    two = infer_path(spark, str(p), mode="PERMISSIVE", min_partitions=2)
    assert render_definition(one.schema) == "v TINYINT,\nb TINYINT"
    assert render_definition(two.schema) == render_definition(one.schema)


def test_failfast_reports_first_error_in_file_order(spark, tmp_path):
    """Advisor repro: a cross-partition kind conflict EARLIER in file order
    must win over a later partition's local error.  p0={"a":1} (clean),
    p1={"a":"x"} (locally clean, conflicts with p0), p2=malformed JSON —
    the reported error must be the line-2 RowMismatch, not p2's BadJson."""
    from hive_serde_schema_gen_spark.schema_infer.errors import RowMismatch

    p = tmp_path / "ordered_errors.json"
    p.write_text('{"a": 1}\n{"a": "x"}\n{broken\n')
    with pytest.raises(RowMismatch) as ei:
        infer_path(spark, str(p), min_partitions=3)
    assert ei.value.line == 2


def test_failfast_seeded_rescan_inside_erroring_partition(spark, tmp_path):
    """Advisor repro, second shape: within the locally-erroring partition, a
    cross-partition conflict at an EARLIER line must beat the local error.
    p0={"a":1}; p1 = [{"a":"x"} (conflicts with p0 only), {malformed}]."""
    from hive_serde_schema_gen_spark.schema_infer.errors import RowMismatch

    p = tmp_path / "seeded_rescan.json"
    # 2 partitions over 3 lines -> p0 gets line 1, p1 gets lines 2-3
    p.write_text('{"a": 1}\n{"a": "x"}\n{broken\n')
    with pytest.raises(RowMismatch) as ei:
        infer_path(spark, str(p), min_partitions=2)
    assert ei.value.line == 2


def test_detect_dates_opt_in():
    """--detect-dates types ISO-8601 strings as DATE/TIMESTAMP; OFF keeps
    the reference's strings-stay-strings output byte-identical."""
    rows = [
        '{"d": "2024-01-31", "t": "2024-01-31T08:30:00Z", "s": "not 2024"}',
        '{"d": "2023-12-25", "t": "2024-02-01 09:00:00.250", "s": "x"}',
    ]
    off = infer_ndjson_strings(iter(rows))
    assert render_definition(off.schema) == (
        "d VARCHAR(10),\nt VARCHAR(23),\ns VARCHAR(8)"
    )
    on = infer_ndjson_strings(iter(rows), detect_dates=True)
    assert render_definition(on.schema) == "d DATE,\nt TIMESTAMP,\ns VARCHAR(8)"


def test_detect_dates_degrades_to_varchar_on_mixed():
    """A field holding dates AND ordinary strings unifies to VARCHAR with
    the full max_len (nothing lost on degradation); date-only + timestamp
    unifies to TIMESTAMP."""
    rows = [
        '{"v": "2024-01-31", "w": "2024-01-31"}',
        '{"v": "definitely not a date", "w": "2024-01-31T08:30:00Z"}',
    ]
    on = infer_ndjson_strings(iter(rows), detect_dates=True)
    assert render_definition(on.schema) == "v VARCHAR(21),\nw TIMESTAMP"
