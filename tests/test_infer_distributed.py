"""End-to-end distributed inference: the golden users.json example
(``/root/reference/example/users.json`` → ``README.md:25-48``), byte-exact
modulo the two documented deviations (deterministic first-seen column order;
commas inside STRUCT per the README golden rather than the comma-less
``Schemer.scala:92-95``)."""

import os

import pytest

from hive_serde_schema_gen_spark.schema_infer import (
    RowMismatch,
    infer_json_column,
    infer_path,
    render_definition,
    to_spark_schema,
)

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")
USERS = os.path.join(FIXTURES, "users.json")


def test_golden_users_ddl(spark):
    result = infer_path(spark, USERS)
    assert result.lines == 3
    expected = open(os.path.join(FIXTURES, "users_expected.sql")).read().rstrip("\n")
    got = result.table("data", "tests/fixtures/users.json")
    assert got == expected


def test_golden_users_many_partitions(spark):
    """Partial/final merge must give the same schema regardless of split."""
    r1 = infer_path(spark, USERS)
    r3 = infer_path(spark, USERS, min_partitions=3)
    assert r1.schema == r3.schema


def test_error_line_numbers_distributed(spark, tmp_path):
    p = tmp_path / "bad.json"
    rows = ['{"v": %d}' % i for i in range(100)]
    rows[57] = '{"v": "oops"}'
    p.write_text("\n".join(rows) + "\n")
    with pytest.raises(RowMismatch) as ei:
        infer_path(spark, str(p), min_partitions=8)
    assert ei.value.line == 58  # 1-based


def test_failfast_line_in_file_name_order_over_a_glob(spark, tmp_path):
    """Global FAILFAST lines count files in NAME order, one partition per
    file: files a..e grow with their names (so a size-ordered split
    would put e first), and the conflict planted in the last-named file is
    reported at its line after all of a..d."""
    sizes = {"a": 10, "b": 20, "c": 40, "d": 80, "e": 160}
    for name, n in sizes.items():
        rows = ['{"v": %d, "pad": "%s"}' % (i, name * 50) for i in range(n)]
        if name == "e":
            rows[6] = '{"v": "oops"}'  # local line 7
        (tmp_path / f"{name}.json").write_text("\n".join(rows) + "\n")
    with pytest.raises(RowMismatch) as ei:
        infer_path(spark, str(tmp_path / "*.json"))
    assert ei.value.line == 10 + 20 + 40 + 80 + 7


def test_sampling_ratio_must_be_a_fraction(spark, tmp_path):
    p = tmp_path / "rows.json"
    p.write_text('{"v": 1}\n')
    for bad in (0, 0.0, -0.5, 1.5):
        with pytest.raises(ValueError, match="sampling_ratio"):
            infer_path(spark, str(p), sampling_ratio=bad)
    assert infer_path(spark, str(p), sampling_ratio=1.0).lines == 1


def test_permissive_skips_bad_rows(spark, tmp_path):
    p = tmp_path / "mixed.json"
    p.write_text('{"v": 1}\n{not json\n{"v": "x"}\n{"v": 300}\n')
    result = infer_path(spark, str(p), mode="PERMISSIVE")
    assert result.lines == 4
    assert render_definition(result.schema) == "v SMALLINT"
    assert sorted(e.line for e in result.errors) == [2, 3]


def test_to_spark_schema_roundtrip(spark):
    """Inferred schema loads the same file via Spark's typed JSON reader."""
    result = infer_path(spark, USERS)
    schema = to_spark_schema(
        result.schema, unknown_as_string=True, varchar_as_string=True
    )
    df = spark.read.schema(schema).json(USERS)
    rows = {r["id"]: r for r in df.collect()}
    assert rows[1]["city"]["name"] == "Grosuplje"
    assert rows[3]["children"][1]["toy"] == "Ropotulica"
    assert rows[2]["employed"] is True
    assert df.schema["id"].dataType.typeName() == "byte"
    # the metadata-preserving form keeps VARCHAR tightness
    meta = to_spark_schema(result.schema)
    assert meta["name"].dataType.simpleString() == "varchar(6)"


def test_infer_json_column(spark):
    df = spark.createDataFrame(
        [('{"k": 1}',), ('{"k": 2.5, "s": "abc"}',), (None,)], ["props"]
    )
    desc = infer_json_column(df, "props")
    assert render_definition(desc) == "k FLOAT,\ns VARCHAR(3)"


def test_infer_json_column_permissive_cross_partition_conflict(spark):
    """Kind conflicts split across partitions must degrade gracefully in
    permissive mode (first-seen kind wins) instead of raising at the driver
    merge — regression for the cross-partition RowMismatch found in
    verification."""
    df = spark.createDataFrame(
        [('{"a":1}',), ("{broken",), ('{"a":"xyz"}',)], ["props"]
    ).repartition(3)
    desc = infer_json_column(df, "props", permissive=True)
    assert render_definition(desc) == "a TINYINT"


def test_sampling_ratio(spark, tmp_path):
    p = tmp_path / "big.json"
    p.write_text("\n".join('{"v": %d}' % i for i in range(5000)) + "\n")
    result = infer_path(spark, str(p), sampling_ratio=0.2)
    assert 500 < result.lines < 2000
    assert render_definition(result.schema) == "v SMALLINT"


def test_infer_json_column_dedup_is_exact(spark):
    """The per-task seen-set (fold each distinct raw once) must be invisible
    in the result: duplicates interleaved with conflicting shapes, bad rows
    among the repeats, and repeats crossing batch/partition boundaries all
    infer exactly what the duplicate-free column infers."""
    rows = (
        [('{"k": 1}',)] * 500
        + [('{"k": 2.5, "s": "abc"}',)] * 300
        + [('{"k": 1}',)] * 200  # repeat AFTER a widening merge
        + [('{"n": [1, 2]}',)] * 50  # fast-path miss → replay, repeated
    )
    df = spark.createDataFrame(rows, ["props"]).repartition(4)
    dedup_free = spark.createDataFrame(
        [('{"k": 1}',), ('{"k": 2.5, "s": "abc"}',), ('{"n": [1, 2]}',)],
        ["props"],
    )
    got = render_definition(infer_json_column(df, "props"))
    want = render_definition(infer_json_column(dedup_free, "props"))
    assert got == want

    # permissive + repeated broken rows: bad rows skipped, repeats no-op
    dfp = spark.createDataFrame(
        [('{"a":1}',)] * 100 + [("{broken",)] * 100 + [('{"a":"xyz"}',)] * 100,
        ["props"],
    ).repartition(3)
    desc = infer_json_column(dfp, "props", permissive=True)
    assert render_definition(desc) == "a TINYINT"
