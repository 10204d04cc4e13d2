"""Property-based tests for the merge lattice (SURVEY §5): associativity,
commutativity-of-type, idempotence — the laws that make the distributed
partial/final aggregation correct regardless of partitioning."""

import json
from decimal import Decimal

from hypothesis import given, settings
from hypothesis import strategies as st

from hive_serde_schema_gen_spark.schema_infer import (
    Arr,
    Descriptor,
    Num,
    Str,
    Struct,
    describe,
    merge,
    render_type,
)

# Field name decides the value kind, so randomly-built objects always merge
# cleanly (kind conflicts are covered by the explicit error tests).
KIND_POOL = {
    "i": st.integers(min_value=-(10**20), max_value=10**20),
    "f": st.decimals(
        min_value=Decimal("-1e12"),
        max_value=Decimal("1e12"),
        allow_nan=False,
        allow_infinity=False,
        places=6,
    ),
    "s": st.text(max_size=30),
    "b": st.booleans(),
    "n": st.none(),
}


def value_strategy(depth: int = 2):
    scalar_keys = list(KIND_POOL)
    if depth == 0:
        kinds = [KIND_POOL[k] for k in scalar_keys]
        return st.one_of(*kinds)
    sub = value_strategy(depth - 1)
    # list elements must be kind-consistent: draw one scalar kind per list
    homogeneous_list = st.sampled_from(scalar_keys).flatmap(
        lambda k: st.lists(KIND_POOL[k] | st.none(), max_size=4)
    )
    obj = st.dictionaries(
        st.sampled_from(scalar_keys), sub, max_size=4
    ).map(lambda d: {f"{k}_{i}": v for i, (k, v) in enumerate(d.items())})
    return st.one_of(*[KIND_POOL[k] for k in scalar_keys], homogeneous_list, obj)


def row_strategy():
    """Rows are objects whose field name prefix pins the field's kind."""
    return st.dictionaries(
        st.sampled_from(list(KIND_POOL)),
        st.nothing() | st.none(),
        max_size=0,
    ).flatmap(
        lambda _: st.fixed_dictionaries(
            {},
            optional={
                f"{k}1": KIND_POOL[k] for k in KIND_POOL
            },
        )
    )


def canonical(d: Descriptor) -> str:
    """Type identity modulo struct field order."""
    if isinstance(d, Struct):
        return (
            "struct{"
            + ",".join(f"{k}:{canonical(v)}" for k, v in sorted(d.fields.items()))
            + "}"
        )
    if isinstance(d, Arr):
        return f"array<{canonical(d.element)}>"
    if isinstance(d, (Num, Str)):
        return render_type(d)
    return d.kind


@settings(max_examples=200, deadline=None)
@given(row_strategy(), row_strategy(), row_strategy())
def test_merge_associative(a, b, c):
    da, db, dc = describe(a), describe(b), describe(c)
    left = merge(merge(da, db), dc)
    right = merge(da, merge(db, dc))
    assert canonical(left) == canonical(right)


@settings(max_examples=200, deadline=None)
@given(row_strategy(), row_strategy())
def test_merge_commutative_type(a, b):
    da, db = describe(a), describe(b)
    assert canonical(merge(da, db)) == canonical(merge(db, da))


@settings(max_examples=200, deadline=None)
@given(value_strategy())
def test_describe_idempotent_under_self_merge(v):
    d = describe(v)
    assert canonical(merge(d, d)) == canonical(d)


@settings(max_examples=100, deadline=None)
@given(st.lists(row_strategy(), min_size=1, max_size=8))
def test_fold_order_independent_type(rows):
    """Any partitioning of the fold yields the same type — the law the
    distributed partial/final aggregation rests on."""
    descs = [describe(r) for r in rows]
    seq = descs[0]
    for d in descs[1:]:
        seq = merge(seq, d)
    rev = descs[-1]
    for d in reversed(descs[:-1]):
        rev = merge(rev, d)
    assert canonical(seq) == canonical(rev)


@settings(max_examples=300, deadline=None)
@given(st.lists(row_strategy(), max_size=12))
def test_fast_batch_fold_matches_row_fold(rows):
    """The accumulator fast path must produce the exact descriptor (bounds,
    scales, lengths, field order included — not just the rendered type) of
    the row-at-a-time fold, or fall back by raising _FastPathMiss."""
    from hive_serde_schema_gen_spark.schema_infer.infer import (
        _FastPathMiss,
        _fold_values_fast,
    )
    from hive_serde_schema_gen_spark.schema_infer.lattice import (
        EMPTY_STRUCT,
        observe,
    )

    slow = EMPTY_STRUCT
    for r in rows:
        slow = observe(slow, r)
    try:
        fast = _fold_values_fast(EMPTY_STRUCT, rows)
    except _FastPathMiss:
        return  # fallback is exercised by the flat-only variant below
    assert fast == slow
    assert list(fast.fields) == list(slow.fields)  # first-seen order


FLAT_ROW = st.fixed_dictionaries(
    {}, optional={f"{k}1": KIND_POOL[k] for k in KIND_POOL}
)


@settings(max_examples=300, deadline=None)
@given(st.lists(FLAT_ROW, min_size=1, max_size=12))
def test_fast_batch_fold_covers_flat_rows(rows):
    """Flat scalar rows must never miss the fast path (that's the shape it
    exists for) and must reproduce the slow fold exactly."""
    from hive_serde_schema_gen_spark.schema_infer.infer import _fold_values_fast
    from hive_serde_schema_gen_spark.schema_infer.lattice import (
        EMPTY_STRUCT,
        observe,
    )

    slow = EMPTY_STRUCT
    for r in rows:
        slow = observe(slow, r)
    fast = _fold_values_fast(EMPTY_STRUCT, rows)
    assert fast == slow
    assert list(fast.fields) == list(slow.fields)


# ---------------------------------------------------------------------------
# The one schema fold (infer._fold) against a plain row-at-a-time loop
# ---------------------------------------------------------------------------

_SCALAR = (
    st.none()
    | st.booleans()
    | st.integers(min_value=-300, max_value=70000)
    | st.sampled_from([1.5, -0.25, 12.125])
    | st.text(alphabet="xyz", max_size=3)
    | st.sampled_from(["2024-01-31", "2024-01-31T08:30:00Z"])
)
# mixed-kind lists (InconsistentArray) and same-name fields of different
# kinds (RowMismatch) arise naturally from these draws
_JSON = st.recursive(
    _SCALAR,
    lambda inner: st.lists(inner, max_size=2)
    | st.dictionaries(st.sampled_from("xy"), inner, max_size=2),
    max_leaves=4,
)
_RAW = st.one_of(
    st.dictionaries(st.sampled_from("abc"), _SCALAR, max_size=3).map(json.dumps),
    st.dictionaries(st.sampled_from("abc"), _JSON, max_size=3).map(json.dumps),
    st.sampled_from(["{broken", "5", "null", "[1]", '"s"', '{"a": NaN}']),
    # kind conflicts one level down
    st.sampled_from(['{"a": [1]}', '{"a": ["s"]}', '{"a": {"x": 1}}', '{"a": {"x": "s"}}']),
)
# a few distinct lines, drawn many times: repeats of clean, bad and
# conflicting lines, inside and across batches
_LINES = st.lists(_RAW, min_size=1, max_size=6).flatmap(
    lambda pool: st.lists(st.sampled_from(pool), max_size=40)
)


def _reference_fold(lines, permissive, detect_dates=False):
    """Row at a time, no batches, no dedup: ``(schema, lines, errors)``
    with every error, or FAILFAST's ``(error class, line)``."""
    from hive_serde_schema_gen_spark.schema_infer import (
        EMPTY_STRUCT,
        SchemaGenError,
        observe,
        parse_line,
    )
    from hive_serde_schema_gen_spark.schema_infer.lattice import merge_lenient

    schema, errors = EMPTY_STRUCT, []
    for n, raw in enumerate(lines, 1):
        try:
            value = parse_line(raw)
        except ValueError as e:
            if not permissive:
                return "BadJson", n
            errors.append((n, "BadJson: " + str(e)))
            continue
        try:
            schema = observe(schema, value, line=n, detect_dates=detect_dates)
        except SchemaGenError as e:
            if not permissive:
                return type(e).__name__, n
            errors.append((n, type(e).__name__))
            try:
                schema = merge_lenient(schema, describe(value, detect_dates=detect_dates))
            except SchemaGenError:
                pass
    return schema, len(lines), errors


@settings(max_examples=300, deadline=None)
@given(
    _LINES,
    st.lists(st.integers(min_value=0, max_value=40), max_size=3),
    st.sampled_from([1, 2, 3, 8192]),
    st.sampled_from([2, 1 << 16]),
    st.sampled_from([3, 20]),
    st.booleans(),
    st.booleans(),
)
def test_split_fold_matches_row_at_a_time(
    lines, cuts, batch, seen_cap, cap, permissive, detect_dates
):
    """Splits folded seeded with the schema before them, then merged in
    order, reproduce the row-at-a-time loop exactly: schema with field
    order, line count, errors (at their own lines, at most ``cap`` per
    split) and FAILFAST's (class, line) — whatever the batch size, seen-set
    capacity or date detection."""
    from unittest import mock

    from hive_serde_schema_gen_spark.schema_infer import EMPTY_STRUCT, SchemaGenError, infer

    bounds = [0] + sorted(min(c, len(lines)) for c in cuts) + [len(lines)]
    want = _reference_fold(lines, permissive, detect_dates)
    schema, n_total = EMPTY_STRUCT, 0
    with mock.patch.multiple(
        infer, _BATCH_LINES=batch, _SEEN_CAP=seen_cap, _MAX_ERROR_SAMPLES=cap
    ):
        for lo, hi in zip(bounds, bounds[1:]):
            try:
                part, n, errs = infer._fold(
                    schema, lines[lo:hi], permissive, detect_dates
                )
            except SchemaGenError as e:
                assert (type(e).__name__, lo + e.line) == want
                return
            assert n == hi - lo
            prefix = _reference_fold(lines[:hi], permissive, detect_dates)
            assert repr(part) == repr(prefix[0])
            assert [(lo + i, m) for i, m in errs] == [
                e for e in prefix[2] if lo < e[0] <= hi
            ][:cap]
            schema, _ = infer.merge_partial(schema, part, permissive)
            n_total += n
    assert not isinstance(want[0], str), f"FAILFAST missed {want}"
    assert repr(schema) == repr(want[0])
    assert n_total == want[1]


@settings(max_examples=200, deadline=None)
@given(_LINES, st.lists(st.integers(min_value=0, max_value=40), max_size=3))
def test_permissive_type_is_layout_independent(lines, cuts):
    """Unseeded splits (what partitions are) merged leniently in ANY order
    give the row-at-a-time PERMISSIVE type: merge_lenient is a join."""
    from hive_serde_schema_gen_spark.schema_infer import EMPTY_STRUCT, infer

    bounds = [0] + sorted(min(c, len(lines)) for c in cuts) + [len(lines)]
    parts = [
        infer._fold(EMPTY_STRUCT, lines[lo:hi], True)[0]
        for lo, hi in zip(bounds, bounds[1:])
    ]
    want = canonical(_reference_fold(lines, True)[0])
    for order in (parts, parts[::-1]):
        schema = EMPTY_STRUCT
        for p in order:
            schema, _ = infer.merge_partial(schema, p, True)
        assert canonical(schema) == want


def _describable(raw):
    from hive_serde_schema_gen_spark.schema_infer import SchemaGenError, parse_line

    try:
        return describe(parse_line(raw))
    except (ValueError, SchemaGenError):
        return describe({})


@settings(max_examples=300, deadline=None)
@given(_RAW, _RAW, _RAW)
def test_merge_lenient_is_a_join(a, b, c):
    """Commutative and associative in the type, also across kind
    conflicts at any depth — the fixed precedence, not arrival order."""
    from hive_serde_schema_gen_spark.schema_infer.lattice import merge_lenient

    da, db, dc = _describable(a), _describable(b), _describable(c)
    assert canonical(merge_lenient(da, db)) == canonical(merge_lenient(db, da))
    left = merge_lenient(merge_lenient(da, db), dc)
    right = merge_lenient(da, merge_lenient(db, dc))
    assert canonical(left) == canonical(right)


def test_permissive_column_layout_sweep(spark):
    """infer_json_column(permissive=True) gives the same type per column
    over repartition(1..8) (field order follows partition order and is
    not compared)."""
    from hive_serde_schema_gen_spark.schema_infer import infer_json_column

    rows = [
        '{"a": 1, "n": {"x": [1, 2]}}',
        "{broken",
        '{"a": "xyz", "n": {"x": ["s"]}}',
        '{"b": true, "n": {"x": 3}}',
        '{"b": 7, "n": {"y": "q"}}',
        '{"a": [1], "c": null}',
        "5",
        '{"c": "2024-01-01", "n": null}',
        '{"c": 2.5}',
    ] * 3
    df = spark.createDataFrame([(r,) for r in rows], ["props"])
    types = {
        n: canonical(infer_json_column(df.repartition(n), "props", permissive=True))
        for n in range(1, 9)
    }
    assert len(set(types.values())) == 1, types
