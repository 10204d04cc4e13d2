"""The type lattice at the heart of the engine.

The reference (``/root/reference/Schemer.scala:10,43-63``) folds every NDJSON
row into a single *exemplar* ``JsValue`` whose shape encodes the inferred type
(longest string ⇒ VARCHAR width, max-value-at-max-scale ⇒ numeric tier, …).
We re-express that trick as an explicit, picklable **type-descriptor lattice**
so the fold can run as a distributed partial/final aggregation on Spark
executors (the reference's sequential fold, ``Schemer.scala:11-14``, becomes
per-partition folds + a driver/tree merge).

Descriptor kinds (mirroring ``Schemer.scala:67-97``'s decision tree):

- ``UNKNOWN``  — bottom of the lattice; all-null column (``Schemer.scala:45-46,70``)
- ``BOOLEAN``  — ``Schemer.scala:47,71``
- ``STR``      — tracks ``max_len`` (⇒ VARCHAR(n)/STRING, ``Schemer.scala:49-50,73-75``)
- ``NUM``      — tracks ``lo``/``hi``/``max_scale``.  DELIBERATE DEVIATION from
  the reference, which keeps only the max value (``Schemer.scala:52``) and
  therefore mis-types mixed-sign columns ({-1000, 5} ⇒ TINYINT); we track both
  bounds (SURVEY §1.4 "negatives forgotten" bug, fixed per §7).
- ``ARR``      — single unified element descriptor (``Schemer.scala:32-41,53``)
- ``STRUCT``   — key-union of fields (``Schemer.scala:55-59``).  DELIBERATE
  DEVIATION: field order is deterministic first-seen (the reference's Scala
  ``groupBy`` scrambles it nondeterministically, SURVEY §1.4).

``merge`` is an associative, commutative (up to struct field order, which is
left-biased so partials must be combined in partition order for exact
first-seen ordering) semilattice join — the ``zero``/``seqOp``/``combOp`` of
the distributed aggregation.

Cross-kind merges raise :class:`~.errors.RowMismatch`; mixed-kind array
elements raise :class:`~.errors.InconsistentArray`
(``Schemer.scala:16-30,37-38,61``).  PERMISSIVE paths use
``merge_lenient`` instead, which settles a kind conflict by a fixed kind
precedence and is a join too.
"""

from __future__ import annotations

from decimal import Decimal
from typing import Any, Optional, Union

from .errors import InconsistentArray, RowMismatch, SchemaGenError

# ---------------------------------------------------------------------------
# Descriptors.  Plain immutable classes with __slots__, allocated once per
# *distinct shape*: ``merge`` always builds new descriptors and never
# mutates its arguments, so descriptors are shared freely.  All picklable.
# ---------------------------------------------------------------------------


class Descriptor:
    __slots__ = ()
    kind = "?"


class Unknown(Descriptor):
    """Bottom type: only nulls observed (renders ``???``, Schemer.scala:70)."""

    __slots__ = ()
    kind = "unknown"

    def __repr__(self) -> str:
        return "Unknown()"

    def __eq__(self, other: object) -> bool:
        return isinstance(other, Unknown)

    def __hash__(self) -> int:
        return hash("unknown")


UNKNOWN = Unknown()


class Bool(Descriptor):
    __slots__ = ()
    kind = "boolean"

    def __repr__(self) -> str:
        return "Bool()"

    def __eq__(self, other: object) -> bool:
        return isinstance(other, Bool)

    def __hash__(self) -> int:
        return hash("boolean")


BOOL = Bool()


class Str(Descriptor):
    """Tracks the longest observed length in code points.

    The reference keeps the longest exemplar string (Schemer.scala:49-50) and
    renders ``VARCHAR(len)`` (Schemer.scala:73-74).  Scala ``String.size``
    counts UTF-16 code units; we count code points (documented deviation —
    differs only beyond the BMP).
    """

    __slots__ = ("max_len",)
    kind = "string"

    def __init__(self, max_len: int = 0):
        self.max_len = max_len

    def __repr__(self) -> str:
        return f"Str(max_len={self.max_len})"

    def __eq__(self, other: object) -> bool:
        return isinstance(other, Str) and other.max_len == self.max_len

    def __hash__(self) -> int:
        return hash(("string", self.max_len))


class Ts(Descriptor):
    """Opt-in ISO-8601 date/timestamp detection (``detect_dates=True`` —
    OFF by default: the reference has no date type, ``Schemer.scala:43-63``,
    so reference-mode output stays byte-identical).

    Tracks ``max_len`` like :class:`Str` so a later non-date string
    degrades the field losslessly to VARCHAR, and ``has_time`` to pick
    DATE vs TIMESTAMP at render time.
    """

    __slots__ = ("max_len", "has_time")
    kind = "timestamp"

    def __init__(self, max_len: int, has_time: bool):
        self.max_len = max_len
        self.has_time = has_time

    def __repr__(self) -> str:
        return f"Ts(max_len={self.max_len}, has_time={self.has_time})"

    def __eq__(self, other: object) -> bool:
        return (
            isinstance(other, Ts)
            and other.max_len == self.max_len
            and other.has_time == self.has_time
        )

    def __hash__(self) -> int:
        return hash(("timestamp", self.max_len, self.has_time))


class Num(Descriptor):
    """Tracks lo/hi bounds and the maximum observed scale.

    ``lo``/``hi`` are ``int`` (scale-0 values) or :class:`decimal.Decimal`.
    The reference keeps only ``max(value) setScale max(scale)``
    (Schemer.scala:52); precision for rendering is derived at output time
    (Schemer.scala:77-85).  We reproduce the derivation from the bounds:
    ``precision = int_digits(max(|lo|, |hi|)) + max_scale`` — identical to
    Java ``BigDecimal.precision`` of the reference's exemplar for all-positive
    columns (golden check: {12345678901234.5, 0.12} ⇒ NUMERIC(16, 2),
    README.md:42; {12544, 1234.5434} ⇒ precision 9 ⇒ DOUBLE, README.md:36).
    """

    __slots__ = ("lo", "hi", "max_scale")
    kind = "number"

    def __init__(self, lo: Union[int, Decimal], hi: Union[int, Decimal], max_scale: int):
        self.lo = lo
        self.hi = hi
        self.max_scale = max_scale

    def __repr__(self) -> str:
        return f"Num(lo={self.lo}, hi={self.hi}, max_scale={self.max_scale})"

    def __eq__(self, other: object) -> bool:
        return (
            isinstance(other, Num)
            and other.lo == self.lo
            and other.hi == self.hi
            and other.max_scale == self.max_scale
        )

    def __hash__(self) -> int:
        # hash() of int/Decimal is value-consistent across numeric types
        # (str() is not: '10' vs '10.0' — would break the eq/hash contract)
        return hash(("number", hash(self.lo), hash(self.hi), self.max_scale))


class Arr(Descriptor):
    """Array with one unified element descriptor (Schemer.scala:32-41).

    An empty array observes element ``UNKNOWN`` ⇒ renders ``ARRAY<???>``
    (Schemer.scala:36; README.md:39-41).
    """

    __slots__ = ("element",)
    kind = "array"

    def __init__(self, element: Descriptor):
        self.element = element

    def __repr__(self) -> str:
        return f"Arr({self.element!r})"

    def __eq__(self, other: object) -> bool:
        return isinstance(other, Arr) and other.element == self.element

    def __hash__(self) -> int:
        return hash(("array", self.element))


class Struct(Descriptor):
    """Struct: insertion-ordered dict of field name → descriptor.

    Key-union across rows (Schemer.scala:55-59); order is first-seen
    (deviation from the reference's hash-scrambled order, SURVEY §1.4).
    """

    __slots__ = ("fields",)
    kind = "struct"

    def __init__(self, fields: Optional[dict] = None):
        self.fields = fields if fields is not None else {}

    def __repr__(self) -> str:
        return f"Struct({self.fields!r})"

    def __eq__(self, other: object) -> bool:
        return isinstance(other, Struct) and other.fields == self.fields

    def __hash__(self) -> int:
        return hash(("struct", tuple(self.fields.items())))


EMPTY_STRUCT = Struct()

# ---------------------------------------------------------------------------
# Value → descriptor (the "observe" direction of the fold)
# ---------------------------------------------------------------------------


def _scale(x: Union[int, float, Decimal]) -> int:
    """Scale à la Java BigDecimal, clamped at 0.

    JSON ints parse to ``int`` (scale 0); floats parse to ``Decimal``
    preserving the literal's textual scale (``json.loads(parse_float=Decimal)``),
    so ``10.0`` has scale 1 exactly as play-json's BigDecimal does
    (Schemer.scala:52 ``ax.scale``).  Exponent-form literals (``1e3``) get
    scale 0 (deviation: Java would report a negative scale; the rendered tier
    is unchanged for the integral case).
    """
    if isinstance(x, int):
        return 0
    if isinstance(x, Decimal):
        exp = x.as_tuple().exponent
        return max(0, -exp) if isinstance(exp, int) else 0
    return 0


# Date-only or full timestamp; time part optionally fractional + zoned.
_ISO8601 = __import__("re").compile(
    r"\d{4}-\d{2}-\d{2}([T ]\d{2}:\d{2}:\d{2}(\.\d+)?(Z|[+-]\d{2}:?\d{2})?)?$"
)


def describe(
    value: Any, line: Optional[int] = None, detect_dates: bool = False
) -> Descriptor:
    """Build a descriptor for one parsed JSON value (exemplar → descriptor).

    Mirrors the implicit typing in ``Schemer.scala:43-63`` with array
    normalization (``prepare``, Schemer.scala:32-41) applied eagerly: a
    multi-element array folds its elements into one unified element type;
    element-kind conflicts raise InconsistentArray (Schemer.scala:37-38).

    ``detect_dates=True`` (opt-in deviation) types ISO-8601 strings as
    :class:`Ts`; OFF by default for reference fidelity.
    """
    if value is None:
        return UNKNOWN
    if isinstance(value, bool):  # must precede int: bool is an int subclass
        return BOOL
    if isinstance(value, str):
        if detect_dates:
            m = _ISO8601.match(value)
            if m:
                return Ts(len(value), has_time=m.group(1) is not None)
        return Str(len(value))
    if isinstance(value, (int, Decimal, float)):
        if isinstance(value, float):  # defensive: parse_float=Decimal upstream
            value = Decimal(repr(value))
        return Num(value, value, _scale(value))
    if isinstance(value, list):
        elem: Descriptor = UNKNOWN
        try:
            for v in value:
                elem = merge(elem, describe(v, line, detect_dates))
        except RowMismatch:
            raise InconsistentArray(value, line=line) from None
        return Arr(elem)
    if isinstance(value, dict):
        return Struct({k: describe(v, line, detect_dates) for k, v in value.items()})
    raise TypeError(f"unsupported JSON value: {value!r}")


# ---------------------------------------------------------------------------
# merge — the semilattice join (Schemer.scala:43-63)
# ---------------------------------------------------------------------------


def merge(a: Descriptor, b: Descriptor, line: Optional[int] = None) -> Descriptor:
    """Least upper bound of two descriptors.

    Associative and commutative in the *type* it denotes; struct field order
    is left-biased (first-seen), so combine partition partials in partition
    order for deterministic global ordering.  Cross-kind ⇒ RowMismatch
    (null absorbs, Schemer.scala:45-46; everything else must match kinds,
    Schemer.scala:61).
    """
    if a is UNKNOWN or isinstance(a, Unknown):
        return b
    if b is UNKNOWN or isinstance(b, Unknown):
        return a
    if isinstance(a, Bool) and isinstance(b, Bool):
        return BOOL
    if isinstance(a, Ts) and isinstance(b, Ts):
        return Ts(max(a.max_len, b.max_len), a.has_time or b.has_time)
    if isinstance(a, Str) and isinstance(b, Str):
        return a if a.max_len >= b.max_len else b
    if isinstance(a, (Ts, Str)) and isinstance(b, (Ts, Str)):
        # a date-looking string and a general string unify to VARCHAR —
        # max_len is tracked on both sides so nothing is lost
        return Str(max(a.max_len, b.max_len))
    if isinstance(a, Num) and isinstance(b, Num):
        return Num(
            a.lo if a.lo <= b.lo else b.lo,
            a.hi if a.hi >= b.hi else b.hi,
            a.max_scale if a.max_scale >= b.max_scale else b.max_scale,
        )
    if isinstance(a, Arr) and isinstance(b, Arr):
        try:
            return Arr(merge(a.element, b.element, line))
        except RowMismatch:
            raise InconsistentArray([a.element, b.element], line=line) from None
    if isinstance(a, Struct) and isinstance(b, Struct):
        fields = dict(a.fields)
        for k, bv in b.fields.items():
            av = fields.get(k)
            fields[k] = bv if av is None else merge(av, bv, line)
        return Struct(fields)
    # MapOf never arises from observe() — the reference lattice above is
    # untouched — but rewritten schemas meet in evolve's diff, where two
    # map columns must widen by their VALUE types, not flag incompatible
    if a.kind == "map" and b.kind == "map":
        return type(a)(merge(a.value, b.value, line))
    raise RowMismatch(a, b, line=line)


# PERMISSIVE kind precedence (higher wins a kind conflict): structure over
# scalars, so a row struct survives a non-object row, and numbers over
# strings, so a numeric column keeps its type past a stray string.  Date
# strings rank with strings: ``merge`` already joins the two losslessly.
_LENIENT_RANK = {
    "string": 0,
    "timestamp": 0,
    "boolean": 1,
    "number": 2,
    "array": 3,
    "map": 4,
    "struct": 5,
}


def merge_lenient(a: Descriptor, b: Descriptor) -> Descriptor:
    """Best-effort merge for PERMISSIVE paths: a kind conflict keeps the
    side whose kind ranks higher in :data:`_LENIENT_RANK` instead of
    raising.  Structs merge field by field, arrays element by element and
    maps value by value, so a deep conflict is settled at its own level.

    Unlike "earlier kind wins", this is commutative and associative in the
    type it denotes (struct field order stays left-biased, as in ``merge``),
    so PERMISSIVE results do not depend on how rows are partitioned or in
    which order partials meet."""
    if isinstance(a, Struct) and isinstance(b, Struct):
        fields = dict(a.fields)
        for k, bv in b.fields.items():
            av = fields.get(k)
            fields[k] = bv if av is None else merge_lenient(av, bv)
        return Struct(fields)
    if isinstance(a, Arr) and isinstance(b, Arr):
        return Arr(merge_lenient(a.element, b.element))
    if a.kind == "map" and b.kind == "map":
        return type(a)(merge_lenient(a.value, b.value))
    try:
        return merge(a, b)
    except SchemaGenError:
        return a if _LENIENT_RANK[a.kind] >= _LENIENT_RANK[b.kind] else b


def observe(
    schema: Descriptor,
    value: Any,
    line: Optional[int] = None,
    detect_dates: bool = False,
) -> Descriptor:
    """Fold one parsed JSON row into the running schema.

    ``schema ← merge(schema, describe(row))`` — the loop body of
    ``Schemer.scala:11-14``.  The seed is :data:`EMPTY_STRUCT` (the
    reference seeds with ``Json.obj()``, Schemer.scala:10), so a non-object
    top-level row raises RowMismatch exactly as the reference does.
    """
    return merge(schema, describe(value, line, detect_dates), line)


# ---------------------------------------------------------------------------
# Rendering helpers shared by render.py / spark_schema.py
# ---------------------------------------------------------------------------


def int_digits(x: Union[int, Decimal]) -> int:
    """Digits in the integer part of ``|x|`` (0 for |x| < 1).

    Matches Java ``BigDecimal.precision`` − scale for the values the
    reference renders (Schemer.scala:82,85).
    """
    n = abs(int(x))
    return 0 if n == 0 else len(str(n))


def num_bounds_precision(num: Num) -> int:
    """Decimal precision needed for the worst bound at ``max_scale``."""
    d = max(int_digits(num.lo), int_digits(num.hi))
    return max(1, d + num.max_scale)


# ---------------------------------------------------------------------------
# MAP inference (round-9 opt-in extension; the reference has no MAP type —
# SURVEY §1.3 lists it as unsupported, so this is flag-gated and the
# default output stays byte-identical to the reference contract)
# ---------------------------------------------------------------------------


class MapOf(Descriptor):
    """``MAP<STRING, value>`` — produced ONLY by :func:`structs_to_maps`
    (never by the observe/merge fold, which stays exactly the reference's
    lattice).  Keys are always strings: JSON object keys are."""

    __slots__ = ("value",)
    kind = "map"

    def __init__(self, value: Descriptor):
        self.value = value

    def __repr__(self) -> str:
        return f"MapOf({self.value!r})"

    def __eq__(self, other: object) -> bool:
        return isinstance(other, MapOf) and other.value == self.value

    def __hash__(self) -> int:
        return hash(("map", self.value))


def structs_to_maps(
    desc: Descriptor, threshold: int, _root: bool = True
) -> Descriptor:
    """Post-merge rewrite: any NESTED struct with >= ``threshold`` fields
    whose field types UNIFY under the lattice becomes
    ``MAP<STRING, unified>`` — the standard heuristic for key-as-data
    objects (per-user dicts, counters, feature bags) whose key set would
    otherwise grow one schema column per observed key and never converge.

    Driver-side over the already-merged descriptor tree (O(schema), not
    O(data)); bottom-up, so an inner dict-of-dicts collapses before its
    parent is considered.  The TOP-LEVEL struct is never rewritten — its
    fields are the table's columns.  A struct whose field types conflict
    (e.g. mixed string/number values) stays a struct: lossy coercion is
    exactly what this engine refuses to do silently.  All-``UNKNOWN``
    structs also stay: there is no evidence of a value type to map to."""
    from .errors import SchemaGenError

    if isinstance(desc, Arr):
        return Arr(structs_to_maps(desc.element, threshold, _root=False))
    if isinstance(desc, MapOf):
        return MapOf(structs_to_maps(desc.value, threshold, _root=False))
    if not isinstance(desc, Struct):
        return desc
    if not _root and len(desc.fields) >= threshold:
        # unify the ORIGINAL (reference-lattice) field descriptors — the
        # fold happens before any child becomes a MapOf, which merge()
        # deliberately does not know — then rewrite the unified value
        unified: Descriptor = Unknown()
        try:
            for v in desc.fields.values():
                unified = merge(unified, v)
        except SchemaGenError:
            unified = None  # heterogeneous values: keep the struct
        if unified is not None and not isinstance(unified, Unknown):
            return MapOf(structs_to_maps(unified, threshold, _root=False))
    return Struct(
        {
            k: structs_to_maps(v, threshold, _root=False)
            for k, v in desc.fields.items()
        }
    )
