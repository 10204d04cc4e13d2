"""Distributed NDJSON schema inference — one fold, run wherever the lines are.

The reference runs a sequential fold over a lazy line iterator in a single
JVM thread (``Schemer.scala:7-14``).  Here that fold is
:func:`_fold`, and every entry point is a partial/final aggregation over it:

    lines of one partition / one Arrow task / one iterator
      → _fold(seed, lines)         # parse + observe, one partial schema
      → driver: merge_partial(...) in partition order
                                   # final merge (first-seen field order)

``_fold`` works in batches: each distinct raw string of a batch is parsed
once, the batch is tried through the flat accumulator fast path
(:func:`_fold_values_fast`) and replayed row by row through ``observe`` only
on a miss.  A raw string that already folded cleanly is skipped — every
lattice statistic is an idempotent max/min, so its repeat cannot change the
schema or fail where it passed.

Its four callers:

- :func:`infer_path`: ``sc.textFile(path).mapPartitionsWithIndex(fold)``;
  each partition emits one tiny record (line count, partial or first error),
  so driver work is O(partitions × schema size) and line numbers are exact
  from driver-side prefix sums, without a ``zipWithIndex`` job (SURVEY §7).
- its FAILFAST re-scan: the same partition function with a seed schema and a
  target partition;
- :func:`infer_json_column`: the ``mapInPandas`` body over a string column;
- :func:`infer_ndjson_strings`: one in-process fold (tests, tiny inputs).

Error semantics (``FAILFAST``, the reference's behavior): the first bad line
in *file order* aborts the run.  Every partition stops at its first local
error, but a row can also conflict only with the schema of the partitions
before it.  So a partition that errors locally (after the first) or whose
partial conflicts at the driver merge is folded once more, seeded with the
schema of every partition before it, for its first error and exact line —
an extra job on the error path only.  ``PERMISSIVE`` instead skips bad
rows, settles kind conflicts by :func:`~.lattice.merge_lenient`'s fixed
precedence, and returns sampled errors.
"""

from __future__ import annotations

import json
import pickle
from dataclasses import dataclass, field
from decimal import Decimal
from itertools import chain, islice
from typing import Iterable, Iterator, List, Optional, Tuple

from .errors import BadJson, SchemaGenError
from .lattice import (
    BOOL,
    EMPTY_STRUCT,
    UNKNOWN,
    Descriptor,
    Num,
    Str,
    Struct,
    _scale,
    describe,
    merge,
    merge_lenient,
    observe,
)
from .render import render_definition, render_table

_MAX_ERROR_SAMPLES = 20
_BATCH_LINES = 8192
# seen-set bounds: past these, parse instead of remember — correctness is
# unaffected (dedup is an optimization).  Task memory is bounded in BYTES,
# not just entries: a high-cardinality input of near-cap strings degrades
# to plain parsing after ~16 MiB instead of growing to the 64 MiB product.
_SEEN_CAP = 1 << 16
_SEEN_MAX_LEN = 1 << 10
_SEEN_MAX_BYTES = 1 << 24


def _reject_constant(name: str):
    # play-json (the reference's parser, Schemer.scala:13) rejects these
    # non-standard literals; Python's json would otherwise admit values the
    # lattice cannot type (Decimal('Infinity') breaks rendering)
    raise ValueError(f"{name} is not valid JSON")


def parse_line(text: str):
    """Parse one NDJSON line.

    ``parse_float=Decimal`` preserves the literal's textual scale so numeric
    widening matches the reference's play-json ``BigDecimal`` semantics
    (``Schemer.scala:13,52``): ``10.0`` is scale 1, ``0.12`` is scale 2.
    ``NaN``/``Infinity`` literals are rejected like the reference does.
    """
    return json.loads(text, parse_float=Decimal, parse_constant=_reject_constant)


@dataclass
class LineError:
    line: Optional[int]
    message: str


@dataclass
class InferenceResult:
    schema: Descriptor
    lines: int
    errors: List[LineError] = field(default_factory=list)

    def definition(self, indent: int = 0) -> str:
        return render_definition(self.schema, indent)

    def table(self, name: str, file: str) -> str:
        return render_table(self.schema, name, file)


def _observe_lenient(schema: Descriptor, value, detect_dates: bool = False) -> Descriptor:
    """PERMISSIVE fold step for a row that conflicts with the schema:
    ``merge_lenient`` of the row's descriptor, so a conflict is settled at
    its own level by the fixed kind precedence and the row's clean fields
    still contribute — the same join the driver applies to partials, so the
    inferred types do not depend on partition boundaries.  A row whose value
    cannot even be described (e.g. a mixed-kind array) is skipped whole."""
    try:
        return merge_lenient(schema, describe(value, detect_dates=detect_dates))
    except SchemaGenError:
        return schema


def merge_partial(
    schema: Descriptor, partial: Descriptor, permissive: bool
) -> Tuple[Descriptor, Optional[SchemaGenError]]:
    """Driver-side merge of one partial into the running schema; call it in
    partition order so field order is first-seen.  A kind conflict raises
    when strict; when ``permissive`` it is settled by ``merge_lenient`` and
    returned so the caller can record it."""
    try:
        return merge(schema, partial), None
    except SchemaGenError as e:
        if not permissive:
            raise
        return merge_lenient(schema, partial), e


def _fold(
    schema: Descriptor,
    lines: Iterable[Optional[str]],
    permissive: bool,
    detect_dates: bool = False,
) -> Tuple[Descriptor, int, List[Tuple[int, str]]]:
    """The schema fold: ``schema`` ⊔ every line, in batches.

    Returns ``(schema, lines seen, sampled errors)``; errors are
    ``(local line, message)`` in line order, at most 20.  ``None`` lines
    (null cells) count but fold nothing.  FAILFAST (``permissive=False``)
    raises the first error in line order with its local line number.
    """
    n = 0
    errors: List[Tuple[int, str]] = []
    seen: set = set()  # raw strings that already folded cleanly
    seen_bytes = 0

    def remember(raw: str) -> None:
        nonlocal seen_bytes
        if (
            len(raw) <= _SEEN_MAX_LEN
            and len(seen) < _SEEN_CAP
            and seen_bytes + len(raw) <= _SEEN_MAX_BYTES
        ):
            seen.add(raw)
            seen_bytes += len(raw)

    def bad_line(line: int, raw: str, e: ValueError) -> None:
        if not permissive:
            raise BadJson(raw, str(e), line=line)
        if len(errors) < _MAX_ERROR_SAMPLES:
            errors.append((line, "BadJson: " + str(e)))

    it = iter(lines)
    while True:
        batch = list(islice(it, _BATCH_LINES))
        if not batch:
            return schema, n, errors
        # each distinct raw string not yet folded is parsed once
        parsed = dict.fromkeys(r for r in batch if r is not None and r not in seen)
        bad = {}
        for raw in parsed:
            try:
                parsed[raw] = parse_line(raw)
            except ValueError as e:
                bad[raw] = e
        for raw in bad:
            del parsed[raw]
        try:
            if detect_dates:  # the accumulators type every string VARCHAR
                raise _FastPathMiss
            schema = _fold_values_fast(schema, parsed.values())
        except (_FastPathMiss, SchemaGenError):
            pass  # the failed attempt left `schema` untouched: replay below
        else:
            # a clean batch: only its bad lines, if any, are left to visit
            for raw in parsed:
                remember(raw)
            if bad:
                for line, raw in enumerate(batch, n + 1):
                    if raw in bad:
                        bad_line(line, raw, bad[raw])
            n += len(batch)
            continue
        # row by row: the exact first error (FAILFAST) or per-row
        # degradation (PERMISSIVE), in line order
        for raw in batch:
            n += 1
            if raw is None or raw in seen:
                continue
            if raw in bad:
                bad_line(n, raw, bad[raw])
                continue
            if raw not in parsed:  # folded cleanly before the seen-set reset
                parsed[raw] = parse_line(raw)
            value = parsed[raw]
            try:
                schema = observe(schema, value, line=n, detect_dates=detect_dates)
            except SchemaGenError as e:
                if not permissive:
                    if getattr(e, "raw", None) is None and hasattr(e, "raw"):
                        e.raw = value
                    raise e.with_line(n)
                if len(errors) < _MAX_ERROR_SAMPLES:
                    errors.append((n, type(e).__name__))
                before = schema
                schema = _observe_lenient(schema, value, detect_dates)
                try:
                    merge(before, schema)
                except SchemaGenError:
                    # the row's kind won somewhere, so an earlier clean row
                    # may conflict now: its repeats must be folded again
                    seen.clear()
                    seen_bytes = 0
                continue
            remember(raw)


class _FastPathMiss(Exception):
    """Batch contains a shape the accumulator fast path doesn't cover."""


def _fold_values_fast(schema: Descriptor, values: Iterable) -> Descriptor:
    """Fold a batch of parsed rows via per-field accumulators.

    The common LLM-pipeline shape — flat objects of scalars — needs no
    per-row descriptor allocation or recursive merge: one pass keeps
    (kind, bounds) per field in plain lists, then builds ONE struct
    descriptor for the whole batch and merges it into the running schema.
    Property-tested equivalent to the row-at-a-time fold
    (tests/test_property.py); anything nested, conflicting, or exotic
    raises :class:`_FastPathMiss` and the caller replays the batch through
    ``observe`` for exact semantics.

    Accumulator layout (plain lists, not objects, for speed):
    ``["u"]`` null-only · ``["b"]`` bool · ``["s", max_len]`` string ·
    ``["n", lo, hi, max_scale]`` number.
    """
    accs: dict = {}
    for v in values:
        if type(v) is not dict:
            raise _FastPathMiss
        for k, x in v.items():
            acc = accs.get(k)
            tx = type(x)
            if acc is None:
                if x is None:
                    accs[k] = ["u"]
                elif tx is bool:
                    accs[k] = ["b"]
                elif tx is str:
                    accs[k] = ["s", len(x)]
                elif tx is int:
                    accs[k] = ["n", x, x, 0]
                elif tx is Decimal:
                    accs[k] = ["n", x, x, _scale(x)]
                else:
                    raise _FastPathMiss
                continue
            kind = acc[0]
            if x is None:
                continue
            if tx is bool:
                if kind == "u":
                    acc[0] = "b"
                elif kind != "b":
                    raise _FastPathMiss
            elif tx is str:
                if kind == "s":
                    n = len(x)
                    if n > acc[1]:
                        acc[1] = n
                elif kind == "u":
                    acc[:] = ["s", len(x)]
                else:
                    raise _FastPathMiss
            elif tx is int or tx is Decimal:
                if kind == "n":
                    if x < acc[1]:
                        acc[1] = x
                    if x > acc[2]:
                        acc[2] = x
                    if tx is Decimal:
                        sc = _scale(x)
                        if sc > acc[3]:
                            acc[3] = sc
                elif kind == "u":
                    acc[:] = ["n", x, x, _scale(x) if tx is Decimal else 0]
                else:
                    raise _FastPathMiss
            else:
                raise _FastPathMiss
    fields = {}
    for k, acc in accs.items():  # dict preserves first-seen order
        kind = acc[0]
        if kind == "u":
            fields[k] = UNKNOWN
        elif kind == "b":
            fields[k] = BOOL
        elif kind == "s":
            fields[k] = Str(acc[1])
        else:
            fields[k] = Num(acc[1], acc[2], acc[3])
    return merge(schema, Struct(fields))


def _fold_partitions(permissive, detect_dates, seed=EMPTY_STRUCT, target=None):
    """``mapPartitionsWithIndex`` body of :func:`infer_path`: one record
    ``(pid, lines, (partial, errors) or first error)`` per partition — or,
    for the FAILFAST re-scan, only for partition ``target``, folded from
    ``seed`` (the schema of every partition before it)."""

    def f(pid: int, it: Iterator[str]):
        if target is not None and pid != target:
            return
        try:
            schema, n, errors = _fold(seed, it, permissive, detect_dates)
        except SchemaGenError as e:
            yield pid, e.line, e
            return
        yield pid, n, (schema, errors)

    return f


def infer_path(
    spark,
    path: str,
    mode: str = "FAILFAST",
    min_partitions: Optional[int] = None,
    sampling_ratio: Optional[float] = None,
    detect_dates: bool = False,
) -> InferenceResult:
    """Infer the schema of an NDJSON file/glob distributively.

    ``mode="FAILFAST"`` reproduces the reference's first-bad-line abort with
    an exact line number; ``"PERMISSIVE"`` skips bad rows and returns up to
    20 sampled errors per partition.  ``sampling_ratio`` (like
    ``spark.read.json``'s option, ``0 < ratio <= 1``) infers from a
    deterministic row sample — line numbers are then relative to the sample
    and reported as None.  ``detect_dates`` (opt-in deviation, OFF for
    reference fidelity) types ISO-8601 strings as DATE/TIMESTAMP.
    """
    if sampling_ratio is not None and not 0 < sampling_ratio <= 1:
        raise ValueError(f"sampling_ratio must be in (0, 1], got {sampling_ratio}")
    permissive = mode.upper() == "PERMISSIVE"
    sc = spark.sparkContext
    rdd = sc.textFile(path, minPartitions=min_partitions) if min_partitions else sc.textFile(path)
    sampled = sampling_ratio is not None and sampling_ratio < 1.0
    if sampled:
        rdd = rdd.sample(False, float(sampling_ratio), seed=42)

    recs = rdd.mapPartitionsWithIndex(_fold_partitions(permissive, detect_dates)).collect()
    recs.sort(key=lambda r: r[0])

    # Prefix-sum the per-partition line counts → global line offsets.
    offsets = {}
    total = 0
    for pid, n, _out in recs:
        offsets[pid] = total
        total += n

    def raise_first_error(pid, seed):
        """Error path only: re-fold partition ``pid`` from ``seed`` and raise
        its first error — a cross-partition kind conflict, a local conflict
        or bad JSON, whichever comes first in line order — at its global
        line."""
        rescan = _fold_partitions(False, detect_dates, seed, target=pid)
        for _pid, local, err in rdd.mapPartitionsWithIndex(rescan).collect():
            if isinstance(err, SchemaGenError):
                raise err.with_line(None if sampled else offsets[pid] + local)
        raise SchemaGenError(f"partition {pid} conflicts with prior schema")  # pragma: no cover

    # Single pass in partition (= file) order.  FAILFAST must report the
    # first bad line in *file* order, and a locally-clean partition can
    # still conflict with the schema accumulated from earlier partitions —
    # so clean partials merge as we go (a merge conflict triggers a seeded
    # re-scan for its exact line), and the first locally-erroring partition
    # is *also* re-scanned seeded with everything before it: an early row of
    # that partition may conflict cross-partition at a smaller line number
    # than its local error.  Earlier partitions always win this way.
    schema: Descriptor = EMPTY_STRUCT
    all_errors: List[LineError] = []
    for pid, n, out in recs:
        if isinstance(out, SchemaGenError):
            if pid == recs[0][0]:  # no preceding schema: the local error IS the first
                raise out.with_line(None if sampled else offsets[pid] + out.line)
            raise_first_error(pid, schema)
        partial, errors = out
        try:
            schema, conflict = merge_partial(schema, partial, permissive)
        except SchemaGenError:
            raise_first_error(pid, schema)
        if conflict is not None:
            all_errors.append(LineError(None, f"{type(conflict).__name__} (cross-partition)"))
        for local, msg in errors:
            all_errors.append(LineError(None if sampled else offsets[pid] + local, msg))
    return InferenceResult(schema, total, all_errors)


def infer_json_column(df, column: str, permissive: bool = False) -> Descriptor:
    """Infer the lattice schema of a JSON-bearing string column.

    Uses ``mapInPandas``: each task runs :func:`_fold` over its Arrow
    batches and emits one pickled partial descriptor; the driver merges
    partials in partition order.  At cluster scale this moves only
    O(partitions) tiny blobs to the driver.  Null cells are skipped
    (column-level nullability, not a row error).  Real-world JSON columns
    are heavily repetitive (the events.props benchmark column has 100
    distinct values in 100 k rows), so the fold's parse-each-distinct-string
    -once dedup collapses most of the parse work.
    """
    from pyspark import TaskContext

    def fold(batches):
        import pandas as pd  # worker-side

        lines = chain.from_iterable(pdf[column].tolist() for pdf in batches)
        schema, _, _ = _fold(EMPTY_STRUCT, lines, permissive)
        pid = TaskContext.get().partitionId()
        yield pd.DataFrame({"pid": [pid], "blob": [pickle.dumps(schema)]})

    parts = df.select(column).mapInPandas(fold, schema="pid int, blob binary").collect()
    schema: Descriptor = EMPTY_STRUCT
    for row in sorted(parts, key=lambda r: r["pid"]):
        schema, _ = merge_partial(schema, pickle.loads(bytes(row["blob"])), permissive)
    return schema


def infer_ndjson_strings(lines: Iterator[str], detect_dates: bool = False) -> InferenceResult:
    """Single-process fold over an iterable of lines (testing / tiny inputs).
    Semantics identical to the distributed path."""
    schema, n, _ = _fold(EMPTY_STRUCT, lines, False, detect_dates)
    return InferenceResult(schema, n)
