"""Seeded NDJSON inputs for the benchmark, with their expected outputs.

Two workloads:

``ndjson_flat``
    One file of flat log records: scalar fields over several integer-ladder
    tiers, fixed-scale decimals, booleans, nulls and strings.  Every line is
    distinct (``seq`` is unique).
``ndjson_nested``
    Eight files of nested documents: structs inside structs, an array of
    structs, string and decimal arrays, a nullable struct.  About half of the
    lines repeat an earlier line of the same file.

Each workload also gets a ``bad`` copy of its input with one planted line
whose sparse field changes kind.  The field is absent from the rest of the
planted line's file (or split), so the conflict only shows when partials
from different partitions meet.

Expected results come from the generator's own choices, never from running
the program: every leaf picks its bounds, lengths and scales from the seed,
two anchor rows at the top of the input reach them, and ``ddl.py`` turns the
chosen spec into the DDL text.  Sparse fields come last in column order, so
first-seen order is the spec order however partitions are merged.

Run as a script to (re)build one workload's inputs:

    python3 perfbench/gen.py --workload ndjson_flat --seed 1 --out DIR
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
from pathlib import Path

GEN_VERSION = 3

FLAT_LINES = 32_000
NESTED_FILES = 8
NESTED_LINES_PER_FILE = 2_000
NESTED_REPEAT_P = 0.5
# flat: legacy_code only appears in this leading share of the lines
FLAT_LEGACY_SHARE = 0.4
# nested: audit only appears in the first files
NESTED_AUDIT_FILES = 6
# where the planted line sits: flat at this share of its file, nested in the
# middle of its last file; either ± PLANT_JITTER lines
PLANT_AT = 0.9
PLANT_JITTER = 20

_ALNUM = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
_TEXT = _ALNUM + "-_./ žšč"


class Raw(str):
    """Number text written verbatim, so a decimal keeps its exact scale."""


_dumps_str = json.JSONEncoder(ensure_ascii=False).encode


def emit(v) -> str:
    t = type(v)
    if t is Raw:
        return v
    if t is str:
        return _dumps_str(v)
    if v is None:
        return "null"
    if t is bool:
        return "true" if v else "false"
    if t is int:
        return str(v)
    if t is list:
        return "[" + ",".join(emit(x) for x in v) + "]"
    if t is dict:
        return "{" + ",".join(_dumps_str(k) + ":" + emit(x) for k, x in v.items()) + "}"
    raise TypeError(f"cannot emit {v!r}")


def fmt_dec(units: int, scale: int) -> Raw:
    sign = "-" if units < 0 else ""
    q, r = divmod(abs(units), 10**scale)
    return Raw(f"{sign}{q}.{str(r).zfill(scale)}")


# ---------------------------------------------------------------------------
# Nodes: each knows its spec, how to draw a value, and its two anchor values
# (anchor 0 and anchor 1 together reach every bound and the longest string).
# ---------------------------------------------------------------------------


class Int:
    def __init__(self, lo: int, hi: int):
        self.lo, self.hi = lo, hi
        self.spec = ("int", lo, hi)

    def draw(self, rng):
        return rng.randint(self.lo, self.hi)

    def anchor(self, i):
        return self.lo if i == 0 else self.hi


class Dec:
    def __init__(self, lo_units: int, hi_units: int, scale: int):
        self.lo, self.hi, self.scale = lo_units, hi_units, scale
        self.spec = ("dec", lo_units, hi_units, scale)

    def draw(self, rng):
        return fmt_dec(rng.randint(self.lo, self.hi), self.scale)

    def anchor(self, i):
        return fmt_dec(self.lo if i == 0 else self.hi, self.scale)


class Text:
    def __init__(self, min_len: int, max_len: int, null_p: float = 0.0, alphabet=_TEXT):
        self.min_len, self.max_len, self.null_p, self.alphabet = min_len, max_len, null_p, alphabet
        self.spec = ("str", max_len)

    def draw(self, rng):
        if self.null_p and rng.random() < self.null_p:
            return None
        return "".join(rng.choices(self.alphabet, k=rng.randint(self.min_len, self.max_len)))

    def anchor(self, i):
        return "".join(random.Random(i).choices(self.alphabet, k=self.max_len))


class Fixed:
    """A string of one fixed length drawn from a template (timestamps)."""

    def __init__(self, fn, length: int):
        self.fn, self.spec = fn, ("str", length)

    def draw(self, rng):
        return self.fn(rng)

    def anchor(self, i):
        return self.fn(random.Random(i))


class Bool:
    spec = ("bool",)

    def draw(self, rng):
        return rng.random() < 0.5

    def anchor(self, i):
        return i == 1


class Null:
    spec = ("null",)

    def draw(self, rng):
        return None

    def anchor(self, i):
        return None


class Arr:
    def __init__(self, elem, min_n: int, max_n: int):
        self.elem, self.min_n, self.max_n = elem, min_n, max_n
        self.spec = ("arr", elem.spec)

    def draw(self, rng):
        return [self.elem.draw(rng) for _ in range(rng.randint(self.min_n, self.max_n))]

    def anchor(self, i):
        if isinstance(self.elem, Null):
            return []
        return [self.elem.anchor(0), self.elem.anchor(1)]


class Obj:
    def __init__(self, fields, null_p: float = 0.0):
        self.fields, self.null_p = fields, null_p
        self.spec = ("struct", [(k, n.spec) for k, n in fields])

    def draw(self, rng):
        if self.null_p and rng.random() < self.null_p:
            return None
        return {k: n.draw(rng) for k, n in self.fields}

    def anchor(self, i):
        return {k: n.anchor(i) for k, n in self.fields}


def _ts(rng) -> str:
    return (
        f"2026-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}T"
        f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}."
        f"{rng.randint(0, 999):03d}Z"
    )


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------


def flat_schema(rng):
    """Top-level columns; ``legacy_code`` (last) is the sparse field."""
    return [
        ("seq", None),  # unique per line, set by the writer
        ("ts", Fixed(_ts, 24)),
        ("level", Int(0, 7)),
        ("status", Int(100, 599)),
        ("port", Int(1, 65535)),
        ("bytes", Int(0, rng.randint(3 * 10**9, 9 * 10**9))),
        ("delta", Int(-rng.randint(20_000, 32_000), rng.randint(20_000, 32_000))),
        ("latency_ms", Dec(0, 9_999_999, 3)),
        ("lat", Dec(-90_000_000, 90_000_000, 6)),
        ("amount", Dec(0, rng.randint(10**15, 9 * 10**15), 2)),
        ("ok", Bool()),
        ("user", Text(3, rng.randint(30, 33), null_p=0.1, alphabet=_ALNUM)),
        ("path", Text(5, rng.randint(90, 93))),
        ("huge_id", Int(10**19, 10**19 + rng.randint(10**6, 10**7))),
        ("note", Null()),
        ("legacy_code", Int(1, rng.randint(300, 999))),
    ]


def nested_schema(rng):
    item = Obj(
        [
            ("sku", Text(4, rng.randint(12, 14), alphabet=_ALNUM)),
            ("qty", Int(1, 500)),
            ("price", Dec(1, 9_999_999, 2)),
            ("attrs", Obj([("color", Text(3, 9, null_p=0.3)), ("size", Int(1, 50))])),
        ]
    )
    return [
        ("doc_id", None),  # unique per fresh document, set by the writer
        ("kind", Text(3, 12, alphabet=_ALNUM)),
        (
            "meta",
            Obj(
                [
                    (
                        "source",
                        Obj(
                            [
                                ("host", Text(6, rng.randint(30, 33), alphabet=_ALNUM + ".-")),
                                ("port", Int(1, 65535)),
                                ("secure", Bool()),
                            ]
                        ),
                    ),
                    ("crawl", Obj([("depth", Int(0, 9)), ("ts", Fixed(_ts, 24))])),
                ]
            ),
        ),
        ("scores", Arr(Dec(0, 10_000, 4), 0, 6)),
        ("tags", Arr(Text(2, rng.randint(15, 17), alphabet=_ALNUM), 0, 5)),
        ("items", Arr(item, 0, 3)),
        ("geo", Obj([("lat", Dec(-90_000_000, 90_000_000, 6)), ("lon", Dec(-180_000_000, 180_000_000, 6))], null_p=0.4)),
        ("amount", Dec(-rng.randint(10**16, 9 * 10**16), rng.randint(10**16, 9 * 10**16), 2)),
        ("empty", Arr(Null(), 0, 0)),
        ("audit", Obj([("rev", Int(1, rng.randint(2_000, 9_999)))])),
    ]


def _columns(schema, id_spec):
    return [(k, id_spec if n is None else n.spec) for k, n in schema]


def _record(schema, rng, ident, anchor=None, drop=()):
    rec = {}
    for k, n in schema:
        if k in drop:
            continue
        if n is None:
            rec[k] = ident
        elif anchor is None:
            rec[k] = n.draw(rng)
        else:
            rec[k] = n.anchor(anchor)
    return rec


def gen_flat(rng, out: Path) -> dict:
    schema = flat_schema(rng)
    seq0 = 4_000_000_000
    legacy = dict(schema)["legacy_code"]
    legacy_until = int(FLAT_LINES * FLAT_LEGACY_SHARE)
    lines = []
    for i in range(FLAT_LINES):
        if i < 2:
            rec = _record(schema, rng, seq0 + i, anchor=i)
        else:
            rec = _record(schema, rng, seq0 + i, drop=("legacy_code",))
            if i < legacy_until and rng.random() < 0.2:
                rec["legacy_code"] = legacy.draw(rng)
        lines.append(emit(rec))
    # the planted line sits at ~90 % of the file, far from any legacy_code.
    # The program's re-scan stops at it, so its position sets the cost of
    # the error path: the jitter is kept small so every seed costs the same.
    plant = int(FLAT_LINES * PLANT_AT) + rng.randint(-PLANT_JITTER, PLANT_JITTER)
    bad = json.loads(lines[plant], parse_float=Raw)
    bad["legacy_code"] = f"L{rng.randint(100, 999)}"
    clean = out / "clean"
    broken = out / "bad"
    clean.mkdir(parents=True)
    broken.mkdir(parents=True)
    text = "\n".join(lines) + "\n"
    (clean / "flat.json").write_text(text, encoding="utf-8")
    lines[plant] = emit(bad)
    (broken / "flat.json").write_text("\n".join(lines) + "\n", encoding="utf-8")
    return {
        "clean": "clean/flat.json",
        "bad": "bad/flat.json",
        "files": 1,
        "lines": FLAT_LINES,
        "bytes": len(text.encode("utf-8")),
        "repeat_share": 0.0,
        "columns": _columns(schema, ("int", seq0, seq0 + FLAT_LINES - 1)),
        "planted": {"error": "RowMismatch", "line": plant + 1},
    }


def gen_nested(rng, out: Path) -> dict:
    schema = nested_schema(rng)
    audit = dict(schema)["audit"]
    clean = out / "clean"
    broken = out / "bad"
    clean.mkdir(parents=True)
    broken.mkdir(parents=True)
    seen: set = set()
    repeats = 0
    total_lines = 0
    total_bytes = 0
    doc_id = 0
    plant = None
    for f in range(NESTED_FILES):
        lines = []
        fresh_idx = []
        for i in range(NESTED_LINES_PER_FILE):
            if f == 0 and i < 2:
                rec = _record(schema, rng, doc_id, anchor=i)
            elif lines and rng.random() < NESTED_REPEAT_P:
                lines.append(lines[rng.randrange(len(lines))])
                continue
            else:
                rec = _record(schema, rng, doc_id, drop=("audit",))
                if f < NESTED_AUDIT_FILES and rng.random() < 0.3:
                    rec["audit"] = audit.draw(rng)
                fresh_idx.append(i)
            doc_id += 1
            lines.append(emit(rec))
        for line in lines:
            if line in seen:
                repeats += 1
            else:
                seen.add(line)
        text = "\n".join(lines) + "\n"
        name = f"part-{f:02d}.json"
        (clean / name).write_text(text, encoding="utf-8")
        total_bytes += len(text.encode("utf-8"))
        if f == NESTED_FILES - 1:
            # plant on the fresh line nearest the file's middle (same cost for
            # every seed, as in the flat file): audit.rev turns into a string
            mid = len(lines) // 2 + rng.randint(-PLANT_JITTER, PLANT_JITTER)
            q = min(fresh_idx, key=lambda i: abs(i - mid))
            rec = json.loads(lines[q], parse_float=Raw)
            rec["audit"] = {"rev": f"r{rng.randint(100, 999)}"}
            lines[q] = emit(rec)
            plant = total_lines + q + 1
            (broken / name).write_text("\n".join(lines) + "\n", encoding="utf-8")
        else:
            shutil.copyfile(clean / name, broken / name)
        total_lines += len(lines)
    return {
        "clean": "clean/part-*.json",
        "bad": "bad/part-*.json",
        "files": NESTED_FILES,
        "lines": total_lines,
        "bytes": total_bytes,
        "repeat_share": repeats / total_lines,
        "columns": _columns(schema, ("int", 0, doc_id - 1)),
        "planted": {"error": "RowMismatch", "line": plant},
    }


GENERATORS = {"ndjson_flat": gen_flat, "ndjson_nested": gen_nested}


def generate(workload: str, seed: int, out: Path) -> dict:
    """Write one workload's inputs under ``out`` and return their meta."""
    rng = random.Random(f"{workload}:{seed}")
    meta = GENERATORS[workload](rng, out)
    meta.update(workload=workload, seed=seed, gen_version=GEN_VERSION)
    return meta


def cached(workload: str, seed: int, root: Path, keep: int = 4) -> tuple[Path, dict]:
    """Inputs for (workload, seed) under ``root``, generated once per seed.

    ``meta.json`` is written last, so a directory without it is a torn
    write and is rebuilt.  Only the ``keep`` most recent seeds are kept.
    """
    base = root / workload
    out = base / f"seed-{seed}-v{GEN_VERSION}"
    meta_path = out / "meta.json"
    if meta_path.exists():
        os.utime(out)
        return out, json.loads(meta_path.read_text())
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    meta = generate(workload, seed, out)
    tmp = out / "meta.json.tmp"
    tmp.write_text(json.dumps(meta))
    tmp.replace(meta_path)
    others = sorted(
        (p for p in base.iterdir() if p != out and p.is_dir()),
        key=lambda p: p.stat().st_mtime,
        reverse=True,
    )
    for old in others[keep - 1:]:
        shutil.rmtree(old, ignore_errors=True)
    return out, meta


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True, help="cache root; inputs go to OUT/<workload>/seed-<n>-v<k>")
    args = ap.parse_args(argv)
    out, meta = cached(args.workload, args.seed, Path(args.out))
    json.dump({"dir": str(out), **{k: meta[k] for k in ("bytes", "lines", "files", "repeat_share")}}, sys.stdout)
    print()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
