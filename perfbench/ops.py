"""The benchmark's operations, their output checks, set-up and shut-down.

An operation is one call of a public function with its result fully forced:

``file``      ``infer_path(spark, path)`` + ``render_table`` — the CLI path
``column``    ``infer_json_column(spark.read.text(path), "value")`` +
              ``render_table`` — the same bytes as a string column
``failfast``  ``infer_path`` on the input with the planted line; it must
              raise the planted error class at the planted global line

Nothing here imports Spark or the program at module level, so the caller
can time the imports as part of set-up.
"""

from __future__ import annotations

import json
import subprocess
import threading
import time
from pathlib import Path
from typing import NamedTuple

from ddl import table_ddl

KINDS = ("file", "column", "failfast")
OP_TIMEOUT_S = 60.0
# After set-up, the first calls of ``file`` and ``column`` still run 5–25 %
# slower than later ones (JIT and Python worker start); ``failfast`` does
# not.  These untimed rounds let that ramp pass before timing starts.
WARM_KINDS = ("file", "column")
WARM_ROUNDS = 3
TABLE = "data"


class Inputs:
    """Generated inputs of one (workload, seed) and their expected outputs."""

    def __init__(self, data_dir: Path):
        self.dir = Path(data_dir)
        self.meta = json.loads((self.dir / "meta.json").read_text())
        self.clean = str(self.dir / self.meta["clean"])
        self.bad = str(self.dir / self.meta["bad"])
        self.expected_ddl = table_ddl(self.meta["columns"], TABLE, self.clean)
        self.planted = self.meta["planted"]
        self.mb = self.meta["bytes"] / 1e6


class Program:
    """The program's public functions, imported on construction."""

    def __init__(self):
        from hive_serde_schema_gen_spark.schema_infer import (
            SchemaGenError,
            infer_json_column,
            infer_path,
            render_table,
        )
        from hive_serde_schema_gen_spark.session import get_spark

        self.get_spark = get_spark
        self.infer_path = infer_path
        self.infer_json_column = infer_json_column
        self.render_table = render_table
        self.error = SchemaGenError

    def call(self, spark, kind: str, inp: Inputs):
        """Run one operation; return its forced output (DDL text or error)."""
        if kind == "file":
            return self.infer_path(spark, inp.clean).table(TABLE, inp.clean)
        if kind == "column":
            schema = self.infer_json_column(spark.read.text(inp.clean), "value")
            return self.render_table(schema, TABLE, inp.clean)
        if kind == "failfast":
            try:
                self.infer_path(spark, inp.bad)
            except self.error as e:
                return e
            return None
        raise ValueError(kind)


def check(kind: str, out, inp: Inputs) -> str | None:
    """None when ``out`` is the expected output, else why it is not."""
    if kind in ("file", "column"):
        if out == inp.expected_ddl:
            return None
        return "DDL differs from the expected DDL"
    if out is None:
        return "no error raised"
    want = inp.planted
    if type(out).__name__ != want["error"] or out.line != want["line"]:
        return f"raised {type(out).__name__} at line {out.line}, want {want['error']} at line {want['line']}"
    return None


def cpu_ticks() -> tuple[int, int]:
    """(wanted, stolen) clock ticks summed over all CPUs, from /proc/stat.

    ``wanted`` counts every tick in which a CPU ran or had work to run (user,
    nice, system, irq, softirq, steal); ``stolen`` is the part in which the
    hypervisor ran another machine instead.  (0, 0) where there is no
    /proc/stat.
    """
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
    except OSError:
        return 0, 0
    user, nice, system, _idle, _iowait, irq, softirq, steal = map(int, fields[1:9])
    return user + nice + system + irq + softirq + steal, steal


class Clock:
    """Wall time with the hypervisor's steal taken out.

    On a shared host the hypervisor now and then runs other machines on
    this one's CPUs; while it does, every timing here stretches, by 2× and
    more in a bad minute, though the program did nothing different.  ``steal_frac`` is the
    share of the CPU time wanted since start that was stolen, and
    ``seconds`` the wall scaled by the share that was not:
    ``raw × (1 − steal_frac)``.  With no steal the two are equal.
    """

    def __init__(self):
        self.t0 = time.perf_counter()
        self.ticks0 = cpu_ticks()

    def read(self) -> tuple[float, float, float]:
        """(seconds, raw seconds, steal_frac) since construction."""
        raw = time.perf_counter() - self.t0
        wanted, stolen = (b - a for a, b in zip(self.ticks0, cpu_ticks()))
        frac = stolen / wanted if wanted > 0 else 0.0
        return raw * (1.0 - frac), raw, frac


class OpResult(NamedTuple):
    wall: float  # seconds, steal taken out (``Clock``)
    raw_wall: float  # seconds as the clock read them
    steal_frac: float
    err: str | None  # failure reason, None when the output checked out
    start: float  # epoch seconds
    end: float


def timed_op(prog: Program, spark, kind: str, inp: Inputs) -> OpResult:
    """Run and check one operation.

    An operation that runs past ``OP_TIMEOUT_S`` has its Spark jobs
    cancelled and counts as failed; so does any unexpected exception.
    """
    timer = threading.Timer(OP_TIMEOUT_S, spark.sparkContext.cancelAllJobs)
    timer.daemon = True
    e0 = time.time()
    clock = Clock()
    timer.start()
    try:
        out = prog.call(spark, kind, inp)
        err = None
    except Exception as e:  # counted as a failed operation, never dropped
        out, err = None, f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
    finally:
        timer.cancel()
    wall, raw, frac = clock.read()
    e1 = time.time()
    if err is None:
        err = check(kind, out, inp)
    if err is None and raw > OP_TIMEOUT_S:
        err = f"timed out after {raw:.1f} s"
    return OpResult(wall, raw, frac, err, e0, e1)


def set_up(inp: Inputs):
    """One set-up: imports, session start, one untimed checked call per kind.

    Returns ``(program, spark, timings, failures)``; each timing has the
    hypervisor's steal taken out (``Clock``), ``setup_raw_s`` is the total
    as the clock read it.
    """
    clock = Clock()
    phase = Clock()
    prog = Program()
    import_s = phase.read()[0]
    phase = Clock()
    spark = prog.get_spark()
    get_spark_s = phase.read()[0]
    phase = Clock()
    failures = []
    for kind in KINDS:
        err = timed_op(prog, spark, kind, inp).err
        if err is not None:
            failures.append(f"warm-up {kind}: {err}")
    warmup_s = phase.read()[0]
    setup_s, setup_raw_s, _ = clock.read()
    timings = {
        "import_s": import_s,
        "get_spark_s": get_spark_s,
        "warmup_s": warmup_s,
        "setup_s": setup_s,
        "setup_raw_s": setup_raw_s,
    }
    return prog, spark, timings, failures


def warm_up(prog: Program, spark, inp: Inputs) -> list[str]:
    """``WARM_ROUNDS`` untimed, checked rounds of ``WARM_KINDS``; returns the
    failures.  Not part of set-up: ``setup_s`` keeps one call per kind."""
    failures = []
    for _ in range(WARM_ROUNDS):
        for kind in WARM_KINDS:
            err = timed_op(prog, spark, kind, inp).err
            if err is not None:
                failures.append(f"warm-up {kind}: {err}")
    return failures


WARM_OPS = WARM_ROUNDS * len(WARM_KINDS)


def shut_down(spark) -> None:
    """Stop the session, then end the JVM and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def peak_rss_mb(pid="self") -> float:
    """VmHWM of a process, in MB (10**6 bytes)."""
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) * 1024 / 1e6
    raise RuntimeError(f"no VmHWM for process {pid}")
