"""Benchmark of the NDJSON → Hive DDL paths: file (CLI), column, FAILFAST.

    python3 perfbench/run.py --workload ndjson_flat --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  Load model: this one driver process runs
one operation at a time in a closed loop (a single client); Spark runs at
``local[nproc]`` (``SPARK_GRAFT_CPUS`` is set here, from outside the
program).  Each run:

1. generates the workload's inputs from ``--seed`` (``gen.py``, cached per
   seed under ``.perfbench_cache/``);
2. sets up once: imports + ``get_spark()`` + one untimed, checked call of
   each operation kind (``setup_s``);
3. warms up untimed: three more checked rounds of ``file`` and ``column``,
   whose first calls after set-up are still 5–25 % slow;
4. calls ``file``, ``column`` and ``failfast`` for ``--seconds``, always the
   kind with the least time so far (so each gets about a third of the loop),
   checking every output against the generator's expected DDL or planted
   error;
5. prints one JSON line: with ``--trace 0`` the end-to-end metrics, with
   ``--trace 1`` the per-layer metrics.

The traced run turns on Spark's event log (through ``PYSPARK_SUBMIT_ARGS``,
never through the program), keeps spans in memory, attributes jobs to spans
by submission time, and adds driver-side timings of the layers below the
operations.  Its overhead against untraced calls of the same operations,
made first in a separate process (``baseline.py``), is reported as
``trace.overhead_frac``.

A checkout without the program (``hive_serde_schema_gen_spark/``) fails with
exit code 2 and prints no result.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

import ops
from eventlog import EventLog

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CACHE = ROOT / ".perfbench_cache"
WORKLOADS = ("ndjson_flat", "ndjson_nested")
CHILD_TIMEOUT_S = 100
GEN_TIMEOUT_S = 150
TRACE_BASELINE_ROUNDS = 3
MICRO_SAMPLE_LINES = 2000
MICRO_REPS = 5
SCAN_REPS = 3


class BenchError(Exception):
    """The run cannot produce a result."""


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(event_dir: Path | None) -> dict:
    """Set the environment Spark and its Python workers start with.

    Returns the environment for the untraced baseline process: the same,
    minus the event log.
    """
    for d in ("spark-local", "tmp"):
        (CACHE / d).mkdir(parents=True, exist_ok=True)
    tmp = CACHE / "tmp"
    pythonpath = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores()),
        PYTHONPATH=os.pathsep.join(pythonpath),
        SPARK_LOCAL_DIRS=str(CACHE / "spark-local"),
        TMPDIR=str(tmp),
    )
    submit = [
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    child_env = dict(os.environ, PYSPARK_SUBMIT_ARGS=shlex.join(submit + ["pyspark-shell"]))
    if event_dir is not None:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir={event_dir.as_uri()}",
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])
    return child_env


def last_json_line(text: str) -> dict:
    lines = [ln for ln in text.splitlines() if ln.startswith("{")]
    if not lines:
        raise BenchError("no JSON line in child output")
    return json.loads(lines[-1])


def generate(workload: str, seed: int) -> Path:
    r = subprocess.run(
        [sys.executable, str(HERE / "gen.py"), "--workload", workload, "--seed", str(seed), "--out", str(CACHE / "data")],
        capture_output=True, text=True, timeout=GEN_TIMEOUT_S,
    )
    if r.returncode != 0:
        raise BenchError(f"input generation failed:\n{r.stderr[-2000:]}")
    return Path(last_json_line(r.stdout)["dir"])


def run_baseline(data_dir: Path, rounds: int, env: dict) -> dict:
    """Set-up plus ``rounds`` untraced rounds in a fresh process."""
    try:
        r = subprocess.run(
            [sys.executable, str(HERE / "baseline.py"), "--data", str(data_dir), "--rounds", str(rounds)],
            capture_output=True, text=True, timeout=CHILD_TIMEOUT_S, env=env, cwd=ROOT,
        )
    except subprocess.TimeoutExpired as e:
        raise BenchError(f"baseline process timed out after {CHILD_TIMEOUT_S} s") from e
    if r.returncode != 0:
        raise BenchError(f"baseline process exited {r.returncode}:\n{r.stderr[-2000:]}")
    return last_json_line(r.stdout)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def summarize(results: dict) -> None:
    """Per-kind sample count, quartiles and walls, to stderr; with 20 or more
    samples also the highest percentile that has ten samples beyond it.  Next
    to the steal-corrected walls the metrics use: the raw walls' median and
    the median share of CPU time stolen."""
    for kind, rs in results.items():
        xs = [r.wall for r in rs]
        q1, med, q3 = quartiles(xs)
        extra = ""
        if len(xs) >= 20:
            p = int(100 * (1 - 10 / len(xs)))
            extra = f" p{p}={statistics.quantiles(xs, n=100)[p - 1]:.4f}"
        raw = statistics.median(r.raw_wall for r in rs)
        steal = statistics.median(r.steal_frac for r in rs)
        print(
            f"[perfbench] {kind}: n={len(xs)} median={med:.4f}s q1={q1:.4f} q3={q3:.4f}{extra}"
            f" raw_median={raw:.4f}s steal_median={steal:.4f}",
            file=sys.stderr,
        )
        print(f"[perfbench] {kind} walls: " + " ".join(f"{x:.3f}" for x in xs), file=sys.stderr)


def micro_layers(prog: ops.Program, spark, inp: ops.Inputs) -> dict:
    """Driver-side timings of the layers under the operations."""
    from hive_serde_schema_gen_spark.schema_infer import EMPTY_STRUCT, observe, parse_line
    from hive_serde_schema_gen_spark.sources.ndjson import read_ndjson_lines

    first = sorted(Path(inp.dir).glob(inp.meta["clean"]))[0]
    with first.open(encoding="utf-8") as f:
        sample = [next(f).rstrip("\n") for _ in range(MICRO_SAMPLE_LINES)]
    parse_t, observe_t, render_t = [], [], []
    for _ in range(MICRO_REPS):
        t0 = time.perf_counter()
        parsed = [parse_line(s) for s in sample]
        t1 = time.perf_counter()
        schema = EMPTY_STRUCT
        for v in parsed:
            schema = observe(schema, v)
        t2 = time.perf_counter()
        for _ in range(100):
            prog.render_table(schema, ops.TABLE, inp.clean)
        t3 = time.perf_counter()
        parse_t.append((t1 - t0) / len(sample) * 1e6)
        observe_t.append((t2 - t1) / len(sample) * 1e6)
        render_t.append((t3 - t2) / 100 * 1e6)
    scans = []
    for _ in range(SCAN_REPS):
        t0 = time.perf_counter()
        n = read_ndjson_lines(spark, inp.clean).count()
        scans.append(time.perf_counter() - t0)
        if n != inp.meta["lines"]:
            raise BenchError(f"line scan counted {n} lines, want {inp.meta['lines']}")
    return {
        "schema_infer.infer.parse_us_per_line": (statistics.median(parse_t), "us"),
        "schema_infer.lattice.observe_us_per_line": (statistics.median(observe_t), "us"),
        "schema_infer.render.table_us": (statistics.median(render_t), "us"),
        "sources.ndjson.scan_s": (statistics.median(scans), "s"),
    }


PER_OP_FIELDS = {
    "jobs": "count",
    "tasks": "count",
    "task_busy_s": "s",
    "slot_util": "ratio",
    "task_skew": "ratio",
    "driver_s": "s",
    "result_kb": "KB",
}


def layer_metrics(setups, spans, log: EventLog, micro, walls, baseline, jvm_rss) -> dict:
    m = {
        "setup.import_s": (statistics.median(s["import_s"] for s in setups), "s"),
        "session.get_spark_s": (statistics.median(s["get_spark_s"] for s in setups), "s"),
        "setup.warmup_s": (statistics.median(s["warmup_s"] for s in setups), "s"),
    }
    m.update(micro)
    for kind in ops.KINDS:
        rolls = [log.rollup(s, e, cores()) for k, s, e in spans if k == kind]
        for field, unit in PER_OP_FIELDS.items():
            m[f"schema_infer.infer.{kind}.{field}"] = (statistics.median(r[field] for r in rolls), unit)
        if kind == "failfast":
            rescans = [r["job_walls"][-1] if len(r["job_walls"]) > 1 else 0.0 for r in rolls]
            m["schema_infer.infer.failfast.rescan_s"] = (statistics.median(rescans), "s")
    ratios = [statistics.median(walls[k]) / statistics.median(baseline[k]) for k in ops.KINDS if baseline.get(k)]
    m["trace.overhead_frac"] = (statistics.median(ratios) - 1.0 if ratios else 0.0, "ratio")
    m["jvm.peak_rss_mb"] = (jvm_rss, "MB")
    return m


def run(args) -> dict:
    if not (ROOT / "hive_serde_schema_gen_spark" / "__init__.py").is_file():
        raise BenchError(f"the program is missing: no hive_serde_schema_gen_spark/ under {ROOT}")
    event_dir = None
    if args.trace:
        event_dir = CACHE / "eventlog" / f"{args.workload}-{args.seed}-{os.getpid()}-{time.time_ns()}"
        event_dir.mkdir(parents=True)
    child_env = prepare_env(event_dir)
    data_dir = generate(args.workload, args.seed)
    inp = ops.Inputs(data_dir)

    setups, failures = [], []
    attempted = 0
    baseline = {}
    if args.trace:
        res = run_baseline(data_dir, TRACE_BASELINE_ROUNDS, child_env)
        setups.append(res["timings"])
        attempted += res["attempted"]
        failures += res["failures"]
        baseline = res["walls"]

    sys.path.insert(0, str(ROOT))
    prog, spark, timings, fails = ops.set_up(inp)
    try:
        import hive_serde_schema_gen_spark as pkg

        if Path(pkg.__file__).resolve().parent != ROOT / "hive_serde_schema_gen_spark":
            raise BenchError(f"imported the program from {pkg.__file__}, not from {ROOT}")
        setups.append(timings)
        attempted += len(ops.KINDS) + ops.WARM_OPS
        failures += fails + ops.warm_up(prog, spark, inp)

        results = {k: [] for k in ops.KINDS}
        spans = []
        deadline = time.perf_counter() + args.seconds
        while not all(results.values()) or time.perf_counter() < deadline:
            # time-balanced turns: the kind with the least time so far goes
            # next, so each kind gets about a third of the loop and a fast
            # kind gets more samples
            kind = min(ops.KINDS, key=lambda k: (sum(r.raw_wall for r in results[k]), len(results[k])))
            res = ops.timed_op(prog, spark, kind, inp)
            results[kind].append(res)
            spans.append((kind, res.start, res.end))
            attempted += 1
            if res.err is not None:
                failures.append(f"{kind}: {res.err}")
        walls = {k: [r.wall for r in rs] for k, rs in results.items()}
        driver_rss = ops.peak_rss_mb()
        micro = micro_layers(prog, spark, inp) if args.trace else None
        jvm = ops.jvm_pid()
        jvm_rss = ops.peak_rss_mb(jvm) if jvm else 0.0
    finally:
        ops.shut_down(spark)

    for f in failures:
        print(f"[perfbench] FAILED {f}", file=sys.stderr)
    for s in setups:
        print("[perfbench] set-up " + " ".join(f"{k}={v:.3f}" for k, v in s.items()), file=sys.stderr)
    summarize(results)
    if args.trace:
        log = EventLog.read(event_dir)
        metrics = layer_metrics(setups, spans, log, micro, walls, baseline, jvm_rss)
        steal = [r.steal_frac for rs in results.values() for r in rs]
        metrics["host.steal_frac"] = (statistics.median(steal), "ratio")
        shutil.rmtree(event_dir)
    else:
        metrics = {
            "setup_s": (timings["setup_s"], "s"),
            "file_mb_s": (inp.mb / statistics.median(walls["file"]), "MB/s"),
            "column_mb_s": (inp.mb / statistics.median(walls["column"]), "MB/s"),
            "time_to_error_s": (statistics.median(walls["failfast"]), "s"),
            "driver_peak_rss_mb": (driver_rss, "MB"),
        }
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="length of the timed loop")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        result = run(args)
    except BenchError as e:
        print(f"[perfbench] error: {e}", file=sys.stderr)
        return 2
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
