"""The benchmark's own tests, at tiny input sizes.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

Run from the root of the checkout; the event-log test starts a local Spark.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import gen  # noqa: E402
import ops  # noqa: E402
from eventlog import EventLog  # noqa: E402


@pytest.fixture(autouse=True)
def tiny(monkeypatch):
    monkeypatch.setattr(gen, "FLAT_LINES", 300)
    monkeypatch.setattr(gen, "NESTED_LINES_PER_FILE", 60)


def _digest(d: Path) -> dict:
    return {str(p.relative_to(d)): hashlib.sha256(p.read_bytes()).hexdigest() for p in sorted(d.rglob("*")) if p.is_file()}


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_generator_is_deterministic_per_seed(tmp_path, workload):
    a, meta_a = gen.cached(workload, 7, tmp_path / "a")
    b, meta_b = gen.cached(workload, 7, tmp_path / "b")
    c, meta_c = gen.cached(workload, 8, tmp_path / "c")
    assert meta_a == meta_b
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_nested_repeat_share_is_measured(tmp_path):
    d, meta = gen.cached("ndjson_nested", 3, tmp_path)
    lines = [ln for p in sorted((d / "clean").glob("part-*.json")) for ln in p.read_text(encoding="utf-8").splitlines()]
    seen, repeats = set(), 0
    for ln in lines:
        repeats += ln in seen
        seen.add(ln)
    assert meta["lines"] == len(lines)
    assert meta["repeat_share"] == repeats / len(lines)
    assert 0.3 < meta["repeat_share"] < 0.6


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_expected_ddl_matches_the_reference_fold(tmp_path, workload):
    """The generator's bookkeeping agrees with the program's one-process fold
    on tiny inputs (the timed runs compare against the distributed paths)."""
    from hive_serde_schema_gen_spark.schema_infer import infer_ndjson_strings, render_table

    d, _ = gen.cached(workload, 11, tmp_path)
    inp = ops.Inputs(d)
    lines = [ln for p in sorted(d.glob(inp.meta["clean"])) for ln in p.read_text(encoding="utf-8").splitlines()]
    got = render_table(infer_ndjson_strings(lines).schema, ops.TABLE, inp.clean)
    assert got == inp.expected_ddl


def test_ddl_check_rejects_a_wrong_ddl(tmp_path):
    d, _ = gen.cached("ndjson_flat", 5, tmp_path)
    inp = ops.Inputs(d)
    assert ops.check("file", inp.expected_ddl, inp) is None
    assert ops.check("column", inp.expected_ddl, inp) is None
    wrong = inp.expected_ddl.replace("\tlevel TINYINT", "\tlevel SMALLINT")
    assert wrong != inp.expected_ddl
    assert ops.check("file", wrong, inp) is not None
    assert ops.check("column", wrong + "\n", inp) is not None


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_failfast_check_rejects_a_wrong_line(tmp_path, workload):
    from hive_serde_schema_gen_spark.schema_infer import BadJson, RowMismatch

    d, _ = gen.cached(workload, 5, tmp_path)
    inp = ops.Inputs(d)
    line = inp.planted["line"]
    assert ops.check("failfast", RowMismatch(None, None, line=line), inp) is None
    assert ops.check("failfast", RowMismatch(None, None, line=line + 1), inp) is not None
    assert ops.check("failfast", RowMismatch(None, None, line=line - 1), inp) is not None
    assert ops.check("failfast", BadJson("x", "bad", line=line), inp) is not None
    assert ops.check("failfast", None, inp) is not None


def test_planted_line_is_the_first_bad_line(tmp_path):
    """The one-process fold over the bad input stops at the planted line."""
    from hive_serde_schema_gen_spark.schema_infer import SchemaGenError, infer_ndjson_strings

    for workload in sorted(gen.GENERATORS):
        d, _ = gen.cached(workload, 13, tmp_path / workload)
        inp = ops.Inputs(d)
        lines = [ln for p in sorted(d.glob(inp.meta["bad"])) for ln in p.read_text(encoding="utf-8").splitlines()]
        with pytest.raises(SchemaGenError) as info:
            infer_ndjson_strings(lines)
        assert ops.check("failfast", info.value, inp) is None


def test_rollup_attributes_jobs_by_time():
    ev = EventLog(
        jobs={
            0: {"submit": 1_000, "complete": 1_500, "stages": {0}},
            1: {"submit": 2_000, "complete": 2_600, "stages": {1, 2}},
            2: {"submit": 9_000, "complete": 9_100, "stages": {3}},
        },
        tasks=[
            {"stage": 0, "launch": 1_010, "finish": 1_410, "result": 2048},
            {"stage": 1, "launch": 2_010, "finish": 2_210, "result": 1024},
            {"stage": 2, "launch": 2_220, "finish": 2_420, "result": 1024},
            {"stage": 2, "launch": 2_220, "finish": 2_520, "result": 1024},
            {"stage": 3, "launch": 9_010, "finish": 9_090, "result": 1024},
        ],
    )
    r = ev.rollup(0.9, 3.0, cores=2)
    assert (r["jobs"], r["tasks"]) == (2, 4)
    assert r["task_busy_s"] == pytest.approx(1.1)
    assert r["driver_s"] == pytest.approx(2.1 - 0.5 - 0.6)
    assert r["result_kb"] == pytest.approx(5.0)
    assert r["task_skew"] == pytest.approx(0.4 / 0.25)
    assert r["slot_util"] == pytest.approx(1.1 / (2.1 * 2))


def test_clock_takes_stolen_share_out_of_the_wall(monkeypatch):
    """A quarter of the CPU time wanted was stolen: the wall shrinks by a
    quarter; with nothing wanted (an idle machine) it stays as read."""
    ticks = iter([(1_000, 10), (1_400, 110), (50, 0), (50, 0)])
    monkeypatch.setattr(ops, "cpu_ticks", lambda: next(ticks))
    seconds, raw, frac = ops.Clock().read()
    assert frac == pytest.approx(0.25)
    assert seconds == pytest.approx(raw * 0.75)
    seconds, raw, frac = ops.Clock().read()
    assert (seconds, frac) == (raw, 0.0)


def test_cpu_ticks_reads_proc_stat():
    wanted, stolen = ops.cpu_ticks()
    assert wanted >= stolen >= 0


def test_event_log_rollup_counts_a_known_two_job_call(tmp_path):
    """A real local session with the event log on: a span holding two known
    jobs (3 + 2 tasks) rolls up to exactly those counts; a job outside the
    span is not attributed to it."""
    from pyspark.sql import SparkSession

    log_dir = tmp_path / "events"
    log_dir.mkdir()
    old = os.environ.get("PYSPARK_SUBMIT_ARGS")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir={log_dir.as_uri()} "
        "--conf spark.eventLog.compress=false --conf spark.ui.enabled=false pyspark-shell"
    )
    try:
        spark = SparkSession.builder.master("local[2]").appName("perfbench-test").getOrCreate()
        sc = spark.sparkContext
        try:
            sc.parallelize(range(10), 4).count()  # outside the span
            start = time.time()
            assert sc.parallelize(range(100), 3).count() == 100
            assert len(sc.parallelize(range(10), 2).collect()) == 10
            end = time.time()
        finally:
            ops.shut_down(spark)
    finally:
        if old is None:
            os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
        else:
            os.environ["PYSPARK_SUBMIT_ARGS"] = old
    r = EventLog.read(log_dir).rollup(start, end, cores=2)
    assert (r["jobs"], r["tasks"]) == (2, 5)
    assert len(EventLog.read(log_dir).jobs) == 3
