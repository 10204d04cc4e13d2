"""Untraced baseline for the traced run, in a fresh process.

Runs the same ``ops.set_up`` and ``ops.warm_up`` as the measuring process
(imports, session start, checked warm-up calls), then ``--rounds``
untraced rounds of every kind, then stops the session and its JVM.  Prints
one JSON object with the set-up timings and the walls; ``run.py`` compares
them with its traced walls to report the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

import ops


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--data", required=True, help="generated input directory")
    ap.add_argument("--rounds", type=int, required=True, help="untraced timed rounds after set-up")
    args = ap.parse_args(argv)
    inp = ops.Inputs(Path(args.data))
    prog, spark, timings, failures = ops.set_up(inp)
    walls = {k: [] for k in ops.KINDS}
    try:
        failures += ops.warm_up(prog, spark, inp)
        for _ in range(args.rounds):
            for kind in ops.KINDS:
                res = ops.timed_op(prog, spark, kind, inp)
                walls[kind].append(res.wall)
                if res.err is not None:
                    failures.append(f"{kind}: {res.err}")
    finally:
        ops.shut_down(spark)
    attempted = len(ops.KINDS) * (1 + args.rounds) + ops.WARM_OPS
    json.dump({"timings": timings, "attempted": attempted, "failures": failures, "walls": walls}, sys.stdout)
    print()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
