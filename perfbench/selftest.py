"""Benchmark self-test (``python3 perfbench/run.py --selftest``, from the
repository root): runs each workload once at its smallest size with one
warm iteration, and checks that

- every metric ``BENCHMARK.json`` names is emitted, with its unit, and
  no other;
- every per-layer value of the traced run is >= 0, except
  ``trace_overhead_s``, which is a difference of two wall times;
- a clean run is reported correct, and a run whose recorded digests are
  wrong reports every iteration as failed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
#: (arguments, metric kind, expected to pass)
CASES = (
    (("--workload", "cli_sinks", "--trace", "0"), "end_to_end", True),
    (("--workload", "cli_sinks", "--trace", "1"), "per_layer", True),
    (("--workload", "e2e_x1", "--trace", "1", "--corrupt-expected"),
     "per_layer", False),
)
SIGNED = {"trace_overhead_s"}


def _run(args) -> dict:
    proc = subprocess.run(
        [sys.executable, RUN, *args, "--seed", "1", "--seconds", "0",
         "--smoke"], capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        raise RuntimeError(f"{args} exited {proc.returncode}:\n"
                           f"{proc.stderr[-3000:]}")
    for line in proc.stderr.splitlines():
        if line.startswith("[perfbench"):
            print("   ", line, file=sys.stderr)
    return json.loads(proc.stdout.strip().splitlines()[-1])


def selftest() -> int:
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    for args, kind, should_pass in CASES:
        before = len(problems)
        out = _run(args)
        want = {m["name"]: m["unit"] for m in bench[kind]}
        got = {k: v["unit"] for k, v in out["metrics"].items()}
        if got != want:
            problems.append(f"{args}: metrics differ: missing "
                            f"{sorted(set(want) - set(got))}, extra "
                            f"{sorted(set(got) - set(want))}, units "
                            f"{[k for k in want if got.get(k, want[k]) != want[k]]}")
        if kind == "per_layer":
            neg = [k for k, v in out["metrics"].items()
                   if v["value"] < 0 and k not in SIGNED]
            if neg:
                problems.append(f"{args}: negative per-layer values {neg}")
        ok = (out["correct"] and out["failed"] == 0) if should_pass else (
            not out["correct"] and out["failed"] == out["attempted"] >= 1)
        if not ok:
            problems.append(f"{args}: correct={out['correct']} "
                            f"attempted={out['attempted']} "
                            f"failed={out['failed']}")
        print(f"{'FAIL' if len(problems) > before else 'ok'} "
              f"{' '.join(args)}",
              file=sys.stderr, flush=True)
    for p in problems:
        print(p, file=sys.stderr)
    return 1 if problems else 0
