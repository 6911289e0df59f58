"""Smoke test of the benchmark command itself, on the tiny ``smoke``
input scale:

    python3 perfbench/smoke.py [workload ...]

For each workload (default: every workload ``run.py`` knows) it runs the
command once untraced and once traced, and checks that

- the last line of stdout is the result object with exactly the keys
  ``correct``, ``attempted``, ``failed`` and ``metrics``, and the run
  was correct with no failed op;
- the untraced run prints every ``end_to_end`` metric of
  ``BENCHMARK.json``, and the traced run every ``per_layer`` metric
  (which covers every listed layer), each with its unit.

Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check_run(workload: str, trace: int, expected: dict[str, str]) -> list[str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "smoke"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    where = f"{workload} --trace {trace}"
    if proc.returncode != 0:
        return [f"{where}: exit {proc.returncode}: {proc.stderr[-2000:]}"]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    problems = []
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        problems.append(f"{where}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        report = proc.stdout.strip().splitlines()[-2]
        problems.append(f"{where}: run not correct: {report[:2000]}")
    metrics = result["metrics"]
    for name, unit in expected.items():
        got = metrics.get(name)
        if got is None:
            problems.append(f"{where}: metric {name} missing")
        elif got.get("unit") != unit or not isinstance(got.get("value"), (int, float)):
            problems.append(f"{where}: metric {name} is {got}, expected unit {unit}")
    extra = sorted(set(metrics) - set(expected))
    if extra:
        problems.append(f"{where}: metrics not in BENCHMARK.json: {extra}")
    return problems


def main(argv: list[str]) -> int:
    sys.path.insert(0, HERE)
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    modes = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    problems = []
    for workload in argv or run.WORKLOAD_NAMES:
        for trace, expected in modes.items():
            found = check_run(workload, trace, expected)
            print(f"{workload} --trace {trace}: {'ok' if not found else 'FAILED'}", flush=True)
            problems += found
    for p in problems:
        print(p, file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
