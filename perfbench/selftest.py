"""Smoke self-test of the benchmark: runs each workload the harness
defines (or those named) once at sf0.001 with tracing on and every query
of the workload, and checks that every metric BENCHMARK.json names is
printed with its unit and that no query failed or gave a wrong result.

    python3 perfbench/selftest.py [workload ...]

Exits 0 when every workload passes.  Takes a few minutes per workload.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check_workload(name: str, spec: dict) -> list[str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
           "--seed", "0", "--seconds", "1", "--trace", "1", "--sf", "0.001",
           "--all-queries"]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=1800)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        return [f"exit {r.returncode}: {r.stderr.strip()[-2000:]}"]
    problems = []
    result = json.loads(lines[-1])
    printed = {ln.split(" = ", 1)[0] for ln in lines[:-1] if " = " in ln}
    for m in spec["end_to_end"]:
        if m["name"] not in printed:
            problems.append(f"end-to-end metric {m['name']} not printed")
    for m in spec["per_layer"]:
        got = result["metrics"].get(m["name"])
        if got is None or m["name"] not in printed:
            problems.append(f"per-layer metric {m['name']} not printed")
        elif got["unit"] != m["unit"]:
            problems.append(f"{m['name']}: unit {got['unit']} != {m['unit']}")
    if "fail_frac" not in printed:
        problems.append("fail_frac not printed")
    if result["failed"] or not result["correct"]:
        problems += [ln for ln in lines if ln.startswith(("fail_frac", "FAIL"))]
    return problems


def main(argv: list[str]) -> int:
    from run import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = argv or list(WORKLOADS)
    bad = 0
    for name in names:
        problems = check_workload(name, spec)
        print(f"{'ok  ' if not problems else 'FAIL'} {name}")
        for p in problems:
            print(f"     {p}")
        bad += bool(problems)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
