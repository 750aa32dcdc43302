"""Tiny-input self-check of the benchmark.

    python3 perfbench/selfcheck.py [workload ...]

Runs every workload on sf0.001-sized inputs, untraced and traced, for one
second each, and fails unless every op passed its output check and the
result line names exactly the metrics BENCHMARK.json declares. Takes a few
minutes (two Spark start-ups per workload).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check(workload: str, trace: int, spec: dict) -> list[str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--scale", "tiny"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return [f"exit {proc.returncode}: {proc.stderr[-2000:]}"]
    res = json.loads(lines[-1])
    problems = []
    if not res["correct"] or res["failed"] or res["attempted"] < 1:
        problems.append(f"correct={res['correct']} failed={res['failed']} attempted={res['attempted']}")
    declared = spec["per_layer" if trace else "end_to_end"]
    for m in declared:
        got = res["metrics"].get(m["name"])
        if got is None or got["unit"] != m["unit"]:
            problems.append(f"metric {m['name']} missing or unit differs: {got}")
    extra = set(res["metrics"]) - {m["name"] for m in declared}
    if extra:
        problems.append(f"undeclared metrics {sorted(extra)}")
    return problems


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = argv or ["analytic_queries", "etl_curation"]
    bad = 0
    for w in names:
        for trace in (0, 1):
            problems = check(w, trace, spec)
            print(f"{w} trace={trace}: {'ok' if not problems else 'FAIL'}")
            for p in problems:
                print(f"  {p}")
            bad += bool(problems)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
