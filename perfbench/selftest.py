"""Self-test of the benchmark at toy scale.

Run from the repository root:

    python3 perfbench/selftest.py

It runs ``perfbench/run.py --scale toy`` for every workload of
BENCHMARK.json, untraced and traced, and checks that each run passes its
correctness gate and prints exactly the metrics BENCHMARK.json names,
with their units. Then it runs each replay workload with ``--tamper``
(one row dropped from the engine's state before the check) and checks
that the run reports a failure. Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(workload: str, trace: int, tamper: bool = False) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "2", "--trace", str(trace), "--scale", "toy"]
    if tamper:
        cmd.append("--tamper")
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise AssertionError(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(lines[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    expected = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
                1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    problems = []
    for w in (w["name"] for w in bench["workloads"]):
        for trace in (0, 1):
            r = _run(w, trace)
            got = {k: m["unit"] for k, m in r["metrics"].items()}
            if set(r) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{w} trace={trace}: result keys {sorted(r)}")
            if got != expected[trace]:
                problems.append(f"{w} trace={trace}: metrics {got} != {expected[trace]}")
            if not (r["correct"] and r["failed"] == 0 and r["attempted"] >= 1):
                problems.append(f"{w} trace={trace}: not a clean pass {r}")
            print(f"{w} trace={trace}: {len(got)} metrics, correct={r['correct']}")
    for w in ("replay_trickle", "replay_bulk"):
        r = _run(w, 0, tamper=True)
        if r["correct"] or r["failed"] < 1:
            problems.append(f"{w} --tamper: a dropped row was not reported {r}")
        print(f"{w} --tamper: correct={r['correct']} failed={r['failed']}")
    for p in problems:
        print("FAIL", p)
    print("selftest:", "FAIL" if problems else "OK")
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
