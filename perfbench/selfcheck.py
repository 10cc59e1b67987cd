"""Self-checks of the benchmark itself, on tiny inputs.

    python3 perfbench/selfcheck.py

Runs every workload end to end with ``--tiny``, untraced and traced, and
fails unless each run is correct, emits exactly the metrics that
BENCHMARK.json names with their units, prints every end-to-end metric
with its sample count, and, traced, charges Spark jobs and executor CPU
time to every layer that works on the workload.  Then runs once with
``--inject-wrong`` and fails unless the corrupted result is counted as
a failure.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]
from workloads import BUSY_LAYERS  # noqa: E402


def run(workload: str, trace: int, *extra: str) -> tuple[list[str], dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", str(trace), "--tiny", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.exit(f"FAIL {' '.join(cmd[1:])}: exit {p.returncode}\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []
    for w in (x["name"] for x in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            lines, res = run(w, trace)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{w} trace={trace}: metrics differ: "
                                f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
                                f"unit mismatch {sorted(k for k in want.keys() & got.keys() if want[k] != got[k])}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{w} trace={trace}: not correct: {res['attempted']} attempted, {res['failed']} failed")
            if trace == 1:
                for layer in BUSY_LAYERS[w]:
                    for c in ("jobs", "cpu_ms"):
                        if not res["metrics"].get(f"{layer}.{c}", {}).get("value"):
                            problems.append(f"{w} trace=1: {layer}.{c} is 0")
            if trace == 0:
                for name, unit in want.items():
                    if not any(re.fullmatch(rf"metric {re.escape(name)} = \S+ {re.escape(unit)} \(n=\d+\)", ln)
                               for ln in lines):
                        problems.append(f"{w}: no '{name}' line with unit and sample count")
            print(f"{w} trace={trace}: {res['attempted']} ops checked", flush=True)
    _, res = run(spec["workloads"][0]["name"], 0, "--inject-wrong")
    if res["failed"] < 1 or res["correct"]:
        problems.append("an injected wrong result was not counted as a failure")
    if problems:
        sys.exit("selfcheck FAILED:\n  " + "\n  ".join(problems))
    print("selfcheck ok")


if __name__ == "__main__":
    main()
