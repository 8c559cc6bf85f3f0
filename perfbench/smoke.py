"""Smoke run of the benchmark itself.

    python3 perfbench/smoke.py

Runs one operation per workload at sf0.001, untraced and traced, and
checks that every metric is printed with its unit, that the result
object lists exactly the metrics ``BENCHMARK.json`` declares, that no
operation failed, and that the traced run's layer job time plus driver
gap is within 10% of operation wall.  Exits 0 when all checks pass.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import (ADDITIVE_HI, ADDITIVE_LO, E2E_EXTRA_UNITS,  # noqa: E402
                 E2E_UNITS, LAYER_UNITS)


def smoke(workload: str, trace: int, spec: dict) -> list[str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    where = f"{workload} --trace {trace}"
    if proc.returncode != 0:
        return [f"{where}: exit {proc.returncode}\n{proc.stderr[-2000:]}"]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    problems = []
    if result["failed"] != 0 or not result["correct"]:
        problems.append(f"{where}: {result['failed']} of "
                        f"{result['attempted']} operations failed")
    want = {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        problems.append(f"{where}: result metrics {got} != declared {want}")
    printed = E2E_UNITS | E2E_EXTRA_UNITS
    text = "\n".join(lines[:-1])
    for name, unit in printed.items():
        if not re.search(rf"^{re.escape(name)}\s+\S+\s+{re.escape(unit)}\b",
                         text, re.M):
            problems.append(f"{where}: '{name}' not printed with '{unit}'")
    if not re.search(r"^failed_share\s+0\s", text, re.M):
        problems.append(f"{where}: failed_share is not 0")
    if trace:
        rows = [json.loads(x) for x in lines[:-1] if x.startswith("{")]
        layer = [r for r in rows if r.get("row") == "workload"]
        if not layer or set(layer[0]["metrics"]) != set(LAYER_UNITS):
            problems.append(f"{where}: workload row lacks layer metrics")
        elif not ADDITIVE_LO <= layer[0]["jobs_plus_gap_share"] <= ADDITIVE_HI:
            problems.append(
                f"{where}: jobs_plus_gap_share "
                f"{layer[0]['jobs_plus_gap_share']:.3f} is outside "
                f"{ADDITIVE_LO}-{ADDITIVE_HI}")
    return problems


def committed_additivity(workload: str) -> list[str]:
    """The committed traced run of a workload must be additive too."""
    path = os.path.join(HERE, "traced", f"{workload}.jsonl")
    with open(path, encoding="utf-8") as fh:
        rows = [json.loads(line) for line in fh]
    share = [r for r in rows if r.get("row") == "workload"][0][
        "jobs_plus_gap_share"]
    if ADDITIVE_LO <= share <= ADDITIVE_HI:
        return []
    return [f"{path}: jobs_plus_gap_share {share:.3f} is outside "
            f"{ADDITIVE_LO}-{ADDITIVE_HI}"]


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    problems = []
    for w in spec["workloads"]:
        for trace in (0, 1):
            problems += smoke(w["name"], trace, spec)
        problems += committed_additivity(w["name"])
    for p in problems:
        print(p)
    print("smoke ok" if not problems else f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
