"""Where a benchmark run's heap goes: G1 pool peaks from a GC log.

Usage: python tools/gc_probe.py --workload NAME --seed N [--repo DIR]

Runs ``perfbench/run.py --seconds 1 --trace 0`` from ``--repo``
(default: this checkout) with the JVM's unified GC log switched on
through ``JAVA_TOOL_OPTIONS``, so the benchmark itself is untouched,
and prints one JSON object:

- ``eden_peak_mb``: the most Eden in use at the start of any GC;
- ``old_peak_mb``: the most old-generation space in use at any GC,
  humongous regions included (what the ``G1 Old Gen`` memory pool
  reports);
- ``humongous_after_young``: humongous regions left after each of the
  run's last five young GCs, which fall in the last timed pass. A
  humongous region holds one object larger than half a region, such as
  an on-heap Tungsten page;
- the run's own end-to-end metrics, under ``metrics``.

Compare two checkouts by running it once with ``--repo`` pointing at
each, on the same seed.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_REGION = re.compile(r"Heap Region Size: (\d+)M")
_PAUSE = re.compile(r"GC\((\d+)\) Pause (Young|Full)")
_POOL = re.compile(
    r"GC\((\d+)\) (Eden|Old|Humongous) regions: (\d+)->(\d+)")


def summarize(log_lines) -> dict:
    region_mb = 1
    kind: dict[int, str] = {}
    pools: dict[int, dict[str, tuple[int, int]]] = {}
    for line in log_lines:
        if m := _REGION.search(line):
            region_mb = int(m.group(1))
        elif m := _PAUSE.search(line):
            kind.setdefault(int(m.group(1)), m.group(2))
        elif m := _POOL.search(line):
            pools.setdefault(int(m.group(1)), {})[m.group(2)] = (
                int(m.group(3)), int(m.group(4)))
    gcs = sorted(pools)
    young = [g for g in gcs if kind.get(g) == "Young"]
    late = [pools[g].get("Humongous", (0, 0))[1] for g in young[-5:]]

    def old(g: int, i: int) -> int:
        return sum(pools[g].get(p, (0, 0))[i] for p in ("Old", "Humongous"))

    return {
        "region_mb": region_mb,
        "gcs": len(gcs),
        "young_gcs": len(young),
        "eden_peak_mb": region_mb * max(
            (pools[g].get("Eden", (0, 0))[0] for g in gcs), default=0),
        "old_peak_mb": region_mb * max(
            (max(old(g, 0), old(g, 1)) for g in gcs), default=0),
        "humongous_after_young": late,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--repo", default=ROOT)
    args = ap.parse_args()
    with tempfile.TemporaryDirectory() as tmp:
        # %p: Spark's launcher JVM logs too; the driver's log is largest
        env = dict(os.environ, JAVA_TOOL_OPTIONS="-Xlog:gc*:file="
                   + os.path.join(tmp, "gc-%p.log"))
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload",
             args.workload, "--seed", str(args.seed), "--seconds", "1",
             "--trace", "0"],
            cwd=args.repo, env=env, stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL, text=True, check=True)
        logs = [os.path.join(tmp, f) for f in os.listdir(tmp)]
        with open(max(logs, key=os.path.getsize)) as f:
            result = summarize(f)
    result["metrics"] = {k: v["value"] for k, v in json.loads(
        out.stdout.strip().splitlines()[-1])["metrics"].items()}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
