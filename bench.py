#!/usr/bin/env python
"""Benchmark summary: run every workload declared in BENCHMARK.json once
through perfbench (seed 1, end-to-end metrics) and print, as the last
line of output, one JSON object of at most 2,000 characters::

    {"metric", "value", "unit", "pages_per_sec", "correct",
     "workloads": {name: {rows_per_s, job_s, setup_s, ops_ok_share}}}

``value`` is the sum of the workloads' median ``job_s``. Exits 1 if any
workload fails. Run from anywhere: ``python bench.py``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.abspath(__file__))
FIELDS = ("rows_per_s", "job_s", "setup_s", "ops_ok_share")


def summary_line(results: dict) -> str:
    """One compact JSON line from perfbench results keyed by workload
    name; a missing (None) or incorrect result makes ``correct`` false."""
    workloads = {name: {k: round(r["metrics"][k]["value"], 4)
                        for k in FIELDS if k in r["metrics"]} if r else {}
                 for name, r in results.items()}
    return json.dumps({
        "metric": "sum of perfbench median job_s, seed 1",
        "value": round(sum(w.get("job_s", 0.0)
                           for w in workloads.values()), 4),
        "unit": "s",
        "pages_per_sec": workloads.get("zonal_pages", {}).get("rows_per_s"),
        "correct": all(r and r["correct"] for r in results.values()),
        "workloads": workloads,
    }, separators=(",", ":"))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    results = {}
    for wl in spec["workloads"]:
        cmd = [*spec["command"], "--workload", wl["name"], "--seed", "1",
               "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                              text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        ok = proc.returncode == 0 and lines
        results[wl["name"]] = json.loads(lines[-1]) if ok else None
    line = summary_line(results)
    print("\n" + line, flush=True)
    return 0 if json.loads(line)["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
