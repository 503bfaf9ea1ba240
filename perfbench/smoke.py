"""Smoke test of the benchmark itself, at a tiny input size.

    python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json once untraced and once traced
through ``run.py`` with ``--docs`` overridden, checks that each run
exits 0, reports a correct result, and emits every metric name of its
mode with the declared unit, and prints every metric it got by name with
its unit.  Takes a few minutes (one JVM per run).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY_DOCS = {"extract_job": 200, "crawl_packs": 120}


def check_run(workload: str, trace: int, spec: dict) -> list[str]:
    cmd = spec["command"] + [
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--docs", str(TINY_DOCS[workload]),
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    where = f"{workload} trace={trace}"
    if proc.returncode != 0:
        return [f"{where}: exit {proc.returncode}: {proc.stderr[-2000:]}"]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    errors = []
    if set(out) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{where}: result keys {sorted(out)}")
    if not out.get("correct") or out.get("failed") != 0 or out.get("attempted", 0) < 1:
        errors.append(f"{where}: not correct: {out}")
    wanted = spec["per_layer" if trace else "end_to_end"]
    got = out.get("metrics", {})
    for m in wanted:
        v = got.get(m["name"])
        if v is None or v.get("unit") != m["unit"] or not isinstance(v.get("value"), float):
            errors.append(f"{where}: metric {m['name']} missing or malformed: {v}")
    extra = set(got) - {m["name"] for m in wanted}
    if extra:
        errors.append(f"{where}: metrics not in BENCHMARK.json: {sorted(extra)}")
    for name, v in got.items():
        print(f"  {where}: {name} = {v.get('value'):.6g} {v.get('unit')}")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if set(names) != set(TINY_DOCS):
        print(f"smoke: workloads {names} vs tiny sizes {sorted(TINY_DOCS)}")
        return 1
    errors = []
    for workload in names:
        for trace in (0, 1):
            errs = check_run(workload, trace, spec)
            print(f"smoke: {workload} trace={trace}: {'ok' if not errs else 'FAILED'}", flush=True)
            errors += errs
    for e in errors:
        print(e)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
