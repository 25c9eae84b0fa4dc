#!/usr/bin/env python3
"""Self-test of the benchmark: every workload at tiny sizes, untraced
and traced, must print every metric named in ``BENCHMARK.json`` with
its unit and finish with no failed or wrong operation.

    python3 perfbench/smoke.py            # every workload
    python3 perfbench/smoke.py sync       # just one

Run from the repository root; takes about 3.5 minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check_run(spec: dict, workload: str, trace: int) -> list[str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    label = f"{workload} trace={trace}"
    if proc.returncode != 0:
        return [f"{label}: exit {proc.returncode}: {proc.stderr[-2000:]}"]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    errors = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{label}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] != 0 or result["attempted"] < 1:
        mismatches = [ln for ln in proc.stdout.splitlines() if ln.startswith("# mismatch")]
        errors.append(f"{label}: correct={result['correct']} failed={result['failed']} {mismatches}")
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    got = result["metrics"]
    for m in wanted:
        if m["name"] not in got:
            errors.append(f"{label}: metric {m['name']} missing")
        elif got[m["name"]]["unit"] != m["unit"]:
            errors.append(f"{label}: {m['name']} unit {got[m['name']]['unit']} != {m['unit']}")
        elif not isinstance(got[m["name"]]["value"], (int, float)):
            errors.append(f"{label}: {m['name']} value {got[m['name']]['value']!r}")
    extra = set(got) - {m["name"] for m in wanted}
    if extra:
        errors.append(f"{label}: metrics not in BENCHMARK.json: {sorted(extra)}")
    if not trace:
        for m in wanted:
            v = got.get(m["name"], {}).get("value")
            if isinstance(v, (int, float)) and v <= 0:
                errors.append(f"{label}: end-to-end metric {m['name']} = {v}")
    return errors


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = argv or [w["name"] for w in spec["workloads"]]
    errors = []
    for w in workloads:
        for trace in (0, 1):
            errs = check_run(spec, w, trace)
            print(f"{w} trace={trace}: {'ok' if not errs else 'FAIL'}", flush=True)
            errors += errs
    for e in errors:
        print(e)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
