#!/usr/bin/env python3
"""Self-test of the benchmark itself, on tiny inputs.

    python3 perfbench/selftest.py

For each workload it runs one untraced and one traced run with a small
--scale and one deliberately wrong expected answer (--corrupt 1), and
fails unless:
  * the last output line is the result object with its four keys;
  * every metric BENCHMARK.json names for that mode is present, numeric,
    and carries the unit BENCHMARK.json declares;
  * exactly one op failed -- the planted one -- and the printed
    failed_ratio is above zero.
Takes a few minutes (one JVM per run).
"""
import json
import re
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
TINY = {
    "triple_serve": ["--scale", "0.05"],
    "triple_ingest": ["--scale", "0.1"],
    "analytics_sweep": ["--queries", "stats_mann_kendall,text_bm25_topk"],
}


def run(workload, trace):
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace), "--corrupt", "1"]
    proc = subprocess.run(cmd + TINY[workload], cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    return proc.returncode, proc.stdout, proc.stderr


def check(workload, trace):
    errors = []
    rc, out, err = run(workload, trace)
    lines = out.strip().splitlines()
    if rc != 0 or not lines:
        return [f"exit {rc}: {err[-2000:]}"]
    res = json.loads(lines[-1])
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"result keys {sorted(res)}")
    declared = SPEC["per_layer" if trace else "end_to_end"]
    if workload in {w["name"] for w in SPEC["workloads"]}:
        for m in declared:
            got = res["metrics"].get(m["name"])
            if got is None:
                errors.append(f"metric {m['name']} missing")
            elif not isinstance(got.get("value"), (int, float)) or got.get("unit") != m["unit"]:
                errors.append(f"metric {m['name']} = {got}, declared unit {m['unit']}")
    if res["failed"] != 1 or res["correct"]:
        errors.append(f"planted wrong answer counted as {res['failed']} failures")
    ratio = [l for l in lines if re.match(rf"{workload}\s+failed_ratio\s", l)]
    if not ratio or float(ratio[0].split()[2]) <= 0:
        errors.append(f"failed_ratio not above zero: {ratio}")
    return errors


def main():
    names = sys.argv[1:] or list(TINY)
    bad = 0
    for w in names:
        for trace in (0, 1):
            errors = check(w, trace)
            print(f"{'FAIL' if errors else 'ok  '} {w} trace={trace}", flush=True)
            for e in errors:
                print(f"     {e}")
            bad += bool(errors)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
