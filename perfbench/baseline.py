#!/usr/bin/env python3
"""Record a per-layer baseline: for each workload, one untraced and one
traced run with the same seed, then write into perfbench/baseline/:

  <workload>.traced.json    the traced run's full result (per-layer table,
                            self time per span name, phase breakdowns)
  <workload>.untraced.json  the untraced run's full result
  <workload>.spans.jsonl    the traced run's spans
  LAYERS.md                 per-layer tables, tracing overhead, and the
                            construct/plan/execute split of sampled ops

    python3 perfbench/baseline.py [--seed 1] [--seconds 5] [workload ...]
"""
import argparse
import json
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
OUT = HERE / "baseline"
ALL = ["triple_serve", "analytics_sweep", "triple_ingest"]


def run(workload, seed, seconds, trace, dest):
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace), "--trace-out", str(dest)]
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL)
    return json.loads((dest / f"{workload}.result.json").read_text())


def fmt(v):
    return f"{v:.6g}" if isinstance(v, (int, float)) else str(v)


def section(w, untraced, traced):
    lines = [f"## {w}", "",
             f"cores {traced['cores']}, spark {json.dumps(traced['spark'])}, seed {traced['seed']}, "
             f"attempted {traced['attempted']}, failed {traced['failed']} (traced run)", "",
             "### Tracing overhead (traced minus untraced, same seed)", "",
             "| metric | untraced | traced | traced - untraced | share |", "|---|---|---|---|---|"]
    for k, m in sorted(untraced["report"].items()):
        t = traced["report"].get(k)
        if t is None or not isinstance(m["value"], (int, float)):
            continue
        d = t["value"] - m["value"]
        share = d / m["value"] if m["value"] else 0.0
        lines.append(f"| {k} ({m['unit']}) | {fmt(m['value'])} | {fmt(t['value'])} | {fmt(d)} | {share:+.1%} |")
    lines += ["", "### Self time by span (measured ops of the traced run)", "",
              "| span | self ms | total ms | spans |", "|---|---|---|---|"]
    for k, v in sorted(traced["layer_self_ms"].items(), key=lambda kv: -kv[1]["self_ms"]):
        lines.append(f"| {k} | {v['self_ms']:.1f} | {v['total_ms']:.1f} | {v['spans']} |")
    pl = {k: m["value"] for k, m in traced["per_layer"].items()}
    cpu = pl["jvm.cpu_s"]
    parts = [("Spark tasks (`exec.task_cpu_s`)", pl["exec.task_cpu_s"]),
             ("JIT compilation (`jvm.jit_s`)", pl["jvm.jit_s"]),
             ("GC (`exec.gc_s`)", pl["exec.gc_s"])]
    parts.append(("the rest: driver-side construct, plan and codegen, and the harness",
                  cpu - sum(v for _, v in parts)))
    lines += ["", "### Where the window's process CPU goes (traced run)", "",
              f"Process CPU time of all threads in the measured window: {cpu:.1f} s. The JIT "
              "and GC figures are the compile and collection times the JVM reports, not CPU "
              "time proper, so the rest is approximate.", "",
              "| part | CPU s | share |", "|---|---|---|"]
    for name, v in parts:
        lines.append(f"| {name} | {v:.1f} | {v / cpu if cpu else 0.0:.0%} |")
    lines += ["", "### Per-layer metrics", "", "| metric | value | unit |", "|---|---|---|"]
    for k, m in traced["per_layer"].items():
        lines.append(f"| {k} | {fmt(m['value'])} | {m['unit']} |")
    lines += ["", "### Phase split of the first measured op of each kind", "",
              "construct + plan + execute durations against the op span; `op_self_ms` is "
              "what the phases leave out. `spark_jobs_ms` is the Spark job time inside the phases "
              "(the `exec` layer); each phase's self time excludes it.", "",
              "| kind | op ms | construct | plan | execute | sum | op_self | construct self | plan self | execute self | jobs |",
              "|---|---|---|---|---|---|---|---|---|---|---|"]
    for s in traced["samples"]:
        lines.append("| " + " | ".join(fmt(s[k]) for k in (
            "kind", "op_ms", "construct_ms", "plan_ms", "execute_ms", "phases_sum_ms", "op_self_ms",
            "construct_self_ms", "plan_self_ms", "execute_self_ms", "spark_jobs_ms")) + " |")
    return lines + [""]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("workloads", nargs="*", default=ALL)
    args = ap.parse_args()
    OUT.mkdir(exist_ok=True)
    doc = ["# First per-layer baseline", "",
           f"`python3 perfbench/baseline.py --seed {args.seed} --seconds {args.seconds:g}`: "
           "one untraced and one traced run per workload, same seed, same host. "
           "Per-layer numbers come only from the traced run.", ""]
    for w in args.workloads:
        with tempfile.TemporaryDirectory() as tmp:
            untraced = run(w, args.seed, args.seconds, 0, Path(tmp))
        traced = run(w, args.seed, args.seconds, 1, OUT)
        (OUT / f"{w}.result.json").rename(OUT / f"{w}.traced.json")
        (OUT / f"{w}.untraced.json").write_text(json.dumps(untraced, indent=1) + "\n")
        doc += section(w, untraced, traced)
    (OUT / "LAYERS.md").write_text("\n".join(doc))


if __name__ == "__main__":
    main()
