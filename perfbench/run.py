#!/usr/bin/env python3
"""Benchmark runner for the degdb Spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json for why each exists):
  triple_serve     TripleStore/Engine read path, closed loop of 2 clients
  triple_ingest    insert / insertSigned / compact / sync / syncFromSliced
  analytics_sweep  registry queries over the bundled corpus, DuckDB-checked
  all              the three above, one after another (a summary, not a gate)

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt into .bench_build/ (later runs reuse the
build while no source changed). Each run starts one JVM with Spark in
local mode on every available core, prints each workload metric with its
unit, and ends with one JSON line: {"correct", "attempted", "failed",
"metrics"}; with --trace 0 the metrics are the end-to-end metrics, with
--trace 1 the per-layer metrics of a traced run.

Extra options: --scale (input size factor, default 1), --corrupt 1 (plant
one wrong expected answer; the self-test uses it), --queries a,b (sweep
subset), --trace-out DIR (keep the traced run's
result and spans).
"""
import argparse
import fcntl
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
CORPUS = HERE / "corpus" / "sf0.01"
SPEC = ROOT / "BENCHMARK.json"
# the gated workloads are BENCHMARK.json's; triple_ingest runs on request only
WORKLOADS = ["triple_serve", "analytics_sweep", "triple_ingest"]
JVM_TIMEOUT_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build: engine sources, harness sources, build files."""
    h = hashlib.sha256()
    inputs = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
              HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in [ROOT / "src" / "main", HERE / "src"]:
        inputs += sorted(p for p in d.rglob("*") if p.is_file())
    for p in inputs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def classpath():
    """Build with sbt when the sources changed; return the runtime classpath."""
    missing = [p for p in (ROOT / "build.sbt", ROOT / "src" / "main") if not p.exists()]
    if missing:
        sys.exit(f"perfbench: not a checkout of the engine (missing {missing[0].name}); "
                 "run from the repository root")
    BUILD.mkdir(exist_ok=True)
    with open(BUILD / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp.txt"
        if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
            return cp_file.read_text()
        log("building engine and harness with sbt")
        t0 = time.time()
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=850, stdin=subprocess.DEVNULL)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
            sys.stderr.write(proc.stdout[-4000:])
            sys.exit("perfbench: build failed")
        cp_file.write_text(lines[-1].strip())
        stamp_file.write_text(stamp)
        log(f"build done in {time.time() - t0:.0f} s")
        return lines[-1].strip()


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(args, workload, work):
    cp = classpath()
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") if os.environ.get("JAVA_HOME") else "java"
    # a fixed set of JIT compiler threads: with the default, the JVM starts
    # and retires compiler threads as its compile queue grows and drains,
    # so how much compiling lands in the measured window depends on timing
    cmd = [java, "-Xmx3g", "-XX:+UseG1GC", "-XX:-UseDynamicNumberOfCompilerThreads",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", str(work),
            "--scale", str(args.scale), "--corrupt", str(args.corrupt),
            "--corpus", str(CORPUS), "--cores", str(cores())]
    if args.queries:
        cmd += ["--queries", args.queries]
    with open(work / "jvm.log", "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, stdout=err, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            log(f"{workload}: JVM timed out after {JVM_TIMEOUT_S} s")
    result = work / "result.json"
    if proc.returncode != 0 or not result.exists():
        sys.stderr.write((work / "jvm.log").read_text()[-4000:])
        sys.exit(f"perfbench: {workload} run failed (exit {proc.returncode})")
    return json.loads(result.read_text())


def oracle_check(check_dir, corrupt):
    """Compare each sweep query's check-pass output with its DuckDB oracle,
    by tools/compare.py's protocol: sorted columns, sorted rows, normalised
    cells, in both the exact and the pandas reading. Returns failures."""
    import duckdb
    spec = importlib.util.spec_from_file_location("compare", ROOT / "tools" / "compare.py")
    compare = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(compare)
    oracle = json.loads((check_dir / "oracle_sql.json").read_text())
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in compare.TABLES:
        p = CORPUS / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    failures = []
    for i, (name, sql) in enumerate(sorted(oracle.items())):
        if sql is None:
            failures.append(f"{name}: no oracle SQL")
            continue
        scols, srows = compare.load_spark(check_dir / name)
        if scols is None:
            failures.append(f"{name}: no spark output")
            continue
        try:
            err = None
            for mode in (compare.oracle_exact, compare.oracle_pandas):
                ocols, orows = mode(con, sql)
                if corrupt and i == 0:
                    orows = orows[1:] if orows else [tuple("corrupt" for _ in ocols)]
                err = compare.diff(scols, srows, ocols, orows, mode.__name__)
                if err:
                    break
        except Exception as ex:  # an oracle error is a failed check, not a crash
            err = f"oracle error: {ex}"
        if err:
            failures.append(f"{name}: {err}")
    con.close()
    return len(oracle), failures


def run_workload(args, workload):
    work = BUILD / "runs" / f"{workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        res = run_jvm(args, workload, work)
        attempted, failures = res["attempted"], list(res["failures"])
        failed = res["failed"]
        if workload == "analytics_sweep":
            n, bad = oracle_check(work / "check", args.corrupt == 1)
            attempted += n
            failed += len(bad)
            failures += bad
        for f in failures:
            log(f"FAILED {workload}: {f}")
        res["report"]["failed_ratio"] = {"value": failed / max(1, attempted), "unit": "ratio"}
        if args.trace_out:
            out = Path(args.trace_out)
            out.mkdir(parents=True, exist_ok=True)
            (out / f"{workload}.result.json").write_text(json.dumps(res, indent=1) + "\n")
            if (work / "spans.jsonl").exists():
                shutil.copy(work / "spans.jsonl", out / f"{workload}.spans.jsonl")
        return res, attempted, failed
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--corrupt", type=int, choices=[0, 1], default=0)
    ap.add_argument("--queries", default="")
    ap.add_argument("--trace-out", default="")
    args = ap.parse_args()
    if not CORPUS.is_dir():
        sys.exit(f"perfbench: corpus missing at {CORPUS}")

    names = WORKLOADS if args.workload == "all" else [args.workload]
    section = "per_layer" if args.trace else "end_to_end"
    spec = json.loads(SPEC.read_text())
    gated = {w["name"] for w in spec["workloads"]}
    declared = [m["name"] for m in spec[section]]
    total_attempted = total_failed = 0
    metrics = {}
    for w in names:
        res, attempted, failed = run_workload(args, w)
        total_attempted += attempted
        total_failed += failed
        print(f"# {w}: cores={res['cores']} spark={json.dumps(res['spark'])} "
              f"attempted={attempted} failed={failed}")
        for k, m in sorted(res["report"].items()):
            print(f"{w}  {k:<28} {m['value']:>14.6g} {m['unit']}")
        # a gated workload's result line holds exactly the declared metrics
        keys = declared if w in gated else list(res[section])
        for k in keys:
            if k not in res[section]:
                sys.exit(f"perfbench: {w} did not measure {k}")
            metrics[k if len(names) == 1 else f"{w}.{k}"] = res[section][k]
    print(json.dumps({"correct": total_failed == 0, "attempted": total_attempted,
                      "failed": total_failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
