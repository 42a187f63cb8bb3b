#!/usr/bin/env python3
"""Benchmark of the graft engine: the batch query suite and the past-to-live
handover (max-speed backfill, replay check, live latency).

    python3 perfbench/run.py --workload batch-suite --seed 1 --seconds 30 --trace 0

Run from the repository root. The first run compiles the engine and the
benchmark (scalac from the Spark distribution's jars) into .bench_build/;
later runs reuse it while the sources are unchanged. The last line of
standard output is one JSON object: correct, attempted, failed, metrics.
--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones and writes the spans to .bench_build/trace/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("batch-suite", "live-handover")
BUILD = ".bench_build"
TABLES_SF, TABLES_SEED = 0.1, 42
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(root):
    """Every file the build reads, as sorted relative paths."""
    out = []
    for base in ("src/main", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(root, base)):
            out += [os.path.relpath(os.path.join(d, f), root) for f in files]
    return sorted(out)


def build(root, jars):
    """Compile src/main/scala plus perfbench/src; returns the classes dir."""
    files = sources(root)
    if not any(f.startswith("src/main/scala/") for f in files):
        fail("src/main/scala not found: run from the repository root")
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(os.path.join(root, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(root, BUILD, "classes")
    stamp_file = os.path.join(classes, "BUILD_STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(root, BUILD, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(os.path.join(root, f) for f in files if f.endswith(".scala")))
    t0 = time.time()
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", jars, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        fail("compile failed:\n" + r.stdout[-4000:])
    res = os.path.join(root, "src/main/resources")
    if os.path.isdir(res):
        shutil.copytree(res, tmp, dirs_exist_ok=True)
    with open(os.path.join(tmp, "BUILD_STAMP"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def tables(root):
    """The batch-suite tables (fixed seed; the run's seed orders the queries)."""
    out = os.path.join(root, BUILD, f"tables-sf{TABLES_SF}-seed{TABLES_SEED}")
    if os.path.exists(os.path.join(out, "DONE")):
        return out, 0.0
    import gen_tables
    t0 = time.time()
    shutil.rmtree(out, ignore_errors=True)
    gen_tables.write(out, TABLES_SF, TABLES_SEED)
    open(os.path.join(out, "DONE"), "w").close()
    return out, time.time() - t0


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found: run from the repository root")
    with open(spec_path) as fh:
        spec = json.load(fh)
    wanted = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]

    submit = shutil.which("spark-submit")
    spark_home = os.environ.get("SPARK_HOME") or (
        os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else "")
    jars = os.path.join(spark_home, "jars", "*")
    if not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("no Spark jars: set SPARK_HOME or put spark-submit on PATH")
    os.makedirs(os.path.join(root, BUILD), exist_ok=True)
    classes = build(root, jars)
    tables_dir, gen_s = tables(root) if args.workload == "batch-suite" else ("", 0.0)

    run_dir = os.path.join(root, BUILD, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cores = min(4, os.cpu_count() or 4)
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = ["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-Xss4m", f"-Djava.io.tmpdir={run_dir}",
           f"-Dspark.local.dir={run_dir}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{jars}", "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cores", str(cores), "--tables", tables_dir,
            "--out", run_dir, "--generate-s", repr(gen_s),
            "--expected", os.path.join(HERE, "expected_batch.json")]
    log_path = os.path.join(run_dir, "jvm.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
            try:
                code = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                code = "timeout"
        result_path = os.path.join(run_dir, "result.json")
        if code != 0 or not os.path.exists(result_path):
            with open(log_path, errors="replace") as fh:
                tail = fh.read()[-6000:]
            fail(f"benchmark JVM ended with {code}:\n{tail}")
        with open(result_path) as fh:
            res = json.load(fh)
        if args.trace:
            keep = os.path.join(root, BUILD, "trace")
            os.makedirs(keep, exist_ok=True)
            for f in ("spans.jsonl", "selftime.json"):
                shutil.copy(os.path.join(run_dir, f),
                            os.path.join(keep, f"{args.workload}-seed{args.seed}-{f}"))
    finally:
        if os.path.exists(log_path):
            shutil.copy(log_path, os.path.join(root, BUILD, f"last-{args.workload}.log"))
        shutil.rmtree(run_dir, ignore_errors=True)

    metrics, notes = res["metrics"], res["notes"]
    missing = [n for n in wanted if n not in metrics or metrics[n]["value"] is None]
    if missing:
        fail(f"metrics missing from the run: {missing}")
    # human-readable table: every metric with its unit and sample count
    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    for name, m in list(metrics.items()) + list(notes.items()):
        v = m["value"]
        print(f"{name:40s} {'null' if v is None else format(v, '.6g'):>14s} {m['unit']:8s} n={m['n']}")
    out = {"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
           "failed": int(res["failed"]),
           "metrics": {n: {"value": metrics[n]["value"], "unit": metrics[n]["unit"]} for n in wanted}}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
