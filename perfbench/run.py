#!/usr/bin/env python3
"""Seeded end-to-end benchmark of graft.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload etl_cycle --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

Builds graft (src/main/scala) together with the benchmark's own sources
(perfbench/src) with the Scala compiler that ships in Spark's jars
directory ($SPARK_HOME/jars, or next to `spark-submit` on PATH), then
runs each workload in its own JVM with a fixed 3 GB heap and Spark
local[nproc]. Build output, generated inputs, stores and traces stay
under .bench_build/perfbench in the checkout.

The last line of standard output is one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

WORKLOADS = ["etl_cycle", "trend_query", "search_serve", "dedup_ingest"]
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
# Spark 4 on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

ROOT = os.getcwd()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark jars with a Scala compiler found; set SPARK_HOME")
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        fail(f"graft sources not found under {main}; run from the root of a graft checkout")
    files = []
    for base in (main, os.path.join(BENCH_DIR, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def build(jars):
    """Compile graft and the benchmark once per distinct source tree."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", out, "-classpath", cp, "@" + argfile]
    print(f"perfbench: compiling {len(srcs)} source files", file=sys.stderr)
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           timeout=BUILD_TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    open(os.path.join(out, ".complete"), "w").close()
    return out


def run_workload(name, args, classes, jars):
    """Runs one workload in its own JVM; returns (report lines, result dict)."""
    work = os.path.join(BUILD, "work", name)
    tmp = os.path.join(BUILD, "tmp", name)
    for d in (work, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:SoftRefLRUPolicyMSPerMB=0", "-Xss8m"] + opens + [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
        "-Dspark.ui.enabled=false",
        "-cp", classes + os.pathsep + os.path.join(jars, "*"),
        "graftbench.Main", "--workload", name, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
    ] + (["--corrupt-expected"] if args.corrupt_expected else []))
    log = os.path.join(BUILD, "logs", f"{name}.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, cwd=tmp)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"{name}: no result within {RUN_TIMEOUT_S} s (log: {log})")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    # Finish the deletes' journal and discard work now, not in the next run.
    os.sync()
    lines = out.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if proc.returncode != 0 or result is None:
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail(f"{name}: exited with {proc.returncode} and no result (log: {log})")
    return lines[:-1], result


def main():
    # A terminated run must not leave its JVM behind: turn SIGTERM into
    # SystemExit so run_workload's cleanup kills the child.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--corrupt-expected", action="store_true",
                   help="perturb one expected value per check, to show the checks fail")
    args = p.parse_args()

    jars = spark_jars()
    classes = build(jars)
    names = WORKLOADS if args.workload == "all" else [args.workload]
    results = {}
    for name in names:
        report, result = run_workload(name, args, classes, jars)
        print("\n".join(report), flush=True)
        results[name] = result
    if len(names) == 1:
        print(json.dumps(results[names[0]]))
    else:
        print(json.dumps({
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{w}.{k}": v for w, r in results.items() for k, v in r["metrics"].items()},
        }))


if __name__ == "__main__":
    main()
