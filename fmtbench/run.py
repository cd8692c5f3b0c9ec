#!/usr/bin/env python3
"""Table-format benchmark for graft: one workload per run, in a fresh JVM.

Usage, from the repository root:

    python3 fmtbench/run.py --workload ingest --seed 1 --seconds 25 --trace 0

The first run builds into .bench_build/fmtbench/<source hash>/: it
compiles the repository's main sources together with the harness under
fmtbench/src (plain scalac from the Spark distribution in
$SPARK_HOME/jars) into one jar, then runs every workload briefly once
and dumps a class-data-sharing archive of the classes they loaded, which
halves JVM and Spark start-up in the measured runs. Later runs reuse the
build while no source file changes.

The last line of stdout is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`. `--trace 0` reports the end-to-end
metrics; `--trace 1` turns on spans and listeners and reports the
per-layer metrics, and writes the full trace (spans, per-layer self
time, every layer metric) to .bench_build/fmtbench/traces/. A traced
run first makes an untraced run of the same seed; the difference of
their end-to-end figures is the tracing overhead.
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
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
MAIN_RES = os.path.join(ROOT, "src", "main", "resources")
HARNESS_SRC = os.path.join(HERE, "src")
BUILD_ROOT = os.path.join(ROOT, ".bench_build", "fmtbench")
WORKLOADS = ("ingest", "analytics", "cdc_upsert")
# Spark local[N]: the harness is a one-client closed loop, so N only
# sizes task parallelism; 4 keeps runs comparable on a 4-core host.
CORES = 4
JVM_HEAP = "3g"
# all measured JVMs of one invocation (two when tracing) end within this
RUN_TIMEOUT_S = 172
BUILD_TIMEOUT_S = 700

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"fmtbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("SPARK_HOME must point at a Spark 4 distribution (its jars/ is the classpath)")
    return os.path.join(home, "jars")


def sources():
    if not os.path.isdir(os.path.join(MAIN_SRC, "graft")):
        fail(f"no graft sources under {MAIN_SRC}: run from a repository checkout")
    files = sorted(glob.glob(os.path.join(MAIN_SRC, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HARNESS_SRC, "**", "*.scala"), recursive=True))
    return files


def classpath(jars, app_jar):
    # explicit and sorted: the class-data archive is only valid for the
    # exact class path it was dumped with
    return os.pathsep.join([app_jar] + sorted(glob.glob(os.path.join(jars, "*.jar"))))


def jvm_cmd(jars, build_dir, extra, main_args, work):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work}",
             f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false"] + opens + extra +
            ["-cp", classpath(jars, os.path.join(build_dir, "app.jar")), "fmtbench.Main"] +
            main_args + ["--cores", str(CORES), "--work", work])


def build(jars):
    """Compile, package and train once per source hash; return the build dir."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(BUILD_ROOT, h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "ok")):
        return out
    # one build at a time: drop builds of other source states
    for old in glob.glob(os.path.join(BUILD_ROOT, "*", "sources.txt")):
        shutil.rmtree(os.path.dirname(old), ignore_errors=True)
    os.makedirs(classes)
    compiler_cp = os.pathsep.join(
        glob.glob(os.path.join(jars, f"scala-{m}-2.13*.jar"))[0]
        for m in ("compiler", "library", "reflect"))
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xmx2g", "-Xss8m", f"-Djava.io.tmpdir={out}", "-cp", compiler_cp,
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp",
           "-cp", os.path.join(jars, "*"), "-d", classes, "@" + argfile]
    t0 = time.time()
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=BUILD_TIMEOUT_S, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        fail("compile failed")
    with zipfile.ZipFile(os.path.join(out, "app.jar"), "w", zipfile.ZIP_STORED) as z:
        for base in (classes, MAIN_RES):
            for d, _, names in sorted(os.walk(base)):
                for n in sorted(names):
                    p = os.path.join(d, n)
                    z.write(p, os.path.relpath(p, base))
    shutil.rmtree(classes)
    work = os.path.join(out, "train")
    os.makedirs(work)
    cmd = jvm_cmd(jars, out, [f"-XX:ArchiveClassesAtExit={os.path.join(out, 'app.jsa')}"],
                  ["--workload", "train", "--seed", "1", "--seconds", "1", "--trace", "0",
                   "--out", os.path.join(work, "result.json"), "--trace-dir", work], work)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=BUILD_TIMEOUT_S, text=True)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(os.path.join(out, "app.jsa")):
        sys.stderr.write(r.stdout[-8000:])
        fail("training run failed")
    with open(os.path.join(out, "ok"), "w") as fh:
        fh.write(f"{time.time() - t0:.1f}\n")
    print(f"fmtbench: built {len(files)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return out


def run_jvm(jars, build_dir, args, trace, deadline):
    """One measured run in a fresh JVM; returns its result document."""
    work = os.path.join(BUILD_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result = os.path.join(work, "result.json")
    trace_dir = os.path.join(BUILD_ROOT, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    cmd = jvm_cmd(jars, build_dir, [f"-XX:SharedArchiveFile={os.path.join(build_dir, 'app.jsa')}"],
                  ["--workload", args.workload, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(trace),
                   "--out", result, "--trace-dir", trace_dir], work)
    log = os.path.join(work, "jvm.log")
    try:
        with open(log, "w") as lf:
            p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
            try:
                rc = p.wait(timeout=max(1.0, deadline - time.time()))
            except subprocess.TimeoutExpired:
                rc = None
            finally:
                # also on SIGTERM: never leave the JVM behind
                if p.poll() is None:
                    p.kill()
                    p.wait()
        if rc != 0 or not os.path.exists(result):
            with open(log, errors="replace") as lf:
                sys.stderr.write(lf.read()[-6000:])
            fail(f"benchmark JVM exited with {rc if rc is not None else 'a timeout'}")
        with open(result) as fh:
            return json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.seconds < 1:
        fail("--seconds must be at least 1")

    jars = spark_jars()
    build_dir = build(jars)
    deadline = time.time() + RUN_TIMEOUT_S
    if args.trace:
        # the reference for the tracing overhead: the same seed and build, untraced
        base = run_jvm(jars, build_dir, args, 0, deadline)["e2e"]
    res = run_jvm(jars, build_dir, args, args.trace, deadline)

    for line in res.get("report", []):
        print(line)
    if args.trace:
        over = {k: res["e2e"][k] - base[k] for k in res["e2e"] if k in base}
        print(f"  tracing overhead (traced minus untraced run of seed {args.seed}):")
        for k in sorted(over):
            print(f"    {k:<14} {over[k]:+.4f} ({over[k] / base[k] * 100 if base[k] else 0:+.1f}%)")
        trace_file = os.path.join(BUILD_ROOT, "traces", f"{args.workload}-seed{args.seed}.json")
        with open(trace_file) as fh:
            doc = json.load(fh)
        doc["tracing_overhead"] = {"untraced_e2e": base,
                                   "traced_minus_untraced": over}
        with open(trace_file, "w") as fh:
            json.dump(doc, fh)
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
