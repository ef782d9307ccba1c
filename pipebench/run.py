#!/usr/bin/env python3
"""Pipeline benchmark: seeded CDC envelope batches through CdcPipeline.processBatch.

Run from the repository root:

    python3 pipebench/run.py --workload pg_hot_upsert --seed 1 --seconds 10 --trace 0

The first run compiles the program (src/main/scala) together with the
benchmark (pipebench/src) with the Scala compiler shipped in Spark's jars
directory ($SPARK_HOME/jars, else the one next to `spark-submit` on PATH)
into .bench_build/pipebench; later runs reuse the classes while the sources
are unchanged. Each run then starts one JVM, prints every metric by name with
its unit, and prints one JSON result object as its last stdout line. It exits
non-zero, without a result, when the build or the run fails, and non-zero
after printing the result when the sink's final state is wrong.

Extra flags: --workload all (every workload in turn, one result line each),
--cores N (local[N], default: CPUs available), --scale X (multiplies every
workload size; the smoke test uses a small one).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "pipebench")
WORKLOADS = ["pg_hot_upsert", "parquet_trickle", "dms_jdbc_typed", "pg_doc_admission"]
BUILD_TIMEOUT_S = 880
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit needs the module opens that
# org.apache.spark.launcher.JavaModuleOptions lists.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"pipebench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        fail("no Spark jars directory: set SPARK_HOME")
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        fail(f"no program sources under {os.path.relpath(main, ROOT)}")
    out = []
    for base in (main, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(jars):
    """Compiles program + benchmark once per source state; returns the classes dir."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classes
    os.makedirs(BUILD, exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={BUILD}",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    t0 = time.time()
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-6000:])
        fail("build failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"pipebench: built {len(srcs)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def run_jvm(args, classes, jars):
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    spans_dir = os.path.join(BUILD, "spans")
    os.makedirs(spans_dir, exist_ok=True)
    result = os.path.join(work, "result.json")
    log = os.path.join(work, "jvm.log")
    opts = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -UsePerfData: the JVM would otherwise write its perf counters under
    # the system temp directory, outside the checkout
    cmd = ["java", *opts, f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dderby.system.home={work}/derby",
           f"-Dderby.stream.error.file={work}/derby.log",
           "-Dspark.ui.enabled=false",
           f"-Dspark.local.dir={work}/local",
           "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}",
           "pipebench.PipeBench",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cores", str(args.cores), "--scale", str(args.scale),
           "--dir", os.path.join(work, "data"), "--out", result,
           "--spans", os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.jsonl"),
           "--launch-ms", str(int(time.time() * 1000))]
    with open(log, "wb") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work,
                             start_new_session=True)
        try:
            code = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = None
    out = None
    with open(log, "rb") as f:
        text = f.read().decode(errors="replace")
    if code == 0 and os.path.exists(result):
        with open(result) as f:
            out = json.load(f)
        sys.stderr.write("".join(l + "\n" for l in text.splitlines() if l.startswith("[pipebench]")))
    else:
        sys.stderr.write(text[-6000:])
        print(f"pipebench: JVM {'timed out' if code is None else f'exited {code}'}",
              file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--scale", type=float, default=1.0)
    args = ap.parse_args()
    jars = spark_jars()
    classes = build(jars)
    ok = True
    for w in WORKLOADS if args.workload == "all" else [args.workload]:
        args.workload = w
        out = run_jvm(args, classes, jars)
        if out is None:
            sys.exit(1)
        for k, m in list(out["metrics"].items()) + list(out["report"].items()):
            print(f"{w} {k} {m['value']} {m['unit']}")
        print(json.dumps({k: out[k] for k in ("correct", "attempted", "failed", "metrics")}))
        ok = ok and out["correct"]
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
