"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_monthly --seed 1 --seconds 20 --trace 0

Builds the program and the benchmark from source (once per source state,
into .bench_build/ at the repository root), generates the workload's
inputs from the seed, runs one benchmark process on them and prints its
result as the last line of standard output:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
Every run works in its own directory under .bench_build/runs/, removed
when the run ends. See perfbench/README.md.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "perfbench", "classes")
WORKLOADS = ["etl_monthly", "corpus_curation"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jars the project builds against: $SPARK_HOME/jars, else
    the `unmanagedBase` directory named in the project's build.sbt."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            candidates.append(m.group(1))
    for c in candidates:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    fail("no Spark jars found (set SPARK_HOME)")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        fail(f"program sources not found under {os.path.relpath(main, os.getcwd())}")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return files


def build(jars):
    """Compile the program's main sources and the benchmark's into one
    class directory, unless a build of the same sources is already there."""
    files = sources()
    stamp = hashlib.sha256()
    for f in files:
        stamp.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            stamp.update(hashlib.sha256(fh.read()).digest())
    stamp.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = stamp.hexdigest()
    os.makedirs(os.path.dirname(CLASSES), exist_ok=True)
    stamp_file = os.path.join(os.path.dirname(CLASSES), "stamp")
    with open(os.path.join(os.path.dirname(CLASSES), "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp_file):
            with open(stamp_file) as fh:
                if fh.read() == stamp:
                    return
        tmp = CLASSES + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(os.path.dirname(CLASSES), "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(files))
        cp = os.path.join(jars, "*")
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
        print("[perfbench] compiling program and benchmark", file=sys.stderr)
        r = subprocess.run(cmd, stdout=sys.stderr, timeout=BUILD_TIMEOUT_S)
        if r.returncode != 0:
            fail("compilation failed")
        shutil.rmtree(CLASSES, ignore_errors=True)
        os.rename(tmp, CLASSES)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)


def run_jvm(args, jars, run_dir, inputs, gen_seconds, trace):
    """The benchmark process on the generated inputs; returns its report
    lines and its parsed result."""
    os.makedirs(os.path.join(run_dir, "tmp"))
    cpus = min(4, len(os.sched_getaffinity(0)))
    opens = [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    trace_out = os.path.join(BUILD, "traces", f"{args.workload}-{args.seed}.jsonl")
    os.makedirs(os.path.dirname(trace_out), exist_ok=True)
    # a fixed heap and young generation keep the peak resident set a
    # function of the work, not of the collector's heap-sizing timing
    cmd = ["java", *opens, "-Xms2g", "-Xmx2g", "-Xmn512m", "-Xss4m",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", os.pathsep.join([CLASSES, os.path.join(jars, "*")]),
           "graft.perfbench.Main",
           "--workload", args.workload, "--trace", str(trace),
           "--inputs", inputs, "--run-dir", run_dir, "--cpus", str(cpus),
           "--launched-at", repr(time.time()), "--gen-seconds", repr(gen_seconds),
           "--python", sys.executable,
           "--oracle", os.path.join(HERE, "oracle.py"), "--trace-out", trace_out,
           "--corrupt-oracle", "1" if args.corrupt_oracle else "0"]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
               SPARK_GRAFT_WAREHOUSE_DIR=os.path.join(run_dir, "layouts"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, cwd=run_dir,
                            start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"benchmark process exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if proc.returncode != 0:
        fail(f"benchmark process exited with {proc.returncode}")
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines:
        fail("benchmark process printed no result")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    return lines[:-1], result


def main(argv):
    p = argparse.ArgumentParser(description="Run one benchmark workload.")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--corrupt-oracle", action="store_true",
                   help="spoil every expected result, to show the output checks can fail")
    args = p.parse_args(argv)
    # a terminated run still stops its benchmark process and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    jars = spark_jars()
    build(jars)

    sys.path.insert(0, HERE)
    import gen

    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        t0 = time.time()
        inputs = os.path.join(run_dir, "inputs")
        gen.generate(args.workload, args.seed, args.seconds, inputs)
        gen_seconds = time.time() - t0
        report, result = run_jvm(args, jars, os.path.join(run_dir, "jvm"), inputs, gen_seconds, args.trace)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for line in report:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main(sys.argv[1:])
