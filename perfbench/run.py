#!/usr/bin/env python3
"""Build and run one workload of the graft benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload mf_train --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test
    python3 perfbench/run.py --overhead --workload corpus_dedup --seed 1 --seconds 10

The first call compiles the engine (src/main/scala) together with the
benchmark (perfbench/src) with the Scala compiler shipped in Spark's
jars, into .bench_build/perfbench/<source hash>/. Later calls reuse it.
The last line of standard output is the result JSON; on any error the
script exits non-zero without printing one.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"

# what spark-submit would add for Spark 4 on JDK 17
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        fail("SPARK_HOME is not set; it must name a Spark 4 installation")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no scala-compiler jar under $SPARK_HOME/jars")
    return jars


def sources():
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail("engine sources src/main/scala/graft not found; "
             "run from the root of a graft checkout")
    files = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True))
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return files, h.hexdigest()[:16]


def build(jars):
    files, key = sources()
    out = os.path.join(BUILD, key)
    classes = os.path.join(out, "classes")
    if os.path.isdir(classes):
        return classes, key
    os.makedirs(BUILD, exist_ok=True)
    tmp = out + ".tmp-%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "classes"))
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    print("perfbench: compiling %d sources" % len(files), file=sys.stderr)
    t0 = time.time()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", os.path.join(tmp, "classes"), "@" + argfile]
    code = run_child(cmd, BUILD_TIMEOUT_S, stdout=sys.stderr)
    if code != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed (exit %s)" % code)
    os.rename(tmp, out)
    print("perfbench: compiled in %.1f s" % (time.time() - t0), file=sys.stderr)
    return classes, key


def run_child(cmd, timeout, stdout=None, env=None):
    """Run `cmd` in its own process group; kill the group on timeout or
    interrupt, and always wait for it to end."""
    p = subprocess.Popen(cmd, stdout=stdout, env=env, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        return -1


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def java_cmd(jars, classes, main, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", "-Xmx" + HEAP, "-Xss8m", "-Djava.io.tmpdir=" + tmp,
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
            + opens + ["-cp", classes + os.pathsep + os.path.join(jars, "*"), main]
            + args)


def run_workload(jars, classes, key, workload, seed, seconds, trace, epochs=None):
    """Run one workload; return (exit code, output lines, result line or None)."""
    work = os.path.join(BUILD, "work", "%s-%d" % (workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = dict(os.environ, PERFBENCH_GIT_COMMIT=git_commit())
    cmd = java_cmd(jars, classes, "perfbench.Main",
                   ["--workload", workload, "--seed", str(seed),
                    "--seconds", str(seconds), "--trace", str(trace),
                    "--work", work, "--source-hash", key]
                   + (["--epochs", str(epochs)] if epochs else []))
    log = os.path.join(BUILD, "last-%s.out" % workload)
    with open(log, "w") as fh:
        # the reference-config record trains for many epochs
        timeout = RUN_TIMEOUT_S + (30 * epochs if epochs else 0)
        code = run_child(cmd, timeout, stdout=fh, env=env)
    records = os.path.join(BUILD, "records")
    os.makedirs(records, exist_ok=True)
    for f in glob.glob(os.path.join(work, "records", "*.json")):
        shutil.copy(f, records)
    print("perfbench: records in " + os.path.relpath(records, ROOT), file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    with open(log) as fh:
        lines = [l.rstrip("\n") for l in fh if l.strip()]
    result = None
    if code == 0 and lines:
        try:
            obj = json.loads(lines[-1])
            if set(obj) == {"correct", "attempted", "failed", "metrics"}:
                result = lines[-1]
        except ValueError:
            pass
    return code, lines, result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--epochs", type=int,
                    help="mf_train epochs per program (default 2); for the "
                         "ungated reference-config record only")
    ap.add_argument("--self-test", action="store_true",
                    help="run the benchmark's own tests")
    ap.add_argument("--overhead", action="store_true",
                    help="run --workload untraced then traced on one seed and "
                         "print the tracing overhead per end-to-end metric")
    a = ap.parse_args()
    jars = spark_jars()
    classes, key = build(jars)
    if a.self_test:
        sys.exit(run_child(java_cmd(jars, classes, "perfbench.SelfTest",
                                    [os.path.join(ROOT, "BENCHMARK.json")]), RUN_TIMEOUT_S))
    if not a.workload:
        fail("--workload is required")
    runs = [0, 1] if a.overhead else [a.trace]
    seen = {}
    for trace in runs:
        code, lines, result = run_workload(jars, classes, key, a.workload,
                                           a.seed, a.seconds, trace, a.epochs)
        for l in lines[:-1] if result else lines:
            print(l)
        if result is None:
            fail("workload %s exited with %s and no result" % (a.workload, code))
        seen[trace] = lines
        if not a.overhead:
            print(result)
    if a.overhead:
        def e2e(lines):
            return {l.split()[1]: float(l.split()[3]) for l in lines
                    if l.startswith("metric ") and "." not in l.split()[1]}
        off, on = e2e(seen[0]), e2e(seen[1])
        for k in off:
            print("overhead %s untraced=%.4f traced=%.4f change=%+.1f%%"
                  % (k, off[k], on[k], 100.0 * (on[k] - off[k]) / off[k]))


if __name__ == "__main__":
    main()
