#!/usr/bin/env python3
"""Benchmark entry point. Run it from the repository root:

  python3 perfbench/run.py --workload registry --seed 1 --seconds 10 --trace 0
  python3 perfbench/run.py --selftest
  python3 perfbench/run.py --dump DIR        # results + oracle SQL, see bless.py

It builds the engine and the harness from source (perfbench/build.py),
checks the committed input tables against their recorded hashes, runs
one workload in one JVM and prints the harness's result object as the
last line of stdout. The exit code is non-zero when the build, an input
check, an op or an output check failed; nothing is printed as a result
then unless the harness produced one.
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

sys.dont_write_bytecode = True  # nothing but .bench_build is written
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("registry", "scrape_cycles")
DATA = os.path.join("perfbench", "data", "sf0.01")
RUN_TIMEOUT_S = 170
HEAP = "3g"
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def check_inputs(root):
    """The committed tables must be byte-identical to the recorded ones."""
    data = os.path.join(root, DATA)
    with open(os.path.join(data, "SHA256SUMS")) as fh:
        for line in fh:
            want, name = line.split()
            with open(os.path.join(data, name), "rb") as f:
                got = hashlib.sha256(f.read()).hexdigest()
            if got != want:
                fail(f"input {name} does not match its recorded hash")


def artifacts_dir(bench, classes):
    """Persisted engine artifacts are reused across runs of one engine
    build; directories left by other builds are removed."""
    with open(os.path.join(classes, ".stamp")) as fh:
        build_id = fh.read()[:16]
    base = os.path.join(bench, "artifacts")
    os.makedirs(base, exist_ok=True)
    for d in os.listdir(base):
        if d != build_id:
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    return os.path.join(base, build_id)


def java_cmd(root, classes, jars, work, main, args):
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens + [
        f"-Xmx{HEAP}",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-Dlog4j2.configurationFile=" + os.path.join(root, "perfbench", "log4j2.properties"),
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", classes + os.pathsep + os.path.join(jars, "*"),
        main] + args)


def run_jvm(cmd, timeout):
    """Run the harness; its stdout is captured, stderr passes through."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except BaseException:
        proc.kill()
        proc.wait()
        raise
    return proc.returncode, out


def result_line(out):
    for line in reversed(out.splitlines()):
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if isinstance(obj, dict) and set(obj) == {"correct", "attempted", "failed", "metrics"}:
            return line
    return None


def main():
    # a terminated run still stops and reaps the harness JVM: SystemExit
    # unwinds through run_jvm, which kills and waits for it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--dump")
    a = ap.parse_args()
    if not (a.workload or a.selftest or a.dump):
        ap.error("one of --workload, --selftest, --dump is required")

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("the engine sources (src/main/scala) are not in this directory; "
             "run from the repository root")
    jars = build.spark_jars()
    if jars is None:
        fail("no Spark distribution found (set SPARK_HOME)")
    try:
        classes = build.ensure_built(root, jars)
    except Exception as e:  # a failed build is a failed run
        fail(f"build failed: {e}")

    bench = os.path.join(root, build.BUILD_DIR)
    work = os.path.join(bench, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))

    if a.selftest:
        cmd = java_cmd(root, classes, jars, work, "graft.perfbench.SelfTest", [])
        sys.exit(subprocess.call(cmd))

    t0 = time.time()
    check_inputs(root)
    args = ["--data", os.path.join(root, DATA), "--work", work,
            "--artifacts", artifacts_dir(bench, classes)]
    if a.dump:
        args += ["--dump", os.path.abspath(a.dump)]
    else:
        args += ["--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                 "--t0", repr(t0),
                 "--fingerprints", os.path.join(root, "perfbench", "fingerprints.json")]
    cmd = java_cmd(root, classes, jars, work, "graft.perfbench.Main", args)
    try:
        code, out = run_jvm(cmd, RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"the run did not finish within {RUN_TIMEOUT_S} s")
    line = result_line(out)
    for other in out.splitlines():
        if other != line:
            print(other)
    if a.dump:
        sys.exit(code)
    if line is None:
        fail(f"the harness printed no result (exit {code})")
    print(line)
    sys.stdout.flush()
    sys.exit(code if code != 0 else (0 if json.loads(line)["correct"] else 1))


if __name__ == "__main__":
    main()
