"""Build file of the benchmark: compiles the engine (src/main/scala) and
the harness (perfbench/src) with the Scala compiler that ships in the
Spark distribution, into .bench_build/classes under the repository root.

A content stamp over every source file and the jar set makes a rebuild
happen only when something changed. The build writes into a temporary
directory and renames it into place, so an interrupted build never
leaves half a class tree behind.
"""
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


def spark_jars():
    """The Spark distribution's jar directory, from SPARK_HOME or from
    the spark-submit found on PATH; None when neither exists."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if jars and os.path.isfile(os.path.join(jars, "scala-compiler-2.13.17.jar")):
        return jars
    return None


def sources(root):
    out = []
    for base in (os.path.join(root, "src", "main", "scala"),
                 os.path.join(root, "perfbench", "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(root, files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    for j in sorted(os.listdir(jars)):
        h.update(j.encode())
    return h.hexdigest()


def ensure_built(root, jars):
    """Return the class directory, compiling first if it is stale."""
    build = os.path.join(root, BUILD_DIR)
    classes = os.path.join(build, "classes")
    files = sources(root)
    want = stamp(root, files, jars)
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == want:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    print(f"[perfbench] compiling {len(files)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise RuntimeError(f"scalac exited with {r.returncode}")
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(want)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes
