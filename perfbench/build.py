"""Build file of the benchmark: compiles the program's main sources and
the benchmark's own (`perfbench/src`) with the Scala compiler that ships
in Spark's jars, into `.bench_build/perfbench/classes-<source hash>/`.
An unchanged source tree is not compiled again.

    python3 perfbench/build.py      # prints the class directory
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def spark_home():
    """SPARK_HOME, else the Spark install whose bin/ on PATH holds spark-submit."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.realpath(d))
        if os.path.exists(os.path.join(d, "spark-submit")) and \
                os.path.isdir(os.path.join(home, "jars")):
            return home
    raise SystemExit("perfbench: set SPARK_HOME or put Spark's bin/ on PATH")


def spark_jars():
    jars = os.path.join(spark_home(), "jars")
    return sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar"))


def sources():
    """The program's main sources plus the benchmark's own."""
    out = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def build():
    """Compile once per source tree; the class dir is keyed by a content hash."""
    srcs = sources()
    if not any(s.startswith(os.path.join(ROOT, "src")) for s in srcs):
        raise SystemExit("perfbench: no program sources under src/main/scala")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    name = "classes-" + h.hexdigest()[:16]
    classes = os.path.join(BUILD, name)
    if os.path.exists(os.path.join(classes, ".ok")):
        return classes
    log("building %d sources into %s" % (len(srcs), classes))
    os.makedirs(BUILD, exist_ok=True)
    for old in os.listdir(BUILD):  # one class dir at a time
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    jars = spark_jars()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-classpath", ":".join(jars),
           "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit("perfbench: build failed")
    open(os.path.join(classes, ".ok"), "w").close()
    return classes


if __name__ == "__main__":
    print(build())
