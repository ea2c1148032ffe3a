"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark's own Scala sources (`perfbench/src`) with the Scala compiler
that ships in `$SPARK_HOME/jars`, into `.bench_build/` (or
`$CARGO_TARGET_DIR`) under the checkout root. A rebuild happens only when a
source file changes.

    python3 perfbench/build.py      # prints the classes directory
"""

import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("perfbench: SPARK_HOME must point at a Spark distribution with jars/")
    return os.path.join(home, "jars", "*")


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"perfbench: missing source directory {os.path.relpath(d, ROOT)}")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile if needed; return the classes directory."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()[:16]
    classes = os.path.join(build_dir(), "perfbench", "classes-" + stamp)
    if os.path.isfile(os.path.join(classes, ".done")):
        return classes
    parent = os.path.dirname(classes)
    if os.path.isdir(parent):
        for old in os.listdir(parent):
            if old.startswith("classes-"):
                shutil.rmtree(os.path.join(parent, old), ignore_errors=True)
    os.makedirs(classes)
    jars = spark_jars()
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
           "-d", classes, "-classpath", jars] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    open(os.path.join(classes, ".done"), "w").close()
    return classes


if __name__ == "__main__":
    print(build())
