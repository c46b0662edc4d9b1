"""Build file of the benchmark: compiles the engine's sources and the
benchmark harness into one class directory.

    python3 perfbench/build.py            # from the repository root

The engine is compiled from `src/main/scala`, the harness from
`perfbench/src`, with the Scala compiler that ships inside the Spark
distribution (`$SPARK_HOME/jars`, default `/opt/spark/jars`), so a build
needs no dependency resolution and writes nothing outside the output
directory. The output directory is `$CARGO_TARGET_DIR` (default
`.bench_build`) under the repository root; a content stamp over every
source file skips the compile when nothing changed.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ENGINE_SRC = os.path.join("src", "main", "scala")
HARNESS_SRC = os.path.join("perfbench", "src")
# The JVM's performance-counter file would land in /tmp, outside the checkout.
JAVA_CONFINE = ["-XX:-UsePerfData"]
JAVA_OPTS = ["-Xss8m", "-Xmx2g"] + JAVA_CONFINE


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise SystemExit(f"perfbench: no Spark distribution at {jars} (set SPARK_HOME)")
    return jars


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources(root):
    out = []
    for sub in (ENGINE_SRC, HARNESS_SRC):
        base = os.path.join(root, sub)
        if not os.path.isdir(base):
            raise SystemExit(f"perfbench: missing source directory {sub}")
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root):
    """Compile when the sources changed; return the class directory."""
    files = sources(root)
    out = build_dir(root)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    want = stamp(files)
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    jars = os.path.join(spark_jars(), "*")
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", *JAVA_OPTS, "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
           "-d", classes, "-cp", jars, "@" + argfile]
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr, flush=True)
    res = subprocess.run(cmd, cwd=root, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        raise SystemExit(f"perfbench: compile failed (exit {res.returncode})")
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return classes


if __name__ == "__main__":
    print(build(os.path.dirname(HERE)))
