"""Build file of the benchmark: compiles the engine sources (src/main/scala)
together with the benchmark sources (perfbench/src) into one class directory
with the Scala compiler that ships in the Spark distribution.

    python3 perfbench/build.py        # from the repository root

The output lands in .bench_build/perfbench/classes. A stamp holding the hash
of every input source skips the compile when nothing changed.
"""
import hashlib
import os
import re
import subprocess
import sys

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the engine's build.sbt declares."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("perfbench: no Spark jars (set SPARK_HOME)")


def jar_list(jars):
    return sorted(os.path.join(jars, f) for f in os.listdir(jars) if f.endswith(".jar"))


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"perfbench: missing source directory {os.path.relpath(d, ROOT)}")
        for dirpath, _, files in os.walk(d):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile if the sources changed; return the runtime classpath."""
    jars = spark_jars()
    cp = jar_list(jars)
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    if not (os.path.isfile(STAMP) and open(STAMP).read() == digest):
        os.makedirs(CLASSES, exist_ok=True)
        for dirpath, _, files in os.walk(CLASSES, topdown=False):
            for f in files:
                os.remove(os.path.join(dirpath, f))
        compiler = [j for j in cp if re.search(r"/scala-(compiler|library|reflect)-[^/]*\.jar$", j)]
        if len(compiler) != 3:
            raise SystemExit("perfbench: scala compiler jars not found next to Spark")
        argfile = os.path.join(OUT, "scalac.args")
        with open(argfile, "w") as f:
            f.write("-nowarn\n-d\n" + CLASSES + "\n-classpath\n" + os.pathsep.join(cp) + "\n")
            f.write("\n".join(srcs) + "\n")
        print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
        r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
                            "scala.tools.nsc.Main", "@" + argfile])
        if r.returncode != 0:
            raise SystemExit("perfbench: compile failed")
        with open(STAMP, "w") as f:
            f.write(digest)
    return [CLASSES] + cp


if __name__ == "__main__":
    build()
