"""Build file of the benchmark harness: compiles the engine's main
sources together with ``perfbench/harness`` straight with scalac (no
sbt, so nothing is written outside the checkout) into
``.bench_build/perfbench``. The Spark/Scala jars are the ones the
project build uses (``unmanagedBase`` in ``build.sbt``).

Usage: python3 perfbench/build.py   (run from the repository root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

OUT = os.path.join(".bench_build", "perfbench")


def jars_dir():
    with open("build.sbt") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        sys.exit("build.sbt declares no unmanagedBase jar directory")
    return m.group(1)


def sources():
    found = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not found:
        sys.exit("no engine sources under src/main/scala")
    return found + sorted(glob.glob("perfbench/harness/*.scala"))


def classpath():
    return os.path.join(OUT, "classes") + os.pathsep + os.path.join(jars_dir(), "*")


def build(log=print):
    """Compile if any source changed since the last build; return the
    runtime classpath."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        with open(s, "rb") as f:
            h.update(s.encode() + b"\0" + f.read())
    stamp = os.path.join(OUT, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classpath()
    jars = jars_dir()
    scalac = [j for j in glob.glob(os.path.join(jars, "scala-*.jar"))
              if re.search(r"scala-(compiler|library|reflect)-[0-9.]+\.jar$", j)]
    if len(scalac) != 3:
        sys.exit(f"scala compiler/library/reflect jars not found in {jars}")
    classes = os.path.join(OUT, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    log(f"[perfbench] compiling {len(srcs)} sources")
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(scalac),
                    "scala.tools.nsc.Main", "-nowarn", "-classpath",
                    os.path.join(jars, "*"), "-d", classes] + srcs,
                   check=True, stdout=sys.stderr)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classpath()


if __name__ == "__main__":
    print(build(log=lambda m: print(m, file=sys.stderr)))
