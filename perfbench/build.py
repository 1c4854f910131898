"""Compile the program (src/main) together with the benchmark (perfbench/src).

The compiler is the scala-compiler jar that ships with the Spark
distribution, so the build needs no network and writes only under
perfbench/.build.  A build is keyed by a hash of every source file, so
a rebuilt tree never reuses stale classes.

    python3 perfbench/build.py      # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SPARK_HOME = os.environ.get("SPARK_HOME", "/opt/spark")
SPARK_JARS = os.path.join(SPARK_HOME, "jars")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH, "src/**/*.scala"), recursive=True))
    resources = sorted(p for p in glob.glob(os.path.join(ROOT, "src/main/resources/**"), recursive=True)
                       if os.path.isfile(p))
    return main, bench, resources


def build(log=sys.stderr):
    main, bench, resources = sources()
    if not main:
        raise SystemExit("build: no program sources under src/main/scala")
    if not bench:
        raise SystemExit("build: no benchmark sources under perfbench/src")
    if not os.path.isdir(SPARK_JARS):
        raise SystemExit(f"build: Spark jars not found at {SPARK_JARS}")
    h = hashlib.sha256()
    for p in main + bench + resources:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(BENCH, ".build", h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "ok")):
        return classes
    shutil.rmtree(os.path.join(BENCH, ".build"), ignore_errors=True)
    os.makedirs(classes)
    args = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(SPARK_JARS, "*"),
            "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes]
    with open(os.path.join(out, "sources.txt"), "w") as f:
        f.write("\n".join(main + bench))
    print(f"build: compiling {len(main)} program + {len(bench)} benchmark files", file=log)
    r = subprocess.run(args + ["@" + os.path.join(out, "sources.txt")], stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac exited with {r.returncode}")
    base = os.path.join(ROOT, "src/main/resources")
    for p in resources:
        dst = os.path.join(classes, os.path.relpath(p, base))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    open(os.path.join(out, "ok"), "w").close()
    return classes


if __name__ == "__main__":
    print(build())
