"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark's JVM side (perfbench/scala) with the Scala compiler that ships in
Spark's jars, into .bench_build/classes.

A stamp over every source file, the compiler and the JDK skips the build
when nothing changed. Run directly to build: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else those of the first spark-submit
    on PATH that sits in a Spark distribution."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "spark-core_*.jar")):
            return jars
    raise RuntimeError("no Spark distribution found: set SPARK_HOME")


def _sources():
    srcs = []
    for top in ("src/main/scala", "perfbench/scala"):
        srcs += sorted(glob.glob(os.path.join(ROOT, top, "**", "*.scala"), recursive=True))
    return srcs


def _compiler_jars():
    jars = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = sorted(glob.glob(os.path.join(spark_jars(), f"{name}-2.13.*.jar")))
        if not found:
            raise RuntimeError(f"no {name} 2.13 jar in {spark_jars()}")
        jars.append(found[-1])
    return jars


def ensure_built(log=sys.stderr):
    """Compile if any source changed; return the classes directory."""
    srcs = _sources()
    if not any(s.startswith(os.path.join(ROOT, "src")) for s in srcs):
        raise RuntimeError("no engine sources under src/main/scala")
    jars = _compiler_jars()
    java = subprocess.run(["java", "-XX:-UsePerfData", "-version"],
                          capture_output=True, text=True).stderr
    h = hashlib.sha256(("\n".join(jars) + java).encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp_path = os.path.join(OUT, "stamp")
    if os.path.isdir(CLASSES) and os.path.isfile(stamp_path):
        with open(stamp_path) as f:
            if f.read() == h.hexdigest():
                return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(jars),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-classpath", os.path.join(spark_jars(), "*"), "-d", CLASSES, "@" + argfile]
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log, timeout=840)
    if r.returncode != 0:
        shutil.rmtree(CLASSES, ignore_errors=True)
        raise RuntimeError(f"scalac exited {r.returncode}")
    with open(stamp_path, "w") as f:
        f.write(h.hexdigest())
    return CLASSES


if __name__ == "__main__":
    try:
        print(ensure_built())
    except RuntimeError as e:
        sys.exit(f"[perfbench] build failed: {e}")
