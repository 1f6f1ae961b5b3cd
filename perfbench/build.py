"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark harness (perfbench/scala) into one class directory.

It calls scalac straight from the Spark distribution's jars (the same
unmanaged jars build.sbt compiles against), so a build writes only under
the output directory: no sbt boot, ivy or zinc state outside the checkout.
A build is skipped when the sources and the compiler are unchanged.

    python3 perfbench/build.py [OUT_DIR]

OUT_DIR defaults to $CARGO_TARGET_DIR/perfbench (or .bench_build/perfbench).
Run from the root of the checkout. Exits non-zero when the program's
sources are missing or do not compile.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"build: no Spark/Scala jars under {jars} (set SPARK_HOME)")
    return jars


def sources():
    main = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not main:
        raise SystemExit("build: src/main/scala not found; run from the repo root")
    return main + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def out_dir():
    return os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                        "perfbench")


def build(out=None):
    """Compile if needed; return the classpath to run the harness with."""
    out = out or out_dir()
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    cp = f"{classes}{os.pathsep}{jars}/*"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-classpath", classes,
           "-nowarn", "-d", classes] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else None))
