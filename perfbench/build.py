"""Build step of the graft ingest benchmark.

Compiles the engine's sources (`src/main/scala`) together with the
benchmark's own (`perfbench/src`) into one class directory, using the Scala
compiler that ships in Spark's jar directory, so no build tool or network
is needed. The build is skipped when a digest of every source file matches
the one stored next to the classes.

    python3 perfbench/build.py            # build into .bench_build/graftbench
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the directory build.sbt
    names as its unmanagedBase (where the engine's own build finds Spark)."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            raise BuildError("set SPARK_HOME: build.sbt names no unmanagedBase")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler jar under {jars} (set SPARK_HOME)")
    return jars


def out_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "graftbench")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise BuildError("no engine sources under src/main/scala")
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return engine + bench


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Return the class directory, compiling first if the sources changed."""
    srcs = sources()
    jars = spark_jars()
    out = out_dir()
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "classes.sha256")
    want = digest(srcs)
    if os.path.isdir(classes) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == want:
                return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", f"-Djava.io.tmpdir={out}", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-cp", cp] + srcs
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        raise BuildError(f"scalac exited with {r.returncode}")
    with open(stamp, "w") as f:
        f.write(want + "\n")
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
