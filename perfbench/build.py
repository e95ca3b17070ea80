"""Build file of the engine benchmark.

Compiles the engine's sources (src/main/scala) together with the
benchmark's own sources (perfbench/src) into one class directory under the
build directory, with the Scala compiler that ships in the Spark
distribution the engine runs on. A build is reused while no source file,
resource or this file changes (the class directory is named after a hash of
them), so only the first run in a checkout pays for compilation.

    python3 perfbench/build.py          # build if stale, print the classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def build_dir():
    base = os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build")
    if not os.path.isabs(base):
        base = os.path.join(ROOT, base)
    return os.path.join(base, "perfbench")


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    `unmanagedBase` the repository's own build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jars: set SPARK_HOME (build.sbt names none either)")


def _files(top, suffixes):
    out = []
    for d, _, names in os.walk(top):
        out += [os.path.join(d, n) for n in names if n.endswith(suffixes)]
    return sorted(out)


def build(verbose=True):
    """Returns the runtime classpath, compiling first if the sources changed."""
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError(f"engine sources missing: {ENGINE_SRC}")
    sources = _files(ENGINE_SRC, (".scala", ".java")) + _files(BENCH_SRC, (".scala",))
    resources = _files(ENGINE_RES, ("",)) if os.path.isdir(ENGINE_RES) else []
    jars = spark_jars()
    h = hashlib.sha256()
    for f in sources + resources + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    classes = os.path.join(build_dir(), "classes-" + h.hexdigest()[:16])
    cp = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.isfile(os.path.join(classes, ".complete")):
        return cp
    os.makedirs(build_dir(), exist_ok=True)
    for old in os.listdir(build_dir()):
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(build_dir(), old), ignore_errors=True)
    os.makedirs(classes)
    if verbose:
        print(f"[build] compiling {len(sources)} sources", file=sys.stderr, flush=True)
    jcp = os.path.join(jars, "*")
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx1g", "-cp", jcp,
         "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-cp", jcp] + sources,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    for f in resources:
        dst = os.path.join(classes, os.path.relpath(f, ENGINE_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    open(os.path.join(classes, ".complete"), "w").close()
    return cp


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
