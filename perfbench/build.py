"""Build file of the benchmark: compiles graft (`src/main/scala`) together
with the benchmark's own sources (`perfbench/src`) with the Scala compiler
that ships among the Spark jars, into `.bench_build/perfbench/classes`.

    python3 perfbench/build.py

A build is skipped when the stamp (a hash of every source file and of the
jar directory listing) is unchanged. Exits non-zero when the program's
sources or the Spark jars are missing.
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
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(BUILD, "classes")


class BuildError(Exception):
    pass


def jars_dir():
    """$SPARK_HOME/jars, else the `unmanagedBase` the sbt build names."""
    home = os.environ.get("SPARK_HOME")
    if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m and glob.glob(os.path.join(m.group(1), "spark-core_*.jar")):
        return m.group(1)
    raise BuildError("no Spark jars: set SPARK_HOME or build.sbt unmanagedBase")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        raise BuildError("no program sources under src/main/scala")
    own = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return main + own


def classpath():
    return CLASSES + os.pathsep + os.path.join(jars_dir(), "*")


def build(log=sys.stderr):
    srcs = sources()
    jars = jars_dir()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    stamp_file = os.path.join(CLASSES, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return False
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    scratch = os.path.join(BUILD, "tmp")
    os.makedirs(scratch, exist_ok=True)
    args_file = os.path.join(BUILD, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    p = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + scratch,
         "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp,
         "@" + args_file],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    if p.returncode != 0:
        raise BuildError("scalac failed:\n" + p.stdout[-4000:])
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.replace(tmp, CLASSES)
    return True


if __name__ == "__main__":
    try:
        built = build()
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
    print("built" if built else "up to date")
