"""Build file of the benchmark: compiles the program's Scala sources
(`src/main/scala`) together with the benchmark's own (`perfbench/src`) with
the Scala compiler jar that the project's sbt build resolves, into
`perfbench/.build/classes`. A stamp over every source's path and content
skips the compile when nothing changed.

Usage: python3 perfbench/build.py   (prints the classpath to run with)
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
BUILD = os.path.join(HERE, ".build")


class BuildError(Exception):
    pass


def _sbt_setting(pattern):
    path = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(path):
        raise BuildError("build.sbt not found: run from a checkout of the program")
    with open(path) as f:
        m = re.search(pattern, f.read())
    if not m:
        raise BuildError(f"build.sbt has no setting matching {pattern!r}")
    return m.group(1)


def scala_version():
    return _sbt_setting(r'scalaVersion\s*:=\s*"([^"]+)"')


def spark_jars():
    jars = _sbt_setting(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)')
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BuildError(f"no Spark jars under {jars}")
    return jars


def scala_jar(artifact, version):
    cache = os.environ.get("COURSIER_CACHE", os.path.expanduser("~/.cache/coursier"))
    hits = sorted(glob.glob(
        f"{cache}/**/org/scala-lang/{artifact}/{version}/{artifact}-{version}.jar",
        recursive=True))
    if not hits:
        raise BuildError(f"{artifact} {version} not in the coursier cache {cache}")
    return hits[0]


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not prog:
        raise BuildError("no program sources under src/main/scala")
    own = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not own:
        raise BuildError("no benchmark sources under perfbench/src")
    return prog + own


def build():
    """Compile if stale; return the runtime classpath."""
    ver = scala_version()
    lib = scala_jar("scala-library", ver)
    spark = spark_jars()
    srcs = sources()
    h = hashlib.sha256(ver.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    cp = f"{classes}:{lib}:{spark}/*"
    if os.path.isdir(classes) and os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    compiler = ":".join([scala_jar("scala-compiler", ver), scala_jar("scala-reflect", ver), lib])
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={BUILD}", "-cp", compiler,
           "scala.tools.nsc.Main", "-nowarn", "-classpath", f"{lib}:{spark}/*",
           "-d", tmp, f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
