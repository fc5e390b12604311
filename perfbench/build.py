"""Build file of the benchmark: compiles graft (src/main/scala) and the
benchmark's own Scala code (perfbench/src) with the Scala compiler that
ships in the Spark distribution, against the Spark jars, into a build
directory inside the checkout. A stamp of every source file's path and content makes an
unchanged tree a no-op.

Usage: python3 perfbench/build.py   (prints the run classpath)
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
SCALA_VERSION = "2.13.17"


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the directory
    the sbt build names as its unmanagedBase."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            candidates.append(m.group(1))
    for jars in candidates:
        if glob.glob(os.path.join(jars, f"scala-compiler-{SCALA_VERSION}.jar")):
            return jars
    raise BuildError(f"Spark jars with scala-compiler-{SCALA_VERSION}.jar not found "
                     f"(tried {candidates or 'nothing'}); set SPARK_HOME")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources(directory):
    found = sorted(glob.glob(os.path.join(directory, "**", "*.scala"), recursive=True))
    if not found:
        raise BuildError(f"no Scala sources under {directory}")
    return found


def stamp(files, jars):
    h = hashlib.sha256()
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def scalac(jars, classpath, files, out):
    compiler = ":".join(os.path.join(jars, f"scala-{c}-{SCALA_VERSION}.jar")
                        for c in ("compiler", "reflect", "library"))
    os.makedirs(out)
    argfile = out + ".sources"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-cp", classpath, "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])


def build():
    """Compiles what changed and returns the classpath to run with."""
    jars = spark_jars()
    main = sources(os.path.join(ROOT, "src", "main", "scala"))
    bench = sources(os.path.join(HERE, "src"))
    want = stamp(main + bench, jars)
    graft_out = os.path.join(BUILD_DIR, "graft-classes")
    bench_out = os.path.join(BUILD_DIR, "bench-classes")
    classpath = f"{jars}/*:{graft_out}:{bench_out}"
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(os.path.join(BUILD_DIR, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(BUILD_DIR, "stamp")
        if os.path.exists(stamp_file) and open(stamp_file).read() == want:
            return classpath
        for d in (graft_out, bench_out):
            shutil.rmtree(d, ignore_errors=True)
        if os.path.exists(stamp_file):
            os.remove(stamp_file)
        scalac(jars, f"{jars}/*", main, graft_out)
        scalac(jars, f"{jars}/*:{graft_out}", bench, bench_out)
        with open(stamp_file, "w") as fh:
            fh.write(want)
    return classpath


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
