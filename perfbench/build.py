#!/usr/bin/env python3
"""Build of the benchmark package: compiles the engine's main sources
(src/main/scala) together with the harness (perfbench/src/main/scala) with
the Scala compiler that ships in Spark's jars directory, into
perfbench/target/classes.

    python3 perfbench/build.py     # prints the runtime classpath

Needs only a JDK and a Spark distribution: no sbt, no dependency resolver,
nothing read or written outside the checkout except the JDK and Spark's
jars. Spark is found through SPARK_HOME, a spark-submit on PATH, or the
repository's build.sbt (its `unmanagedBase`), in that order. A build is
reused until a source file, the jar set or the JDK changes.
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
TARGET = os.path.join(HERE, "target")
CLASSES = os.path.join(TARGET, "classes")
STAMP = os.path.join(TARGET, "build.stamp")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(HERE, "src", "main", "scala")]
BUILD_TIMEOUT_S = 840


class BuildError(Exception):
    pass


def java():
    """The java launcher: JAVA_HOME's, else the one on PATH."""
    home = os.environ.get("JAVA_HOME")
    if home and os.access(os.path.join(home, "bin", "java"), os.X_OK):
        return os.path.join(home, "bin", "java")
    found = shutil.which("java")
    if not found:
        raise BuildError("no JDK: set JAVA_HOME or put java on PATH")
    return found


def _is_spark_jars(d):
    return bool(d and glob.glob(os.path.join(d, "spark-sql_*.jar"))
                and glob.glob(os.path.join(d, "scala-compiler-*.jar")))


def _candidates():
    if os.environ.get("SPARK_HOME"):
        yield os.path.join(os.environ["SPARK_HOME"], "jars")
    submit = shutil.which("spark-submit")
    if submit:
        yield os.path.join(os.path.dirname(os.path.dirname(
            os.path.realpath(submit))), "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            yield m.group(1)
    except OSError:
        pass


def spark_jars():
    """Spark's jars directory, holding Spark and its Scala compiler."""
    for d in _candidates():
        if _is_spark_jars(d):
            return os.path.realpath(d)
    raise BuildError("no Spark jars directory with spark-sql and "
                     "scala-compiler jars: set SPARK_HOME")


def _sources():
    files = []
    for top in SOURCE_DIRS:
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def _key(jvm, jars, sources):
    h = hashlib.sha256()
    h.update(os.path.realpath(jvm).encode() + b"\0" + jars.encode() + b"\0")
    for j in sorted(os.listdir(jars)):
        h.update(j.encode() + b"\0")
    for f in sources + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath(log=sys.stderr):
    """Compile when needed; return the runtime classpath."""
    if not os.path.isdir(SOURCE_DIRS[0]):
        raise BuildError(f"no engine sources under {SOURCE_DIRS[0]}")
    jvm, jars = java(), spark_jars()
    cp = CLASSES + os.pathsep + os.path.join(jars, "*")
    sources = _sources()
    key = _key(jvm, jars, sources)
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == key:
                return cp
    os.makedirs(TARGET, exist_ok=True)
    out = CLASSES + ".tmp"
    tmp = os.path.join(TARGET, "tmp")
    for d in (out, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    args = os.path.join(TARGET, "scalac.args")
    with open(args, "w") as fh:
        fh.write("\n".join(f'"{s}"' for s in sources) + "\n")
    cmd = [jvm, "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out,
           "@" + args]
    log.write(f"[perfbench] compiling {len(sources)} Scala sources\n")
    log.flush()
    try:
        proc = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE,
                              stderr=subprocess.STDOUT, text=True,
                              timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        raise BuildError(f"compiler did not finish: {e}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    log.write(proc.stdout)
    if proc.returncode != 0:
        raise BuildError(f"compile failed (exit {proc.returncode})")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.replace(out, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(key)
    return cp


if __name__ == "__main__":
    try:
        print(classpath())
    except BuildError as e:
        sys.stderr.write(f"[perfbench] {e}\n")
        sys.exit(2)
