"""Build file of the streaming-ingest benchmark.

Compiles the program (`src/main/scala`) together with the benchmark's
own sources (`ingestbench/src/main/scala`) with the Scala compiler that
ships in the Spark distribution, into `$CARGO_TARGET_DIR/classes`
(default `.bench_build/classes`). A stamp of the source hashes skips the
compile when nothing changed. `--tests` also compiles
`ingestbench/src/test/scala` into `.../test-classes`.

    python3 ingestbench/build.py [--tests]
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
JVM_OPENS = [
    "--add-opens=java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
]


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the
    unmanagedBase of the repository's own build.sbt."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if not m:
        raise BuildError("no Spark distribution found: set SPARK_HOME")
    return m.group(1)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources(*dirs):
    files = []
    for d in dirs:
        if not os.path.isdir(d):
            raise BuildError(f"source directory {os.path.relpath(d, ROOT)} is missing")
        files += sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    return files


def compile_into(out, srcs, spark_cp, extra_cp=()):
    stamp_file = out + ".stamp"
    h = hashlib.sha256()
    for f in srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    if os.path.isdir(out) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", spark_cp,
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp",
           "-classpath", os.pathsep.join(list(extra_cp) + [spark_cp]),
           "-d", tmp] + srcs
    print(f"[ingestbench build] compiling {len(srcs)} files into {os.path.relpath(out, ROOT)}",
          file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return out


def ensure_built(tests=False):
    """Returns the classpath entries of the built benchmark."""
    jars = spark_jars()
    if not os.path.isdir(jars):
        raise BuildError(f"Spark jars not found at {jars}")
    spark_cp = os.path.join(jars, "*")
    classes = compile_into(
        os.path.join(build_dir(), "classes"),
        sources(os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main", "scala")),
        spark_cp)
    if not tests:
        return [classes, spark_cp]
    tests = compile_into(
        os.path.join(build_dir(), "test-classes"),
        sources(os.path.join(HERE, "src", "test", "scala")),
        spark_cp, [classes])
    return [tests, classes, spark_cp]


def java_env(out_dir):
    """Environment of a benchmark JVM: Spark's local dirs inside out_dir
    (SPARK_LOCAL_DIRS would otherwise override spark.local.dir)."""
    return dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(out_dir, "spark-local"))


def java_command(classpath, main, args, heap="2g", tmpdir=None):
    # -XX:-UsePerfData keeps the JVM from writing its perf file outside tmpdir
    cmd = ["java"] + JVM_OPENS + [f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData",
                                  "-Dspark.ui.enabled=false"]
    if tmpdir:
        cmd.append(f"-Djava.io.tmpdir={tmpdir}")
    return cmd + ["-cp", os.pathsep.join(classpath), main] + list(args)


if __name__ == "__main__":
    try:
        cp = ensure_built(tests="--tests" in sys.argv)
        print(os.pathsep.join(cp))
    except BuildError as e:
        print(f"[ingestbench build] {e}", file=sys.stderr)
        sys.exit(2)
