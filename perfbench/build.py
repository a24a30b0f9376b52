#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles graft's main sources (src/main/scala) together with the
benchmark's own sources (perfbench/src/main/scala) into
.bench_build/classes with the Scala compiler that ships in Spark's jar
directory, so a build needs no sbt, no network and writes only inside
the checkout. A content stamp skips the compile when no source changed.

    python3 perfbench/build.py           # build the benchmark
    python3 perfbench/build.py --test    # build, then run its self-tests
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
MAIN_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src", "main", "scala")
TEST_SRC = os.path.join(ROOT, "perfbench", "src", "test", "scala")

# -XX:-UsePerfData: the JVM would otherwise keep a perf-counter file in
# /tmp/hsperfdata_<user>, outside the checkout.
JVM_FLAGS = ["-XX:-UsePerfData"]

# Spark 4 on JDK 17 outside spark-submit needs these (the same list as
# org.apache.spark.launcher.JavaModuleOptions and the repo's build.sbt).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory, which must hold the Scala compiler:
    $SPARK_HOME/jars, else that of a spark-submit on the PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
        if any(os.path.basename(j).startswith("scala-compiler") for j in jars):
            return jars
    raise BuildError("no Spark jar directory with a Scala compiler (set SPARK_HOME)")


def sources(*dirs):
    out = []
    for d in dirs:
        out += sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    return out


def _stamp(files):
    h = hashlib.sha1()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha1(fh.read()).digest())
    return h.hexdigest()


def _compile(files, out_dir, classpath):
    stamp_file = out_dir + ".stamp"
    stamp = _stamp(files)
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    if os.path.isdir(out_dir):
        subprocess.run(["rm", "-rf", out_dir], check=True)
    os.makedirs(out_dir)
    cp = os.pathsep.join(classpath)
    argfile = out_dir + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(["-nowarn", "-d", out_dir, "-classpath", cp] + files))
    print(f"[perfbench] compiling {len(files)} Scala files -> "
          f"{os.path.relpath(out_dir, ROOT)}", file=sys.stderr)
    r = subprocess.run(["java"] + JVM_FLAGS + ["-Xss8m", "-Xmx2g", "-cp", cp,
                        "scala.tools.nsc.Main", "@" + argfile],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"scalac failed with code {r.returncode}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def build():
    """Compile graft + the benchmark; returns the runtime classpath."""
    main = sources(MAIN_SRC)
    bench = sources(BENCH_SRC)
    if not main:
        raise BuildError(f"no graft sources under {MAIN_SRC}")
    if not bench:
        raise BuildError(f"no benchmark sources under {BENCH_SRC}")
    jars = spark_jars()
    classes = os.path.join(BUILD, "classes")
    _compile(main + bench, classes, jars)
    return [classes, MAIN_RES] + jars


def build_tests(classpath):
    tests = os.path.join(BUILD, "test-classes")
    _compile(sources(TEST_SRC), tests, classpath)
    return [tests] + classpath


def java_cmd(classpath, main_class, args, heap="2g", props=()):
    return (["java", f"-Xmx{heap}"] + JVM_FLAGS + ADD_OPENS +
            ["-Dfile.encoding=UTF-8", "-Dsun.jnu.encoding=UTF-8"] +
            [f"-D{k}={v}" for k, v in props] +
            ["-cp", os.pathsep.join(classpath), main_class] + list(args))


def main(argv):
    try:
        cp = build()
        if "--test" in argv:
            cp = build_tests(cp)
            # the Spark test's scratch files stay inside the checkout
            tmp = os.path.join(ROOT, ".bench_run", f"selftest-{os.getpid()}")
            os.makedirs(tmp)
            try:
                return subprocess.run(java_cmd(
                    cp, "graft.perfbench.SelfTest", [], heap="1g",
                    props=[("java.io.tmpdir", tmp),
                           ("log4j.configurationFile",
                            os.path.join(ROOT, "perfbench", "log4j2.properties"))],
                )).returncode
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
