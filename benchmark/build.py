"""Build the program and the benchmark harness from source.

Compiles ``src/main/scala`` (the program) and ``benchmark/harness`` with
the Scala compiler that ships in Spark's jar directory into
``<build dir>/classes``, copies the program's resources beside them, and
skips the work when a stamp of every source file is unchanged. Run it on
its own with ``python3 benchmark/build.py``; ``run.py`` calls it first.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# The JVM flags the program runs with (build.sbt's javaOptions): module
# opens Spark needs outside spark-submit, JIT of large generated methods,
# and a generated-class cache that holds a whole run.
JVM_FLAGS = [f for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
    for f in ("--add-opens", p + "=ALL-UNNAMED")] + [
    "-XX:-DontCompileHugeMethods",
    "-Dspark.sql.codegen.cache.maxEntries=10000",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    # no hsperfdata file: it would be written outside the checkout
    "-XX:-UsePerfData"]


def build_dir():
    return os.path.join(ROOT, ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit("build: Spark jars not found (set SPARK_HOME)")
    return jars


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not prog:
        raise SystemExit("build: no program sources under src/main/scala")
    return prog + sorted(glob.glob(os.path.join(HERE, "harness/*.scala")))


def resources():
    base = os.path.join(ROOT, "src/main/resources")
    return sorted(p for p in glob.glob(base + "/**/*", recursive=True)
                  if os.path.isfile(p)), base


def classpath():
    return os.path.join(build_dir(), "classes") + os.pathsep + \
        os.path.join(spark_jars(), "*")


def build(log=sys.stderr):
    srcs = sources()
    res, res_base = resources()
    h = hashlib.sha256()
    for p in srcs + res:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    print("build: compiling %d sources" % len(srcs), file=log)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args_file = os.path.join(build_dir(), "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join('"%s"' % p for p in srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out,
           "@" + args_file]
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit("build: scalac failed (exit %d)" % r.returncode)
    for p in res:
        dst = os.path.join(out, os.path.relpath(p, res_base))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    with open(stamp_file, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    build()
