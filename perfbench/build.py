"""Build file of the benchmark package.

Compiles the program under test (`src/main/scala` of the checkout) together
with the benchmark's own harness (`perfbench/src`) with the Scala compiler
that ships among the Spark jars the program builds against, into
`.bench_build/classes`. A stamp of
the sources' hashes skips the compile when nothing changed. Also holds the
JVM command line every benchmark process uses.

    python3 perfbench/build.py      # build only
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
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
SCALA_VERSION = "2.13.17"

# Spark 4 on JDK 17 outside spark-submit needs these (the same list as
# the program's build.sbt and Spark's JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    """The jars the program's own build compiles against: the
    `unmanagedBase` its build.sbt names, or $SPARK_HOME/jars when set."""
    if os.environ.get("SPARK_HOME"):
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        if not m:
            raise BuildError("build.sbt names no unmanagedBase and SPARK_HOME is unset")
        d = m.group(1)
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not jars:
        raise BuildError(f"no Spark jars under {d}")
    return jars


def sources():
    prog = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(prog):
        raise BuildError(f"program sources not found at {prog}")
    files = sorted(glob.glob(os.path.join(prog, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return files


def resources():
    return os.path.join(ROOT, "src", "main", "resources")


def build():
    """Compile if the sources changed; return the classpath."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(CLASSES, ".stamp")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        tmp = CLASSES + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        compiler = [j for j in jars if os.path.basename(j) in (
            f"scala-compiler-{SCALA_VERSION}.jar", f"scala-library-{SCALA_VERSION}.jar",
            f"scala-reflect-{SCALA_VERSION}.jar")]
        if len(compiler) != 3:
            raise BuildError(f"Scala {SCALA_VERSION} compiler jars not found")
        cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler),
               "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(jars),
               "-d", tmp] + srcs
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
        if r.returncode != 0:
            sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
            raise BuildError("compile failed")
        with open(os.path.join(tmp, ".stamp"), "w") as f:
            f.write(stamp)
        shutil.rmtree(CLASSES, ignore_errors=True)
        os.rename(tmp, CLASSES)
    return os.pathsep.join([CLASSES, resources()] + jars)


def driver_mem():
    """The heap of the program's test runs: half the RAM, 2 to 8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(max(g, 2), 8)}g"


def java_cmd(classpath, tmpdir, main, args):
    """A benchmark JVM with the program's JVM options. Its temp dir is
    `tmpdir`, and -XX:-UsePerfData keeps it from writing under /tmp."""
    opts = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", *opts, "-XX:-UsePerfData", f"-Xmx{driver_mem()}",
            f"-Djava.io.tmpdir={tmpdir}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Duser.timezone=UTC", "-Dspark.executor.heartbeatInterval=60s",
            "-Dspark.network.timeout=600s", "-XX:+UnlockDiagnosticVMOptions",
            "-XX:GCLockerRetryAllocationCount=100",
            "-cp", classpath, main, *args]


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        sys.exit(f"build failed: {e}")
