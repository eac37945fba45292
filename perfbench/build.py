"""Build file of the benchmark: compiles the program and the harness.

The program (`src/main/scala`, `src/main/resources`) and the harness
(`perfbench/src`) are compiled together with the Scala 2.13 compiler that
ships in the Spark distribution's jars, against those same jars (the
program's own build resolves its compile classpath from there too). The
output goes to `.bench_build/classes`, stamped with a hash of every
source, so a checkout compiles once and recompiles only when a source
changes. Standalone use, from the repository root:

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_jars():
    """`$SPARK_HOME/jars`, else the jars beside a `bin/spark-submit` on the PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.realpath(os.path.join(p, os.pardir))
        for p in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(p, "spark-submit"))]
    for home in filter(None, homes):
        d = os.path.join(home, "jars")
        if glob.glob(os.path.join(d, "spark-sql_*.jar")):
            return d
    sys.exit("Spark jars not found: set SPARK_HOME")


def cores():
    return len(os.sched_getaffinity(0))


def stamp(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _files(root, pattern):
    return sorted(glob.glob(os.path.join(root, pattern), recursive=True))


def ensure(root, classes, log=print):
    """Compile into `classes` unless it already holds a build of these sources."""
    program = _files(root, "src/main/scala/**/*.scala")
    if not program:
        sys.exit(f"no program sources under {root}/src/main/scala")
    harness = _files(HERE, "src/**/*.scala")
    res_root = os.path.join(root, "src", "main", "resources")
    resources = [p for p in _files(res_root, "**/*") if os.path.isfile(p)]
    want = stamp(program + harness + resources)
    try:
        with open(os.path.join(classes, "STAMP")) as f:
            if f.read() == want:
                return classes
    except OSError:
        pass
    log(f"compiling {len(program)} program and {len(harness)} harness sources")
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + program + harness
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if done.returncode != 0:
        sys.exit(f"compilation failed:\n{done.stdout[-4000:]}")
    for p in resources:
        dst = os.path.join(tmp, os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    with open(os.path.join(tmp, "STAMP"), "w") as f:
        f.write(want)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


def java_command(classes, heap, tmpdir):
    """The JVM command line the program's own build uses, minus sbt."""
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file outside the working tree
    return (["java", "-XX:-UsePerfData", f"-Xmx{heap}"] + opens +
            ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Djava.io.tmpdir={tmpdir}",
             "-cp", f"{classes}:{os.path.join(spark_jars(), '*')}"])


if __name__ == "__main__":
    repo = os.path.dirname(HERE)
    print(ensure(repo, os.path.join(repo, ".bench_build", "classes")))
