"""Build file of the benchmark package: compiles the engine sources
(`src/main/scala`) and the benchmark harness (`perfbench/src`) with the
Scala compiler that ships in the Spark distribution, into the build
directory of the checkout. A stamp over every source file's path and
bytes skips the compile when nothing changed.

    python3 perfbench/build.py          # build, print the classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Spark 4 on JDK 17 outside spark-submit needs these module openings
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_OPENS = [f for p in ADD_OPENS for f in ("--add-opens", p + "=ALL-UNNAMED")]


class BuildError(Exception):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one beside `spark-submit` on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        sub = shutil.which("spark-submit")
        if sub:
            home = os.path.dirname(os.path.dirname(os.path.realpath(sub)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Spark distribution with a Scala compiler found "
                         "(set SPARK_HOME)")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise BuildError("engine sources not found under src/main/scala")
    return engine + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def java_cmd(cp, work, heap):
    """The benchmark JVM's command line up to the main class arguments."""
    cmd = (["java"] + JVM_OPENS +
           ["--add-modules", "jdk.incubator.vector", f"-Xmx{heap}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"])
    archive = os.path.join(build_dir(), "classes.jsa")
    if os.path.exists(archive):
        cmd.append(f"-XX:SharedArchiveFile={archive}")
    return cmd + ["-cp", cp, "graftbench.GraftBench"]


def java_env(work):
    return dict(os.environ,
                SPARK_GRAFT_CPUS=os.environ.get("SPARK_GRAFT_CPUS",
                                                str(len(os.sched_getaffinity(0)))),
                SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))


def write_archive(cp, data, heap):
    """Dump the classes a short session loads into a class-data-sharing
    archive, which later JVMs map instead of loading ~300 jars' classes
    one by one."""
    work = os.path.join(build_dir(), "work", "archive")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    archive = os.path.join(build_dir(), "classes.jsa")
    cmd = java_cmd(cp, work, heap)
    cmd.insert(-3, f"-XX:ArchiveClassesAtExit={archive}")
    r = subprocess.run(cmd + ["--archive", "--data", data, "--work", work],
                       cwd=work, env=java_env(work), text=True,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(archive):
        raise BuildError("class-data-sharing dump failed:\n" + r.stdout[-4000:])


def build(data, heap):
    """Compile if stale; return the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), "classes")
    jar = os.path.join(build_dir(), "graft-bench.jar")
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    # a jar, not a directory: class-data sharing only maps jar entries
    cp = jar + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    for f in (stamp_file, jar, os.path.join(build_dir(), "classes.jsa")):
        if os.path.exists(f):
            os.remove(f)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(build_dir(), "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-nowarn", "-d", out,
         "-classpath", os.path.join(jars, "*"), "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    with zipfile.ZipFile(jar, "w") as z:
        for dp, _, fs in os.walk(out):
            for f in sorted(fs):
                z.write(os.path.join(dp, f), os.path.relpath(os.path.join(dp, f), out))
    write_archive(cp, data, heap)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


if __name__ == "__main__":
    try:
        print(build(os.path.join(HERE, "data", "sf0.1"), "4g"))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
