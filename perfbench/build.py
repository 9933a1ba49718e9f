"""Build file of the benchmark.

Compiles the repository's Scala sources (src/main/scala) together with the
benchmark's own (perfbench/scala) with the Scala compiler that ships in
Spark's jar directory, into .bench_build/perfbench/perfbench.jar.

A stamp of the source contents makes a rebuild a no-op when nothing changed.

    python3 perfbench/build.py        # prints the jar path
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
JAR = os.path.join(OUT, "perfbench.jar")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "scala")]

# Spark on JDK 17 outside spark-submit (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the repository's build.sbt
    compiles against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        jars = m.group(1) if m else ""
    if not os.path.isdir(jars):
        raise BuildError(f"no Spark jar directory found ({jars or 'unset'}); set SPARK_HOME")
    return jars


def sources():
    missing = [d for d in SOURCE_DIRS if not os.path.isdir(d)]
    if missing:
        raise BuildError(f"source directory missing: {missing[0]}")
    found = []
    for d in SOURCE_DIRS:
        for dirpath, _, names in os.walk(d):
            found += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(found)


def jvm_command(work, main_args):
    """The benchmark JVM: one process, 3 GiB heap, log4j at WARN, every
    file it writes (native-library extraction included) under `work`. It
    starts with the JDK's own class-data archive only, as the program's
    launch paths do, so class loading counts in full towards `setup_s`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Xss4m", "-XX:+UseG1GC", "-Duser.timezone=UTC",
           "-Djava.io.tmpdir=" + tmp, "-XX:-UsePerfData",
           "-Xlog:disable", "-Xlog:all=error:stderr",
           "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", os.pathsep.join([JAR, os.path.join(spark_jars(), "*")]),
                  "graft.perfbench.Main", "--work", work] + main_args


def compile_jar(srcs, jars):
    tmp = os.path.join(OUT, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(OUT, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    res = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
                          "-nowarn", "-d", tmp, "-cp", cp, "@" + args_file],
                         stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        raise BuildError(f"scalac failed with exit code {res.returncode}")
    with zipfile.ZipFile(JAR + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _, names in os.walk(tmp):
            for n in sorted(names):
                path = os.path.join(dirpath, n)
                z.write(path, os.path.relpath(path, tmp))
    os.replace(JAR + ".tmp", JAR)
    shutil.rmtree(tmp)


def build():
    """Compile if the sources changed; return the jar path."""
    srcs = sources()
    jars = spark_jars()
    digest = hashlib.sha256(jars.encode())
    for path in srcs:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    stamp_file = os.path.join(OUT, "build.stamp")
    if os.path.exists(JAR) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return JAR
    os.makedirs(OUT, exist_ok=True)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    compile_jar(srcs, jars)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return JAR


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
