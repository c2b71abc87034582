"""Build file of the benchmark package.

Compiles the library sources (src/main/scala) together with the benchmark
harness (perfbench/scala) with the Scala compiler that ships in Spark's
jars directory and packs them into .bench_build/jars/<stamp>/perfbench.jar,
where the stamp is a content digest over every source. A jar already built
from the same sources is reused, so switching between two versions of the
code does not rebuild; the newest few jars are kept.

    python3 perfbench/build.py
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
BUILD_DIR = os.path.join(ROOT, ".bench_build")
JARS_DIR = os.path.join(BUILD_DIR, "jars")
KEEP_JARS = 3
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
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        if exe:
            home = os.path.dirname(os.path.dirname(os.path.realpath(exe)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Spark installation with a Scala compiler found "
                         "(set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java found (set JAVA_HOME)")
    return exe


def sources():
    lib = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(lib):
        raise BuildError("library sources src/main/scala not found next to perfbench/")
    found = []
    for base in (lib, os.path.join(HERE, "scala")):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def jvm(jar, tmp):
    """The java command line every benchmark process uses."""
    opens = [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    return [java()] + opens + [
        "-Xmx3g", "-XX:+UseParallelGC",
        "-Djava.io.tmpdir=" + tmp,
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-Dspark.ui.enabled=false",
        "-cp", jar + os.pathsep + os.path.join(spark_jars(), "*")]


def compile_jar(srcs, jar):
    out = os.path.dirname(jar)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "classes"))
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(spark_jars(), "*")
    cmd = [java(), "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-encoding", "UTF-8", "-d", os.path.join(tmp, "classes"), "-classpath", cp,
           "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout.decode(errors="replace")[-4000:])
        raise BuildError("scalac failed")
    classes = os.path.join(tmp, "classes")
    with zipfile.ZipFile(os.path.join(tmp, "perfbench.jar"), "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(classes):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)
    os.remove(argfile)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)


def build():
    """Returns the jar built from the current sources, compiling it first
    if no jar of these sources exists yet.
    """
    srcs = sources()
    spark_jars()
    jar = os.path.join(JARS_DIR, digest(srcs)[:16], "perfbench.jar")
    if not os.path.exists(jar):
        os.makedirs(JARS_DIR, exist_ok=True)
        compile_jar(srcs, jar)
    os.utime(os.path.dirname(jar))
    dirs = sorted((os.path.join(JARS_DIR, d) for d in os.listdir(JARS_DIR)
                   if not d.endswith(".tmp")), key=os.path.getmtime, reverse=True)
    for old in dirs[KEEP_JARS:]:
        shutil.rmtree(old, ignore_errors=True)
    return jar


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
