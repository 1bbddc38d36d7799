#!/usr/bin/env python3
"""Build file of the streaming benchmark.

Compiles the library's sources (src/main/scala at the repository root)
together with the benchmark's own (streambench/src/main/scala) into
streambench/.build/classes, using the Scala compiler that ships among the
Spark jars, and packs them into streambench/.build/classes.jar. A build is
redone only when a source file changes. A run after a build writes a
class-data-sharing archive beside the jar (see run.py), which later runs
map instead of loading the same classes again.

    python3 streambench/build.py          # build
    python3 streambench/build.py test     # build, then run the benchmark's tests
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".build")

# Spark 4 on JDK 17 outside spark-submit (same list as the repository's build.sbt)
JVM_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]


class BuildError(Exception):
    pass


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def spark_jars():
    """The Spark jars the library builds against: the repository build's
    unmanagedBase, else $SPARK_HOME/jars."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if m:
        return m.group(1)
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    raise BuildError("no Spark jars: no unmanagedBase in build.sbt and no SPARK_HOME")


def sources(*dirs):
    found = []
    for d in dirs:
        found += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(found)


def compile_into(name, srcs, classpath):
    """Compile `srcs` into .build/<name>, unless they are unchanged."""
    digest = hashlib.sha256()
    for f in srcs + [os.path.abspath(__file__)]:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(OUT, name + ".sha256")
    classes = os.path.join(OUT, name)
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classes
    for stale in (classes + ".jar", classes + ".jsa"):
        if os.path.exists(stale):
            os.remove(stale)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(OUT, name + ".sources")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", classpath[-1],
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.pathsep.join(classpath), "@" + argfile]
    if subprocess.run(cmd).returncode != 0:
        raise BuildError("compilation of %s failed" % name)
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return classes


def jar_of(classes):
    """Pack a compiled class directory into a jar, once per build: a
    class-data-sharing archive takes jars only, no directories."""
    jar = classes + ".jar"
    if not os.path.exists(jar):
        with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
            for d, _, files in sorted(os.walk(classes)):
                for f in sorted(files):
                    z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
        os.replace(jar + ".tmp", jar)
    return jar


def archive():
    """The class-data-sharing archive of the runtime classpath."""
    return os.path.join(OUT, "classes.jsa")


def build(with_tests=False):
    """Build; return the runtime classpath entries."""
    lib = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(lib, "graft")):
        raise BuildError("library sources not found under %s" % lib)
    spark = spark_jars()
    if not glob.glob(os.path.join(spark, "scala-compiler*.jar")):
        raise BuildError("no Spark jars with a Scala compiler under %s" % spark)
    jars = os.path.join(spark, "*")
    os.makedirs(OUT, exist_ok=True)
    main = compile_into("classes", sources(lib, os.path.join(HERE, "src", "main", "scala")), [jars])
    cp = [jar_of(main), jars]
    if with_tests:
        test = compile_into("test-classes", sources(os.path.join(HERE, "src", "test", "scala")), cp)
        cp = [test] + cp
    return cp


def main():
    try:
        cp = build(with_tests="test" in sys.argv[1:])
    except BuildError as e:
        print("build failed: %s" % e, file=sys.stderr)
        return 2
    if "test" in sys.argv[1:]:
        work = os.path.join(HERE, ".work", "selftest-%d" % os.getpid())
        cmd = ([java(), "-Xmx2g"] + JVM_OPENS +
               ["-cp", os.pathsep.join(cp), "streambench.SelfTest", work])
        try:
            return subprocess.run(cmd, cwd=ROOT).returncode
        finally:
            shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
