"""Builds the library and the benchmark from source.

    python3 perfbench/build.py

1. Compiles the repository's main Scala sources together with the
   benchmark's own (perfbench/src), with the Scala compiler in the Spark
   jars directory the library builds against (build.sbt's unmanagedBase,
   or $SPARK_HOME/jars).
2. Packs the classes and the library's resources into
   perfbench/build/graftbench.jar.
3. Records a class-data-sharing archive (perfbench/build/classes.jsa) from
   one short tiny run of each measured workload, so each benchmark JVM maps the
   classes instead of loading them. A failed recording fails the build,
   so every build starts its JVMs the same way.

Skipped when a stamp of every source file's content matches the last build.
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
OUT = os.path.join(HERE, "build")
JAR = os.path.join(OUT, "graftbench.jar")
ARCHIVE = os.path.join(OUT, "classes.jsa")
STAMP = os.path.join(OUT, "stamp")

JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
               "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
               "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def spark_jars():
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(REPO, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        sys.exit("perfbench: build.sbt names no unmanagedBase; set SPARK_HOME")
    return m.group(1)


def classpath():
    return os.pathsep.join([JAR, os.path.join(spark_jars(), "*")])


def heap():
    """MemTotal/2, clamped to 2-8g, as the repository's tier-1 tests size it."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def java(work, archive_flag, args):
    """The benchmark JVM's command line: build.sbt's module opens, UTC,
    every temporary file under `work`, JVM logging on stderr only."""
    return (["java", f"-Xmx{heap()}", archive_flag, "-Xlog:disable", "-Xlog:all=error:stderr"] +
            [x for m in JDK17_OPENS for x in ("--add-opens", f"java.base/{m}=ALL-UNNAMED")] +
            ["-Dspark.ui.enabled=false", "-Duser.timezone=UTC",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             f"-Dderby.system.home={work}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-cp", classpath(), "graftbench.Main", "--work", work] + args)


def fresh(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "tmp"))


def inputs():
    """Every file the build reads: library sources and resources, and the
    benchmark's sources."""
    found = []
    for root in (os.path.join(REPO, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(root):
            found += [os.path.join(d, f) for f in files]
    return sorted(found)


def compile_jar(srcs):
    classes = os.path.join(OUT, "classes")
    os.makedirs(classes)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(spark_jars(), "*")
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(["java", "-Xss16m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile],
                       cwd=REPO, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(OUT, ignore_errors=True)
        sys.exit(f"perfbench: compilation failed ({r.returncode})")
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for root in (classes, os.path.join(REPO, "src", "main", "resources")):
            for d, _, files in os.walk(root):
                for f in sorted(files):
                    p = os.path.join(d, f)
                    z.write(p, os.path.relpath(p, root))
    shutil.rmtree(classes)


def record_archive():
    work = os.path.join(OUT, "train")
    fresh(work)
    print("perfbench: recording the class-data-sharing archive", file=sys.stderr, flush=True)
    proc = subprocess.Popen(java(work, f"-XX:ArchiveClassesAtExit={ARCHIVE}",
                                 ["--workload", "train", "--seed", "1"]),
                            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    try:
        code = proc.wait(timeout=600)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        code = "a timeout"
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.isfile(ARCHIVE):
        shutil.rmtree(OUT, ignore_errors=True)
        sys.exit(f"perfbench: recording the class-data-sharing archive failed ({code})")


def build():
    """Builds when the sources changed; returns the JVM's archive flag."""
    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(REPO, "build.sbt")):
        sys.exit("perfbench: no library sources next to the benchmark "
                 "(expected build.sbt and src/main/scala)")
    if not os.path.isdir(spark_jars()):
        sys.exit(f"perfbench: Spark jars not found at {spark_jars()} (set SPARK_HOME)")
    files = inputs()
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, REPO).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    if not (os.path.isfile(STAMP) and open(STAMP).read() == stamp):
        shutil.rmtree(OUT, ignore_errors=True)
        os.makedirs(OUT)
        compile_jar([p for p in files if p.endswith(".scala")])
        record_archive()
        with open(STAMP, "w") as f:
            f.write(stamp)
    return f"-XX:SharedArchiveFile={ARCHIVE}"


if __name__ == "__main__":
    build()
