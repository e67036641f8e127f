#!/usr/bin/env python3
"""Builds the program and the benchmark into `.bench_build/perfbench` under
the checkout, with the Scala compiler that ships in Spark's jar directory.

  program.jar   src/main/scala + src/main/resources, the library under test
  bench.jar     perfbench/scala, compiled against the program
  app.jsa       a class-data-sharing archive of the classes one set-up of
                every workload loads: JVM start-up and first queries load
                classes from it instead of from ~300 jars

Each step reruns only when its inputs change.
Usage: python3 perfbench/build.py   (prints the runtime classpath)
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
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
ARCHIVE = os.path.join(OUT, "app.jsa")

# Spark on JDK 17 outside spark-submit needs these (JavaModuleOptions).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]


class BuildError(Exception):
    pass


def jvm(classpath, work, *args, archive=None):
    """The benchmark JVM's command line; training and runs share it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # C1 only: C2's warm-up runs 30-40 s past set-up, so a window would
    # measure how far the JIT has got instead of the program
    return ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
            *ADD_OPENS, *(archive or []),
            f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
            "-cp", classpath, "perfbench.Main", *args]


def _files(root, exts):
    found = []
    for d, _, files in os.walk(root):
        found += [os.path.join(d, f) for f in files if f.endswith(exts)]
    return sorted(found)


def _stamp(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _fresh(name, stamp):
    path = os.path.join(OUT, name + ".stamp")
    if not os.path.exists(path):
        return False
    with open(path) as f:
        return f.read() == stamp


def _mark(name, stamp):
    with open(os.path.join(OUT, name + ".stamp"), "w") as f:
        f.write(stamp)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the directory the
    program's own build.sbt names as its unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  open(sbt).read()) if os.path.exists(sbt) else None
    if not m:
        raise BuildError("set SPARK_HOME: build.sbt names no Spark jar directory")
    return m.group(1)


def _jar(name, sources, classpath, stamp, resources=None):
    """Compiles `sources` and packs the classes into OUT/<name>.jar."""
    jar = os.path.join(OUT, name + ".jar")
    if _fresh(name, stamp) and os.path.exists(jar):
        return jar
    classes = os.path.join(OUT, name + "-classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args_file = os.path.join(OUT, name + "-sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(sources))
    print(f"[perfbench] compiling {name} ({len(sources)} files)", file=sys.stderr)
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
                        "scala.tools.nsc.Main", "-nowarn", "-encoding", "UTF-8",
                        "-d", classes, "-classpath", classpath, "@" + args_file],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"{name} failed to compile")
    if resources and os.path.isdir(resources):
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for p in _files(classes, ("",)):
            z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)
    _mark(name, stamp)
    return jar


def _archive(classpath, stamp):
    """Records the class-data-sharing archive from one training run;
    returns the JVM flags that use it (none if the training run failed)."""
    if _fresh("app.jsa", stamp):
        return [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []
    work = os.path.join(OUT, "train")
    shutil.rmtree(work, ignore_errors=True)
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    print("[perfbench] recording the class-data-sharing archive", file=sys.stderr)
    r = subprocess.run(jvm(classpath, work, "--train", "--work", work,
                           archive=[f"-XX:ArchiveClassesAtExit={ARCHIVE}"]),
                       cwd=ROOT, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    shutil.rmtree(work, ignore_errors=True)
    _mark("app.jsa", stamp)
    if r.returncode != 0 or not os.path.exists(ARCHIVE):
        print("[perfbench] training run failed; running without the archive",
              file=sys.stderr)
        if os.path.exists(ARCHIVE):
            os.remove(ARCHIVE)
        return []
    return [f"-XX:SharedArchiveFile={ARCHIVE}"]


def build():
    """Returns (classpath, archive flags); raises BuildError when the
    program's sources or Spark's jars are missing or do not compile."""
    program = _files(os.path.join(ROOT, "src", "main", "scala"), (".scala",))
    if not program:
        raise BuildError("no program sources under src/main/scala")
    jars = spark_jars()
    spark = sorted(glob.glob(os.path.join(jars, "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler-") for j in spark):
        raise BuildError(f"no Scala compiler under {jars}")
    os.makedirs(OUT, exist_ok=True)
    resources = os.path.join(ROOT, "src", "main", "resources")
    spark_cp = os.pathsep.join(spark)
    program_stamp = _stamp(program + _files(resources, ("",)), spark_cp)
    program_jar = _jar("program", program, spark_cp, program_stamp, resources)
    bench = _files(os.path.join(HERE, "scala"), (".scala",))
    bench_stamp = _stamp(bench, program_stamp)
    cp = os.pathsep.join([program_jar, spark_cp])
    bench_jar = _jar("bench", bench, cp, bench_stamp)
    classpath = os.pathsep.join([bench_jar, cp])
    return classpath, _archive(classpath, bench_stamp)


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(1)
