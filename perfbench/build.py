"""Builds graft and the benchmark harness from source with scalac.

The Scala compiler and every library ship in Spark's jars directory
(`$SPARK_HOME/jars`), so the build needs neither sbt nor a network. It
compiles `src/main/scala` of the repository and `perfbench/src` into
`perfbench/.build/graft.jar`, and skips the compile when no source has
changed since the last one.

The first benchmark JVM after a build records a class-data sharing
archive (`perfbench/.build/classes.jsa`) as it exits; later ones map
Spark's and graft's classes from it instead of loading them one by one,
which takes seconds off set-up. The archive changes no timed work: the
timed passes run after a warm-up pass that has loaded every class
either way.

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
BUILD = os.path.join(HERE, ".build")
JAR = os.path.join(BUILD, "graft.jar")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
STAMP = os.path.join(BUILD, "stamp")

ADD_OPENS = ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")


class BuildError(Exception):
    pass


def spark_jars():
    jars = sorted(glob.glob(os.path.join(
        os.environ.get("SPARK_HOME", "/opt/spark"), "jars", "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler-") for j in jars):
        raise BuildError("no Scala compiler among Spark's jars; set SPARK_HOME")
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError(f"graft sources not found at {main}")
    files = []
    for base in (main, os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(files)


def java(work):
    """The java command prefix every benchmark JVM runs with. Class-data
    sharing needs the same class path, as jars, at record and at use."""
    tmp = os.path.abspath(os.path.join(work, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    # -UsePerfData: no hsperfdata file in the system's temporary directory
    cmd = ["java", "-Xmx4g", "-Xss8m", "-XX:-UsePerfData", "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
           f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}", "-Dspark.ui.enabled=false"]
    cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd.append(f"-XX:SharedArchiveFile={ARCHIVE}" if os.path.exists(ARCHIVE)
               else f"-XX:ArchiveClassesAtExit={ARCHIVE}")
    return cmd + ["-cp", os.pathsep.join([JAR] + spark_jars())]


def run_jvm(cmd, log_path, timeout):
    """Runs one JVM from the repository root, output to `log_path`;
    returns its exit code, or None when it had to be killed."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None


def compile_jar(files, log):
    jars = os.pathsep.join(spark_jars())
    classes = os.path.join(BUILD, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    print(f"[perfbench] compiling {len(files)} Scala files", file=log, flush=True)
    r = subprocess.run(["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
                        "-nowarn", "-d", classes, "-classpath", jars] + files,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for base in (classes, os.path.join(ROOT, "src", "main", "resources")):
            for d, _, names in sorted(os.walk(base)):
                for n in sorted(names):
                    p = os.path.join(d, n)
                    z.write(p, os.path.relpath(p, base))
    shutil.rmtree(classes)


def ensure_built(log=sys.stderr):
    """Compile when stale, dropping the archive of the previous build."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    if os.path.exists(JAR) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return
    os.makedirs(BUILD, exist_ok=True)
    for p in (STAMP, JAR, ARCHIVE):
        if os.path.exists(p):
            os.remove(p)
    compile_jar(files, log)
    with open(STAMP, "w") as fh:
        fh.write(stamp)


if __name__ == "__main__":
    try:
        ensure_built()
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
