"""Build definition of the benchmark package.

Compiles the program's sources (`src/main/scala` at the repository root)
together with the benchmark's own sources (`perfbench/src`) with the Scala
compiler that ships among the Spark jars, against those jars — the same
classpath `build.sbt` declares through `unmanagedBase` — and packs the
classes into `.bench_build/perfbench/perfbench.jar` under the repository
root. A short class-loading run (`graft.perfbench.Train`) then dumps a
class-data-sharing archive next to it: a fresh JVM maps the Spark classes
it needs instead of loading them from the jars, which roughly halves the
start-up of a Spark session on a small host. The build is reused while a
stamp over every source file and the jar list matches.
"""

import hashlib
import os
import re
import shutil
import subprocess
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
JAR = os.path.join(OUT, "perfbench.jar")
ARCHIVE = os.path.join(OUT, "perfbench.jsa")
STAMP = os.path.join(OUT, "build.stamp")
HEAP = "2g"
# JVM flags Spark needs on JDK 17 outside spark-submit, as in build.sbt.
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
    """Directory of the Spark jars: $SPARK_HOME/jars, else the
    `unmanagedBase` that build.sbt compiles against."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt, encoding="utf-8") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            candidates.append(m.group(1))
    for d in candidates:
        if os.path.isdir(d) and any(n.startswith("spark-sql_") for n in os.listdir(d)):
            return d
    raise BuildError("Spark jars not found (set SPARK_HOME, or keep build.sbt's unmanagedBase)")


def sources():
    program = os.path.join(ROOT, "src", "main", "scala")
    found = []
    for top in (program, os.path.join(HERE, "src")):
        for dirpath, _, files in os.walk(top):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    if not any(p.startswith(program + os.sep) for p in found):
        raise BuildError(f"program sources not found under {program}")
    return sorted(found)


def java_command(jars, work, main, args, archive_flag=None):
    """The benchmark JVM: pinned heap, scratch and temp files under `work`."""
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    if archive_flag:
        cmd.append(archive_flag)
    elif os.path.isfile(ARCHIVE):
        cmd.append(f"-XX:SharedArchiveFile={ARCHIVE}")
    for pkg in ADD_OPENS:
        cmd += ["--add-opens", f"{pkg}=ALL-UNNAMED"]
    return cmd + ["-cp", os.pathsep.join([JAR, os.path.join(jars, "*")]), main] + args


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "tmp"))
    return path


def build(log):
    """Compile when the sources changed; return the jars directory."""
    jars = spark_jars()
    if not any(n.startswith("scala-compiler") for n in os.listdir(jars)):
        raise BuildError(f"no scala-compiler jar in {jars}")
    srcs = sources()
    h = hashlib.sha256()
    # this file too: the JVM flags below shape the class-sharing archive
    for p in srcs + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    if os.path.isfile(JAR) and os.path.isfile(STAMP):
        with open(STAMP, encoding="utf-8") as f:
            if f.read().strip() == stamp:
                return jars
    for stale in (STAMP, JAR, ARCHIVE):
        if os.path.exists(stale):
            os.remove(stale)
    classes = os.path.join(OUT, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w", encoding="utf-8") as f:
        f.write("\n".join(srcs))
    log(f"perfbench: compiling {len(srcs)} Scala sources")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("compilation failed:\n" + r.stdout[-4000:])
    with zipfile.ZipFile(JAR, "w") as z:
        for dirpath, _, files in os.walk(classes):
            for f in files:
                p = os.path.join(dirpath, f)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)
    log("perfbench: class-loading run for the class-data-sharing archive")
    work = fresh_dir(os.path.join(OUT, "train"))
    r = subprocess.run(
        java_command(jars, work, "graft.perfbench.Train", [work],
                     archive_flag=f"-XX:ArchiveClassesAtExit={ARCHIVE}"),
        cwd=ROOT, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0:
        # the archive only speeds start-up; run without it
        log("perfbench: class-loading run failed, continuing without the archive:\n"
            + r.stderr[-2000:])
        if os.path.exists(ARCHIVE):
            os.remove(ARCHIVE)
    with open(STAMP, "w", encoding="utf-8") as f:
        f.write(stamp)
    return jars
