"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark's own Scala driver (`perfbench/scala`) with the Scala
compiler that ships in Spark's jar directory, into `.perfbench/build`,
packs the classes into one jar, and dumps a class-data-sharing archive of
the classes a session loads (it cuts JVM start, session start and warm-up
by about 5 s on a 4-core box). The archive is part of every build: a
failed dump fails the build, and runs start with `-Xshare:on`, so a JVM
that cannot use the archive stops with an error instead of quietly
starting slower.

A build is reused while the sources hash the same. Run from the repo root:
    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile


def _spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the directory the
    project's own build.sbt takes its Spark jars from (unmanagedBase)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("build: set SPARK_HOME (no Spark jar directory found)")
    return m.group(1)


SPARK_JARS = _spark_jars()
SOURCE_DIRS = ("src/main/scala", "perfbench/scala")
OUT = ".perfbench/build"


def sources(root):
    found = []
    for d in SOURCE_DIRS:
        found += glob.glob(os.path.join(root, d, "**", "*.scala"), recursive=True)
    return sorted(found)


def _jar(prefix):
    hits = sorted(glob.glob(os.path.join(SPARK_JARS, prefix + "*.jar")))
    if not hits:
        raise SystemExit(f"build: no {prefix}*.jar under {SPARK_JARS}")
    return hits[-1]


def classpath(root):
    """Runtime classpath: the benchmark jar, then every Spark jar in name
    order (explicit, so the sharing archive sees the same path list)."""
    return os.pathsep.join([os.path.join(root, OUT, "perfbench.jar")] +
                           sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar"))))


def jvm_options(root, archive=True):
    """JVM options every driver JVM gets; `archive` requires the build's
    sharing archive."""
    opts = ["-XX:-UsePerfData", "-Xms1536m", "-Xmx1536m", "-Xss8m"]
    if archive:
        opts += ["-Xshare:on",
                 "-XX:SharedArchiveFile=" + os.path.join(root, OUT, "app.jsa")]
    for p in ADD_OPENS:
        opts += ["--add-opens", p + "=ALL-UNNAMED"]
    return opts


# what spark-submit adds for Spark on JDK 17
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def _jar_classes(classes, jar):
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))


def _dump_archive(root, out):
    scratch = os.path.join(out, "cds")
    os.makedirs(os.path.join(scratch, "tmp"))
    cmd = (["java", "-XX:ArchiveClassesAtExit=" + os.path.join(out, "app.jsa"),
            "-Djava.io.tmpdir=" + os.path.join(scratch, "tmp")] +
           jvm_options(root, archive=False) +
           ["-cp", classpath(root), "perfbench.CdsTraining", scratch])
    log = os.path.join(out, "cds.log")
    with open(log, "w") as f:
        r = subprocess.run(cmd, stdout=f, stderr=f)
    shutil.rmtree(scratch, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(os.path.join(out, "app.jsa")):
        with open(log) as f:
            tail = f.read()[-2000:]
        raise SystemExit(f"build: class-data-sharing dump failed "
                         f"(code {r.returncode}):\n{tail}")


def build(root, log=sys.stderr):
    """Compile if the sources changed since the last build. Raises
    SystemExit when there is nothing to compile or the compiler fails."""
    srcs = sources(root)
    if not any(s.startswith(os.path.join(root, "src", "main")) for s in srcs):
        raise SystemExit("build: engine sources (src/main/scala) not found")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    out = os.path.join(root, OUT)
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    classes = os.path.join(out, "classes")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    compiler = os.pathsep.join(_jar(j) for j in
                               ("scala-compiler-", "scala-library-",
                                "scala-reflect-"))
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
           "-Djava.io.tmpdir=" + out, "-cp", compiler, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-cp", os.path.join(SPARK_JARS, "*"),
           "-d", classes, "@" + argfile]
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    _jar_classes(classes, os.path.join(out, "perfbench.jar"))
    shutil.rmtree(classes)
    _dump_archive(root, out)
    with open(stamp_file, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    build(os.getcwd())
