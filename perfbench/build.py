"""Builds graft (`src/main/scala`) and the benchmark harness
(`perfbench/scala`) with the Scala compiler that ships in the Spark jars.

The classes go to `.bench_build/classes` and are packed into
`.bench_build/perfbench.jar` in the checkout, keyed by a digest of every
source file, so a rebuild happens only when a source changes. The jar (not
the directory) is what a run puts on the class path, so that the JVM's
class-data-sharing archive (`run.py`) can hold its classes. No sbt: the
benchmark reads nothing outside the checkout but the JDK and the Spark
jars."""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

SPARK_JARS = os.environ.get("SPARK_JARS_DIR", "/opt/spark/jars")


def sources(root):
    files = []
    for d in ("src/main/scala", "perfbench/scala"):
        files += glob.glob(os.path.join(root, d, "**", "*.scala"), recursive=True)
        files += glob.glob(os.path.join(root, d, "**", "*.java"), recursive=True)
    return sorted(files)


def source_digest(root):
    h = hashlib.sha256()
    for f in sources(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(jar):
    return os.pathsep.join([jar, os.path.join(SPARK_JARS, "*")])


def archive_path(root):
    """The class-data-sharing archive of the current jar (made by `run.py`)."""
    return os.path.join(root, ".bench_build", "perfbench.jsa")


def pack(classes, jar):
    tmp = jar + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                path = os.path.join(d, f)
                z.write(path, os.path.relpath(path, classes))
    os.replace(tmp, jar)


def ensure(root):
    """Compile if needed; return the jar of graft and the harness."""
    if not glob.glob(os.path.join(root, "src/main/scala/graft/*.scala")):
        raise SystemExit("perfbench: no graft sources under src/main/scala; "
                         "run from the root of a full checkout")
    build = os.path.join(root, ".bench_build")
    classes = os.path.join(build, "classes")
    jar = os.path.join(build, "perfbench.jar")
    stamp = os.path.join(build, "classes.sha256")
    digest = source_digest(root)
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(jar):
        return jar
    for stale in (stamp, jar, archive_path(root)):
        if os.path.exists(stale):
            os.remove(stale)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    print("perfbench: compiling graft and the harness", file=sys.stderr, flush=True)
    jars = os.path.join(SPARK_JARS, "*")
    cmd = ["java", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", jars] + sources(root)
    r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    pack(classes, jar)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return jar
