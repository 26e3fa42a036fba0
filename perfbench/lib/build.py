"""Compile graft and the benchmark's Scala sources into the build directory.

graft's `build.sbt` puts the Spark distribution's jars on the classpath
(`unmanagedBase`) and adds no other main dependency; the Scala 2.13
compiler ships in the same directory. So the benchmark compiles graft's
main sources and its own sources in one `scalac` call against those jars,
writing only under the build directory. A content stamp over every
source file skips the compile when nothing changed.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess


class BuildError(Exception):
    pass


def spark_jars(root):
    """The Spark jar directory: `$SPARK_HOME/jars`, else the directory
    `build.sbt` names as `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jars: set SPARK_HOME or keep build.sbt's unmanagedBase")


def sources(root):
    graft = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                             recursive=True))
    if not graft:
        raise BuildError(f"no graft sources under {root}/src/main/scala")
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"),
                             recursive=True))
    return graft + bench


def stamp(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        h.update(b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure(root, build_dir):
    """Compile if the sources changed; returns (classes dir, jar dir,
    source stamp)."""
    jars = spark_jars(root)
    files = sources(root)
    digest = stamp(root, files)
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == digest:
                return classes, jars, digest
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + files
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if p.returncode != 0:
        raise BuildError("scalac failed:\n" + p.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(digest)
    return classes, jars, digest
