"""Build file of the ETL benchmark: compiles the engine's sources
(`src/main/scala`) and the benchmark's own (`etlbench/src`) with the
Scala compiler among Spark's jars, into `.bench_build/classes`.
A stamp of the sources' content skips the compile when nothing changed.

    python3 etlbench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

SCALA_VERSION = "2.13.17"


def spark_jars(root):
    """The Spark jars directory: `SPARK_JARS`, else the `unmanagedBase` the
    sbt build compiles against, else `$SPARK_HOME/jars`."""
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            return m.group(1)
    except FileNotFoundError:
        pass
    return os.path.join(os.environ["SPARK_HOME"], "jars")


def sources(root):
    files = []
    for d in ("src/main/scala", "etlbench/src"):
        files += glob.glob(os.path.join(root, d, "**", "*.scala"),
                           recursive=True)
    return sorted(files)


def stamp(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile if needed; returns the classes directory."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        raise FileNotFoundError("no engine sources under src/main/scala")
    out = os.path.join(root, ".bench_build", "classes")
    stamp_file = os.path.join(root, ".bench_build", "stamp")
    files = sources(root)
    digest = stamp(root, files)
    if os.path.exists(stamp_file) and open(stamp_file).read() == digest:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    jars = spark_jars(root)
    compiler = os.pathsep.join(
        os.path.join(jars, f"scala-{j}-{SCALA_VERSION}.jar")
        for j in ("compiler", "library", "reflect"))
    args_file = os.path.join(root, ".bench_build", "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(f'"{p}"' for p in files))
    subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
         "-nowarn", "-d", out, "-classpath", os.path.join(jars, "*"),
         "@" + args_file],
        check=True, stdout=sys.stderr, timeout=600)
    with open(stamp_file, "w") as f:
        f.write(digest)
    return out


if __name__ == "__main__":
    print(build(os.getcwd()))
