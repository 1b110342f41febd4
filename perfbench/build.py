"""Builds graft and the perfbench harness from source with scalac.

Compiles `src/main/scala` (the program) together with `perfbench/src`
(the harness) into one class directory, copying `src/main/resources`
alongside. The Scala compiler and every library come from the Spark
distribution (`$SPARK_HOME/jars`, default /opt/spark/jars), the same
jars graft's build.sbt compiles against. A build is skipped when the
source hash recorded with the last build still matches. `run.py`
calls `build()` before every run.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def sources():
    """(program sources, harness sources, resource root)."""
    prog = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(prog):
        raise SystemExit(f"perfbench: no program sources at {prog}")
    def scala_files(d):
        return sorted(os.path.join(dp, f) for dp, _, fs in os.walk(d)
                      for f in fs if f.endswith(".scala"))
    return (scala_files(prog), scala_files(os.path.join(HERE, "src")),
            os.path.join(ROOT, "src", "main", "resources"))


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(build_dir):
    """Returns the class directory, compiling first if sources changed."""
    prog, harness, resources = sources()
    res = sorted(os.path.join(dp, f) for dp, _, fs in os.walk(resources)
                 for f in fs) if os.path.isdir(resources) else []
    key = source_hash(prog + harness + res)
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(classes, ".source-sha256")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(spark_jars(), "*")
    argfile = os.path.join(build_dir, "scalac-sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(prog + harness))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        raise SystemExit("perfbench: compilation failed")
    for f in res:
        dst = os.path.join(tmp, os.path.relpath(f, resources))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    with open(os.path.join(tmp, ".source-sha256"), "w") as fh:
        fh.write(key)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes
