#!/usr/bin/env python3
"""Build file of the benchmark: compiles the repo's main sources plus
the benchmark's own Scala sources (plus the repo's main resources) with
the Scala compiler that ships in
Spark's jar directory, without touching the repo's sbt build.

    python3 perfbench/build.py        # prints the classes directory

Output goes to ``.perfbench/build/<digest>/classes`` under the current
directory (the repo root); the digest covers every compiled source and
the Spark jar list, so an unchanged tree is not rebuilt.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(repo="."):
    """Spark's jar directory: ``$SPARK_HOME/jars``, else the
    ``unmanagedBase`` directory the repo's ``build.sbt`` names."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(repo, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            raise SystemExit("set SPARK_HOME: build.sbt names no unmanagedBase")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"no Scala compiler under {jars} (set SPARK_HOME)")
    return jars


def sources(repo):
    main = os.path.join(repo, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"{main} not found: run from the repo root")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    return files


def build(repo=".", work=".perfbench"):
    jars = spark_jars(repo)
    srcs = sources(repo)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, repo).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    resources = os.path.join(repo, "src", "main", "resources")
    for p in sorted(glob.glob(os.path.join(resources, "**", "*"), recursive=True)):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, repo).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(work, "build", h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, ".done")):
        return os.path.abspath(classes)
    shutil.rmtree(os.path.join(work, "build"), ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"compile failed ({r.returncode})")
    if os.path.isdir(resources):  # service registrations, as sbt packages them
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    open(os.path.join(out, ".done"), "w").close()
    return os.path.abspath(classes)


if __name__ == "__main__":
    print(build())
