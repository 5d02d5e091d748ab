#!/usr/bin/env python3
"""Build file of the benchmark package: compiles graft's main sources and
the harness under perfbench/src with the Scala compiler that ships in
Spark's jar directory, into .bench_build/classes-<source hash>/.

The output directory is keyed by a hash of every source and resource, so
an unchanged tree is not rebuilt. Usage: python3 perfbench/build.py
(prints the classes directory).
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        sys.exit(f"build: no Spark jars under '{jars}' (set SPARK_HOME)")
    return jars


def sources(root):
    main = os.path.join(root, "src", "main")
    scala = sorted(glob.glob(os.path.join(main, "scala", "**", "*.scala"), recursive=True))
    if not scala:
        sys.exit(f"build: no graft sources under {main}")
    harness = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    res = os.path.join(main, "resources")
    resources = sorted(p for p in glob.glob(os.path.join(res, "**"), recursive=True)
                       if os.path.isfile(p))
    return scala + harness, res, resources


def build(root=ROOT, work=None):
    work = work or os.path.join(root, ".bench_build")
    srcs, res, resources = sources(root)
    h = hashlib.sha256()
    for p in srcs + resources:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(work, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    jars = spark_jars()
    compiler = [glob.glob(os.path.join(jars, f"{n}-2.13*.jar"))
                for n in ("scala-compiler", "scala-library", "scala-reflect")]
    if not all(compiler):
        sys.exit(f"build: scala compiler jars missing under {jars}")
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(work, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit("build: scalac failed")
    for p in resources:
        dst = os.path.join(tmp, os.path.relpath(p, res))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copy(p, dst)
    open(os.path.join(tmp, ".ok"), "w").close()
    for old in glob.glob(os.path.join(work, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build())
