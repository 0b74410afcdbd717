#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources together with
the harness in perfbench/scala into one class directory.

The Scala compiler and every library come from the Spark distribution's
jars (``$SPARK_HOME/jars``, else the ``unmanagedBase`` directory the repo's
build.sbt compiles against), so no dependency is resolved. The output lives
under ``perfbench/.build/<digest>/classes`` where the digest covers every
compiled source; an unchanged tree reuses the last build.

Usage: python3 perfbench/build.py      (from the repository root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root="."):
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"no Scala compiler under {jars}")
    return os.path.join(jars, "*")


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"no graft sources at {main}")
    srcs = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    srcs += sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    return srcs


def build(root, log=sys.stderr):
    """Returns the class directory, the source digest and the compile time
    (None when an unchanged tree reused the last build)."""
    srcs = sources(root)
    jars = spark_jars(root)
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            digest.update(hashlib.sha256(f.read()).digest())
    tag = digest.hexdigest()[:16]
    out_root = os.path.join(HERE, ".build")
    classes = os.path.join(out_root, tag, "classes")
    if os.path.isdir(classes):
        return classes, tag, None
    tmp = os.path.join(out_root, tag + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(tmp, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    print(f"[build] compiling {len(srcs)} sources", file=log, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-Ybackend-parallelism", "4", "-classpath", jars,
           "-d", tmp, "@" + args_file]
    t0 = time.time()
    proc = subprocess.run(cmd, stdout=log, stderr=log, cwd=tmp)
    took = time.time() - t0
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"compilation failed (exit {proc.returncode})")
    os.remove(args_file)
    os.makedirs(os.path.dirname(classes), exist_ok=True)
    os.rename(tmp, classes)
    for old in os.listdir(out_root):  # keep only the current build
        if old != tag:
            shutil.rmtree(os.path.join(out_root, old), ignore_errors=True)
    print(f"[build] compiled in {took:.1f} s", file=log, flush=True)
    return classes, tag, took


if __name__ == "__main__":
    print(build(os.getcwd())[0])
