#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark (perfbench/src) into <target>/classes with the Scala
compiler that ships among the Spark jars the sbt build already uses (its
`unmanagedBase`). Recompiles only when a source or resource changed.

Usage: python3 perfbench/build.py [target-dir]   (default .bench_build)
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys


def jar_dir(root):
    """The Spark jar directory: $SPARK_HOME/jars, else build.sbt's
    unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase jar directory; set SPARK_HOME")
    return m.group(1)


def inputs(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"), recursive=True))
    res = sorted(p for p in glob.glob(os.path.join(root, "src/main/resources/**"), recursive=True)
                 if os.path.isfile(p))
    if not main or not bench:
        raise SystemExit(f"no program or benchmark sources under {root}")
    return main + bench, res


def build(root, target):
    """Returns the classes directory, compiling first if it is stale."""
    os.makedirs(target, exist_ok=True)
    with open(os.path.join(target, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        srcs, res = inputs(root)
        h = hashlib.sha256()
        for p in srcs + res:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
        digest = h.hexdigest()
        classes = os.path.join(target, "classes")
        stamp = os.path.join(target, "classes.sha256")
        if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest:
            return classes
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        cp = os.path.join(jar_dir(root), "*")
        subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", cp] + srcs,
                       check=True, stdout=sys.stderr)
        res_root = os.path.join(root, "src/main/resources")
        for p in res:
            dst = os.path.join(tmp, os.path.relpath(p, res_root))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copy(p, dst)
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        with open(stamp, "w") as f:
            f.write(digest)
        return classes


if __name__ == "__main__":
    root = os.getcwd()
    print(build(root, os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".bench_build")))
