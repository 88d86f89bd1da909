#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles graft's sources (src/main/scala) together with the benchmark's
own (perfbench/src) using the Scala compiler that ships in Spark's jar
directory ($SPARK_HOME/jars), into .bench_build/perfbench/classes. The repo's sbt build is
not used or touched. A content hash of every source skips the compile
when nothing changed.

Usage, from the repo root:  python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def build_dir(root):
    return os.path.join(root, ".bench_build", "perfbench")


def sources(root):
    files = []
    for base in (os.path.join(root, "src", "main", "scala"),
                 os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def jars():
    """Spark's jars (Scala library and compiler included), found through
    SPARK_HOME or the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME") or os.path.dirname(os.path.dirname(
        os.path.realpath(shutil.which("spark-submit") or "/")))
    found = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not found:
        raise SystemExit(f"no Spark jars under {home}/jars (set SPARK_HOME)")
    return found


def classpath(root):
    """Runtime classpath: compiled classes, graft's resources, Spark."""
    return os.pathsep.join(
        [os.path.join(build_dir(root), "classes"),
         os.path.join(root, "src", "main", "resources")] + jars())


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_built(root, log=sys.stderr):
    """Compile if any source changed since the last build; returns the
    seconds spent compiling (0 when up to date)."""
    files = sources(root)
    out = build_dir(root)
    stamp = _stamp(files)
    stamp_file = os.path.join(out, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return 0.0
    t0 = time.time()
    tmp = os.path.join(out, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [j for j in jars() if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    args_file = os.path.join(out, "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(["-nowarn", "-encoding", "UTF-8", "-d", tmp,
                            "-classpath", os.pathsep.join(jars())] + files))
    cmd = ["java", "-Xss32m", "-Xmx3g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "@" + args_file]
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"scalac failed with exit code {r.returncode}")
    dest = os.path.join(out, "classes")
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return time.time() - t0


if __name__ == "__main__":
    secs = ensure_built(os.getcwd())
    print(f"[perfbench] build {'up to date' if secs == 0 else f'took {secs:.1f}s'}")
