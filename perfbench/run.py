#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one closed-loop client.

Run from the repo root:

  python3 perfbench/run.py --workload floor --seed 1 --seconds 10 --trace 0

Builds graft and the benchmark from source (perfbench/build.py), runs one
JVM with a local[N] Spark session (N = cores; the `kernels` workload times
without Spark), checks every op's output and prints, as the last line of
stdout, one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, and the span file, per-op counts and per-layer self times
are written under .bench_build/perfbench/out/. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("floor", "incremental", "kernels")
RUN_LIMIT_S = 170  # the JVM is killed past this, build time excluded

# Spark 4 on JDK 17 outside spark-submit needs these opens (the same list
# graft's build.sbt passes to forked runs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def parse():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record", action="store_true",
                   help="rewrite perfbench/expected/<workload>.tsv from this "
                        "tree instead of checking against it")
    return p.parse_args()


def remove_local_dir(pid):
    """graft keeps Spark's local files and streaming checkpoints in a
    per-process directory on tmpfs when it is writable (else under
    java.io.tmpdir, which is removed with the run's temp directory);
    remove the one the JVM left."""
    shutil.rmtree(f"/dev/shm/graft_local_{pid}", ignore_errors=True)


def run_jvm(root, a, out):
    # graft.Bench's variable; the default is where TESTDATA.md puts sf0.1
    sf = os.environ.get("SPARK_GRAFT_SF_DIR",
                        os.path.join(os.path.expanduser("~"), "testdata", "sf0.1"))
    if a.workload != "kernels" and not os.path.isfile(
            os.path.join(sf, "lineitem.parquet")):
        fail(f"fixtures not found under {sf} (set SPARK_GRAFT_SF_DIR)")
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    log_path = os.path.join(out, "jvm.log")
    expected = os.path.join(HERE, "expected", f"{a.workload}.tsv")
    # the heap starts at its full size: grown on demand, the peak RSS of
    # identical runs jumped between two levels
    cmd = (["java", "-Xms4g", "-Xmx4g", "-XX:+UseParallelGC",
            "-Duser.timezone=UTC",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}"]
           + [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
           + ["-cp", build.classpath(root), "graft.perfbench.Main",
              a.workload, str(a.seed), str(a.seconds), str(a.trace), sf, out,
              expected] + (["record"] if a.record else []))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=out, start_new_session=True)
        try:
            proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            print(f"[perfbench] run exceeded {RUN_LIMIT_S}s; killed",
                  file=sys.stderr)
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            remove_local_dir(proc.pid)
            shutil.rmtree(tmp, ignore_errors=True)
    with open(log_path) as fh:
        for line in fh:
            if line.startswith("[perfbench]"):
                print(line.rstrip(), file=sys.stderr)
    res_path = os.path.join(out, "result.json")
    if proc.returncode != 0 or not os.path.exists(res_path):
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"JVM exited with {proc.returncode} and no result; log: {log_path}")
    with open(res_path) as fh:
        return json.load(fh)


def main():
    a = parse()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a graft checkout: src/main/scala/graft "
             "is missing")
    build.ensure_built(root)
    out = os.path.join(build.build_dir(root), "out",
                       f"{a.workload}-trace{a.trace}-seed{a.seed}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    res = run_jvm(root, a, out)

    info = res["info"]
    e2e = res["e2e"]
    print(f"[perfbench] {a.workload} seed={a.seed}: "
          f"op_tail_s={e2e['op_tail_s']['value']:.4f} at "
          f"p{info['op_tail_percentile']} of {info['op_samples']} ops; "
          f"passes={info['passes']}; fail_ratio={info['fail_ratio']}; "
          f"env.calib_s={info['env.calib_s']} (end {info['env.calib_end_s']})")
    last = os.path.join(build.build_dir(root), "out", f"{a.workload}.untraced.json")
    if a.trace == 0:
        with open(last, "w") as fh:
            json.dump({"wall_s": e2e["wall_s"]["value"]}, fh)
        metrics = e2e
    else:
        metrics = res["layers"]
        self_s = {k[len("self_s."):]: float(v) for k, v in info.items()
                  if k.startswith("self_s.")}
        if self_s:
            print("[perfbench] self time per pass (s): " + ", ".join(
                f"{k}={v:.3f}" for k, v in sorted(self_s.items())))
        with open(os.path.join(out, "self_times.json"), "w") as fh:
            json.dump(self_s, fh, indent=1, sort_keys=True)
        if os.path.exists(last):
            with open(last) as fh:
                base = json.load(fh)["wall_s"]
            over = e2e["wall_s"]["value"] / base - 1
            print(f"[perfbench] tracing overhead: wall_s traced "
                  f"{e2e['wall_s']['value']:.3f}s vs untraced {base:.3f}s "
                  f"({over:+.1%})")
        print(f"[perfbench] spans and per-op counts in {out}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
