"""Benchmark entry point.

    python3 perfbench/run.py --workload editor|serve|analytics --seed N \
        --seconds S --trace 0|1

Run from the repository root. Builds the engine and the benchmark from
source on first use (see build.py), runs one workload in one JVM on Spark
local[N] with N = the cores this process may use, and prints one JSON result
as the last line of standard output. All files it writes stay under the
build directory; the per-run directory is removed before it exits.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

RUN_TIMEOUT_S = 170
WORKLOADS = ("editor", "serve", "analytics")


def commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT,
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    srcs = build.sources(build.ENGINE_SRC)
    return "src-" + build.digest(srcs)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    try:
        jar, jars, full, small, jsa = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print("[perfbench] build failed: %s" % e, file=sys.stderr)
        return 2

    out_root = build.build_dir()
    run_dir = os.path.join(out_root, "runs", "run-%d" % os.getpid())
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cores = len(os.sched_getaffinity(0))
    cds = ["-XX:SharedArchiveFile=" + jsa] if jsa else []
    cmd = (["java", "-Xmx3g", "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp")] +
           cds + build.JVM_BASE +
           ["-cp", build.classpath(jar, jars), "graftbench.Main", "run",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", full, "--small", small, "--run-dir", run_dir,
            "--trace-dir", os.path.join(out_root, "traces"),
            "--cores", str(cores), "--commit", commit()])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print("[perfbench] run timed out", file=sys.stderr)
        return 1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if not (isinstance(result, dict) and
            set(result) == {"correct", "attempted", "failed", "metrics"}):
        sys.stdout.write("\n".join(lines) + "\n")
        print("[perfbench] no result (exit %d)" % proc.returncode, file=sys.stderr)
        return 1
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
