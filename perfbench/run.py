"""CDC replication benchmark: one workload per command.

    python3 perfbench/run.py --workload cdc_bulk --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Builds the program and the driver from source on first use (build.py),
then runs the driver in one JVM at local[N], N = the CPUs this process may
use. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. Work files go to
.bench_out/ at the repository root.
"""
import argparse
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["cdc_bulk", "cdc_trickle"]
TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")

    classpath, archive = build.build()
    out = os.path.join(build.ROOT, ".bench_out")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    cmd = build.jvm(classpath, archive) + [
        f"-Djava.io.tmpdir={out}/tmp", "perfbench.Main", "--out", out,
        "--cores", str(len(os.sched_getaffinity(0)))]
    if a.self_test:
        cmd += ["--self-test", "1"]
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
    proc = subprocess.Popen(cmd, cwd=build.ROOT, env=build.env())
    try:
        rc = proc.wait(timeout=TIMEOUT_S)
    except BaseException:
        proc.kill()
        proc.wait()
        print("perfbench: run did not finish in time", file=sys.stderr)
        rc = 1
    sys.exit(rc)


if __name__ == "__main__":
    main()
