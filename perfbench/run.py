#!/usr/bin/env python3
"""Run one benchmark workload (see perfbench/README.md).

    python3 perfbench/run.py --workload daily --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --selftest

Builds the engine and the benchmark from source on first use (build.py),
then runs the load generator in one JVM. Its report goes to stdout; the
last line is the JSON result. Spark's own log goes to
.bench_build/logs/<workload>.log. Exits non-zero without a result when
the engine cannot be built or the run does not finish.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import threading

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

TIMEOUT_S = 170


def java_cmd(cp, work):
    return (["java", "-Xmx3g", "-Xss8m", "-XX:+UseG1GC", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-Duser.timezone=UTC", "-Dspark.sql.session.timeZone=UTC"]
            + build.ADD_OPENS + ["-cp", cp, "graft.perfbench.Main"])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["backfill", "daily", "extract"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        return 2

    name = "selftest" if a.selftest else a.workload
    work = os.path.join(build.BUILD, "work", f"{name}-{os.getpid()}")
    logs = os.path.join(build.BUILD, "logs")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    if a.selftest:
        args = ["--selftest", "1", "--work", work,
                "--benchmark-json", os.path.join(build.ROOT, "BENCHMARK.json")]
    else:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work]
        if a.trace:
            args += ["--trace-out", os.path.join(
                build.BUILD, "traces", f"{a.workload}-seed{a.seed}.json")]
    last = ""
    with open(os.path.join(logs, f"{name}.log"), "w") as log:
        p = subprocess.Popen(java_cmd(cp, work) + args, stdout=subprocess.PIPE,
                             stderr=log, text=True, cwd=build.ROOT)
        timer = threading.Timer(TIMEOUT_S * (4 if a.selftest else 1), p.kill)
        timer.start()
        # a terminated runner takes its JVM with it
        signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
        try:
            for line in p.stdout:
                sys.stdout.write(line)
                sys.stdout.flush()
                if line.strip():
                    last = line.strip()
        finally:
            timer.cancel()
            if p.poll() is None:
                p.kill()
            rc = p.wait()
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0:
        print(f"[perfbench] load generator exited with code {rc}", file=sys.stderr)
        return rc
    if not a.selftest and not last.startswith("{"):
        print("[perfbench] no result line", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
