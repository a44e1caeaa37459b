#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload ann_search --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selfcheck

Builds the library and the benchmark if their sources changed (see
build.py), then runs one workload in one JVM on local[<cores>]. The last
stdout line is the JSON result; the exit code is non-zero when the run
fails or an output check fails. --selfcheck runs every workload at tiny
sizes, traced and untraced, and checks that a corrupted output is caught.
Everything the run writes stays under .bench_build/ in the checkout.
"""
import argparse
import os
import pathlib
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ["ann_search", "ann_ingest"]
# a run must end within 180 s; leave room for JVM exit and clean-up
RUN_TIMEOUT_S = 170
SELFCHECK_TIMEOUT_S = 600

# Spark on JDK 17 outside spark-submit needs these (the same list as the
# root build.sbt and Spark's JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--selfcheck", action="store_true")
    a = p.parse_args()
    if not a.selfcheck and a.workload is None:
        p.error("--workload is required (or --selfcheck)")
    if a.seconds < 1:
        p.error("--seconds must be at least 1")
    return a


def main() -> int:
    a = parse_args()
    build.build()
    work = build.BUILD / f"work-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    cores = os.cpu_count() or 1
    cmd = (["java", "-Xmx2g", "-Xss4m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", build.classpath(), "perfbench.Main",
              "--work", str(work), "--cores", str(cores)])
    if a.selfcheck:
        cmd += ["--selfcheck"]
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
    timeout = SELFCHECK_TIMEOUT_S if a.selfcheck else RUN_TIMEOUT_S
    proc = subprocess.Popen(cmd, start_new_session=True)

    def stop(*_):
        raise SystemExit(143)
    # a terminated benchmark still stops its JVM and waits for it
    signal.signal(signal.SIGTERM, stop)
    code = 124
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"run: timed out after {timeout} s", file=sys.stderr)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
