"""Runs one benchmark workload from the repository root:

    python3 perfbench/run.py --workload etl_backfill --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark when a source changed (build.py),
then runs the workload in one JVM with SPARK_GRAFT_CPUS = nproc, a fixed
heap and fresh temp, lake and Spark directories that are deleted at the
end. The last stdout line is the result object; a traced run also
writes its spans and counts to <build dir>/traces/.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from build import build  # noqa: E402

HEAP = "3g"
RUN_TIMEOUT_S = 178
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def _terminate(signum, _frame):
    raise SystemExit(128 + signum)


def main():
    # a SIGTERM unwinds through the finally below, which stops the JVM
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    root = os.getcwd()
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classpath = build(root, out)

    os.makedirs(os.path.join(out, "work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=os.path.join(out, "work"))
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    nproc = len(os.sched_getaffinity(0))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc))
    artifact = os.path.join(out, "traces", f"{a.workload}-seed{a.seed}-{int(time.time())}.json")
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dspark.local.dir={work}/spark-local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        "-Dspark.ui.enabled=false",
        "-cp", os.pathsep.join(classpath), "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", work, "--artifact", artifact])
    log_path = os.path.join(out, f"last-{a.workload}.log")
    proc = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                    cwd=work, env=env)
            try:
                stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s; log: {log_path}", file=sys.stderr)
                return 1
        if proc.returncode != 0:
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            print(f"perfbench: JVM exited with {proc.returncode}", file=sys.stderr)
            return 1
        lines = [l for l in stdout.splitlines() if l.startswith("{")]
        if not lines or not lines[-1].startswith('{"correct"'):
            print("perfbench: no result line", file=sys.stderr)
            return 1
        for line in lines:
            print(line)
        return 0
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
