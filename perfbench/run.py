"""Table-layer benchmark: one command per workload run.

    python3 perfbench/run.py --workload point_reads --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the program and the benchmark (see
build.py), starts one JVM that drives the table layer through its public
API with one closed-loop client and Spark local[N] (N = min(4, cores)),
relays the JVM's report, and exits 0 only when the JVM printed a complete
result: the last line of standard output is then one JSON object with the
keys correct, attempted, failed and metrics. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones; spans of a traced run
are written to .bench_build/perfbench/traces/. Each run works in its own
directory under .bench_build/perfbench/runs/ and removes it at exit.

`--corrupt-expected` makes the first timed answer check compare against a
wrong expected value; the run must then report failed > 0.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

sys.dont_write_bytecode = True
import build  # noqa: E402  (after the bytecode switch: the run writes only under .bench_build)

WORKLOADS = ("point_reads", "wide_scans", "ingest_mor")
# the first run in a checkout compiles; later runs must finish sooner
BUILD_RUN_LIMIT_S = 870
RUN_LIMIT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def valid_result(line: str) -> bool:
    try:
        r = json.loads(line)
    except ValueError:
        return False
    return (isinstance(r, dict) and set(r) == {"correct", "attempted", "failed", "metrics"}
            and isinstance(r["attempted"], int) and r["attempted"] >= 1
            and isinstance(r["failed"], int) and isinstance(r["metrics"], dict))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--corrupt-expected", action="store_true")
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    start = time.monotonic()
    try:
        classes, built_now = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    limit = (BUILD_RUN_LIMIT_S if built_now else RUN_LIMIT_S) - (time.monotonic() - start)

    run_dir = build.OUT / "runs" / f"{os.getpid()}-{uuid.uuid4().hex[:8]}"
    (run_dir / "tmp").mkdir(parents=True)
    log = build.OUT / "logs" / f"{a.workload}-seed{a.seed}-trace{a.trace}.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    cores = min(4, len(os.sched_getaffinity(0)))
    jars = build.spark_jars()
    cmd = ["java", "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={run_dir / 'tmp'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{jars}/*", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--cores", str(cores), "--work-dir", str(run_dir),
            "--trace-dir", str(build.OUT / "traces")]
    if a.corrupt_expected:
        cmd += ["--corrupt-expected", "1"]

    proc = None
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                    cwd=run_dir, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=max(1.0, limit))
            except subprocess.TimeoutExpired:
                print(f"run exceeded {limit:.0f} s; see {log}", file=sys.stderr)
                return 3
        lines = out.splitlines()
        if proc.returncode != 0 or not lines or not valid_result(lines[-1]):
            sys.stderr.write(out)
            print(f"benchmark JVM exited {proc.returncode} without a result; see {log}",
                  file=sys.stderr)
            return 1
        sys.stdout.write("\n".join(lines) + "\n")
        return 0
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
