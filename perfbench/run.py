"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Each invocation starts one fresh worker
process (``perfbench.worker``) with a clean environment: no ``SPARK_GRAFT_*``
overrides, a Spark local dir, temp dir and JVM temp dir of its own under
``.perfbench/runs/``, and the repository root as its import path. The worker
prints a report and, as its last line, one JSON result; this wrapper relays
that output, enforces a time limit, and stops every process the worker
started before it returns.

Exit codes: 0 correct run; 1 an operation failed or an output check did
not match; 2 bad arguments or the package under test is absent; 3 the
worker hit the time limit or printed no result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "go_distributed_log_search_spark"
WORKLOADS = ("microbatch_ingest", "sink_search")
TIME_LIMIT_S = 170
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def worker_env(run_dir: str) -> dict[str, str]:
    env = {
        k: v
        for k, v in os.environ.items()
        if not k.startswith(("SPARK_GRAFT_", "PYSPARK_", "SPARK_LOCAL_DIRS", "JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS"))
    }
    local = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    env.update(
        SPARK_GRAFT_LOCAL_DIR=local,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        # JVM temp files go to the run's own dir; no hsperfdata file in /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONPATH=ROOT,
        PYTHONUNBUFFERED="1",
    )
    return env


def group_members(pgid: int) -> list[int]:
    """Live pids in process group ``pgid``, read from /proc."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        # fields[0] is the state, fields[2] the process group
        if int(fields[2]) == pgid and fields[0] != "Z":
            pids.append(int(name))
    return pids


def stop_group(pgid: int, grace_s: float = 10.0) -> None:
    """SIGTERM the group, SIGKILL what is left after ``grace_s``, and wait
    until no member is alive."""
    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, 30.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            if not group_members(pgid):
                return
            time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="perfbench/run.py", description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, "runs", f"{args.workload}-{os.getpid()}-{time.time_ns()}")
    logs = os.path.join(work, "logs")
    os.makedirs(logs, exist_ok=True)
    env = worker_env(run_dir)
    log_path = os.path.join(logs, os.path.basename(run_dir) + ".log")
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--run-dir", run_dir,
    ]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE, stderr=log,
            text=True, start_new_session=True,
        )
        try:
            out, _ = proc.communicate(timeout=TIME_LIMIT_S)
            timed_out = False
        except subprocess.TimeoutExpired:
            stop_group(proc.pid)
            out, _ = proc.communicate()
            timed_out = True
        finally:
            stop_group(proc.pid)
    shutil.rmtree(run_dir, ignore_errors=True)

    lines = out.splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if timed_out or not isinstance(result, dict) or set(result) != RESULT_KEYS:
        sys.stdout.write("\n".join(lines[:-1] if result else lines) + "\n")
        why = f"time limit {TIME_LIMIT_S}s" if timed_out else "no result line"
        print(f"perfbench: worker failed ({why}, exit {proc.returncode}); log: {log_path}", file=sys.stderr)
        return 3
    sys.stdout.write(out if out.endswith("\n") else out + "\n")
    sys.stdout.flush()
    return 0 if proc.returncode == 0 and result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
