"""Host fingerprint and process memory, read from /proc."""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mib() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mib(pid: int | str = "self") -> float:
    """VmHWM (peak resident set) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_s(pid: int | str = "self") -> float:
    """User plus system CPU seconds of a process, all its threads."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    # fields[11], fields[12] are utime and stime in clock ticks
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> list[int]:
    """The machine-wide CPU time counters of /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal, ...), in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of all CPU time between two cpu_ticks() readings that the
    hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def source_revision(root: str, package: str) -> dict:
    """git sha when ``root`` is a git checkout; always a content hash of the
    package's Python sources, which also identifies an exported tree."""
    sha = None
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, timeout=10, check=False,
        )
        lines = out.stdout.split()
        # only this tree's own repository, not one that happens to enclose it
        if out.returncode == 0 and len(lines) == 2 and os.path.realpath(lines[0]) == os.path.realpath(root):
            sha = lines[1]
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    pkg = os.path.join(root, package)
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                p = os.path.join(dirpath, name)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return {"git_sha": sha, "source_sha256": h.hexdigest()[:16]}


def fingerprint(spark, root: str, package: str) -> dict:
    """nproc, memory, versions, source revision and the Spark confs in
    effect for the running session."""
    import duckdb
    import pyspark

    jvm = spark.sparkContext._jvm
    confs = dict(spark.sparkContext.getConf().getAll())
    for key in ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions"):
        confs[key] = spark.conf.get(key)
    for key in ("spark.app.id", "spark.app.startTime", "spark.app.submitTime", "spark.driver.port"):
        confs.pop(key, None)
    return {
        "nproc": nproc(),
        "mem_total_mib": round(mem_total_mib(), 1),
        "machine": platform.machine(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "duckdb": duckdb.__version__,
        **source_revision(root, package),
        "spark_conf": dict(sorted(confs.items())),
    }
