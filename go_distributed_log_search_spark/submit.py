"""``spark-submit --py-files`` launch path.

The north rule (BASELINE.json) requires the pipeline to run "via
spark-submit --py-files on a multi-executor cluster at two cluster sizes".
This module is that launch path: it packages the engine as a zip, builds
the spark-submit argv for an N-core level, and is exercised end-to-end by
tests/test_spark_submit.py (two levels, identical results) and by bench.py's
scaling probe unless SPARK_GRAFT_SUBMIT=0.

Mirrors the reference's deployment story (README.md:48-63: a single static
binary shipped to each node); Spark's equivalent of "ship the binary" is
``--py-files engine.zip`` — the driver and every executor unpack the same
artifact, so nothing here assumes the repo is importable from the cluster
filesystem.

On a real cluster the same argv swaps ``--master local[N]`` for the cluster
master URL plus ``--num-executors``; every other element is unchanged.
"""

from __future__ import annotations

import os
import shutil
import zipfile

from .session import DRIVER_MEM, driver_java_options

PKG_NAME = "go_distributed_log_search_spark"


def spark_submit_bin() -> str | None:
    """Locate spark-submit: $SPARK_HOME/bin first, then PATH."""
    home = os.environ.get("SPARK_HOME")
    if home:
        cand = os.path.join(home, "bin", "spark-submit")
        if os.access(cand, os.X_OK):
            return cand
    return shutil.which("spark-submit")


def make_pyfiles_zip(dest_path: str, repo_root: str | None = None) -> str:
    """Zip the engine package into ``dest_path`` for ``--py-files``.

    Only ``*.py`` files go in (no __pycache__, no tests): the artifact is
    what a deploy pipeline would publish. Entries are written sorted with a
    fixed timestamp so the zip is byte-deterministic — rebuilds don't churn
    cluster caches keyed on artifact hash.
    """
    if repo_root is None:
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg_dir = os.path.join(repo_root, PKG_NAME)
    entries = []
    for base, _dirs, files in os.walk(pkg_dir):
        for fn in files:
            if fn.endswith(".py"):
                full = os.path.join(base, fn)
                arc = os.path.relpath(full, repo_root)
                entries.append((arc, full))
    entries.sort()
    with zipfile.ZipFile(dest_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for arc, full in entries:
            with open(full, "rb") as f:
                data = f.read()
            info = zipfile.ZipInfo(arc, date_time=(2020, 1, 1, 0, 0, 0))
            info.external_attr = 0o644 << 16
            zf.writestr(info, data)
    return dest_path


def submit_argv(
    script: str,
    cpus: int,
    pyfiles_zip: str,
    app_args: tuple[str, ...] | list[str] = (),
    jit_opts: str | None = None,
) -> list[str]:
    """argv for ``spark-submit --master local[cpus] --py-files zip script``.

    Driver memory and extraJavaOptions MUST ride the submit command line:
    spark-submit launches the JVM before the Python driver runs, so the
    builder-time settings in session.get_spark are launch-time no-ops on
    this path (they still match — both come from session.DRIVER_MEM and
    driver_java_options, so the in-process and submitted JVMs are
    configured identically).
    """
    bin_ = spark_submit_bin()
    if bin_ is None:
        raise FileNotFoundError("spark-submit not found (SPARK_HOME or PATH)")
    return [
        bin_,
        "--master", f"local[{cpus}]",
        "--driver-memory", DRIVER_MEM,
        "--conf",
        f"spark.driver.extraJavaOptions={driver_java_options(cpus, jit_opts)}",
        "--conf", "spark.driver.bindAddress=127.0.0.1",
        "--conf", "spark.driver.host=127.0.0.1",
        "--py-files", pyfiles_zip,
        script,
        *app_args,
    ]


def submit_env(cpus: int) -> dict[str, str]:
    """Subprocess env for a submitted job.

    DNS pins must be in the environment BEFORE the JVM starts (session.py
    sets them too late on this path). SPARK_GRAFT_CPUS is the only sizing
    the job receives: get_spark inside the job defaults to it, so the job's
    session is local[cpus] (agreeing with spark-submit's --master) and its
    transcripts cache, sized from the session's default parallelism, has
    ``cpus`` files."""
    env = dict(os.environ)
    env["SPARK_LOCAL_IP"] = "127.0.0.1"
    env["SPARK_LOCAL_HOSTNAME"] = "localhost"
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    return env
