"""Session sizing and the engine's environment variables. No Spark session.

- With ``SPARK_GRAFT_CPUS`` unset, the default core count is the host's.
- The transcripts cache root falls back to a temp dir when the package is
  imported from a zip (spark-submit --py-files).
- Knob guard: the set of ``SPARK_GRAFT_*`` names the engine reads is fixed,
  and each is documented in session.py's module docstring. A new env var
  has to be added here on purpose.
"""

from __future__ import annotations

import ast
import os
import re
import subprocess
import sys
import tempfile

from tests.test_no_dead_code import REPO, _docstrings

KNOBS = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_JIT_OPTS",
    "SPARK_GRAFT_LOCAL_DIR",
    "SPARK_GRAFT_CACHE",
    "SPARK_GRAFT_SF_DIR",
}
_KNOB = re.compile(r"SPARK_GRAFT_[A-Z_]+")


def test_default_cpus_is_the_host_core_count():
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    env["PYTHONPATH"] = str(REPO)
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "from go_distributed_log_search_spark import session; "
            "print(session.DEFAULT_CPUS)",
        ],
        env=env,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    assert int(out) == len(os.sched_getaffinity(0))


def test_cache_root_under_zipimport_is_a_temp_dir(monkeypatch):
    from go_distributed_log_search_spark import transcripts

    monkeypatch.delenv("SPARK_GRAFT_CACHE", raising=False)
    monkeypatch.setattr(
        transcripts,
        "__file__",
        "/nonexistent/engine.zip/go_distributed_log_search_spark/transcripts.py",
    )
    root = transcripts._cache_root()
    assert os.path.dirname(root) == tempfile.gettempdir()


def _knobs_read() -> set[str]:
    names: set[str] = set()
    for top in ("go_distributed_log_search_spark", "jobs"):
        for path in (REPO / top).rglob("*.py"):
            tree = ast.parse(path.read_text(), str(path))
            docs = _docstrings(tree)
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Constant)
                    and isinstance(node.value, str)
                    and id(node) not in docs
                ):
                    names.update(_KNOB.findall(node.value))
    return names


def test_env_vars_read_are_the_documented_set():
    assert _knobs_read() == KNOBS
    from go_distributed_log_search_spark import session

    assert KNOBS - set(_KNOB.findall(session.__doc__)) == set()
