"""One run of one workload, inside a fresh worker process started by run.py.

    python3 -m perfbench.worker --workload W --seed N --seconds S --trace 0|1 \
        --work DIR --run-dir DIR

Untraced (``--trace 0``) runs time the workload from outside and print the
end-to-end metrics. Traced runs (``--trace 1``) record spans around every
call into a layer's public functions, tag Spark jobs with the innermost
span's name as the job group, read the Spark event log, and print the
per-layer metrics. Every run checks the program's output against DuckDB.
"""

from __future__ import annotations

import argparse
import contextlib
import dataclasses
import importlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np

from . import eventlog, gen, host, oracle, spans, stats

PACKAGE = "go_distributed_log_search_spark"
INGEST_WARMUPS = 2  # warm-up ingests per micro-batch run; setup_s takes their median
QUERY_WARMUPS = 3  # warm-up query rounds per search run; setup_s takes their median
WARMUP_QUERIES = 4  # queries per warm-up round
PROBE_REPS = 2  # noop-sink prefix passes per layer in a traced run
TOP_K = 10
# A run measures a fixed amount of work sized from --seconds at these
# nominal costs (a 4-core host at local[2]), not as many operations as fit
# in the time: the JIT is still compiling, each operation tends to run faster than
# the one before it, and a time-bounded count would move the median along
# that curve from run to run (with a 10 s window, runs that fitted two
# measured ingests read 3.9-4.3 s per batch, a run that fitted one 4.8 s).
NOMINAL_INGEST_S = 10.0
NOMINAL_QUERY_S = 0.35

# The program's public entry points this benchmark depends on, as
# name -> (module under the package, attribute). A missing one makes the
# operations that need it fail; it does not crash the run.
ENTRY_POINTS = {
    "get_spark": ("session", "get_spark"),
    "run_microbatch_ingest": ("streaming.microbatch", "run_microbatch_ingest"),
    "Warehouse": ("sources.catalog", "Warehouse"),
    "parse_turns": ("operators.parse", "parse_turns"),
    "enrich_turns": ("operators.enrich", "enrich_turns"),
    "routed": ("operators.route", "routed"),
    "SINKS": ("operators.route", "SINKS"),
    "detect_hot_keys": ("operators.aggregate", "detect_hot_keys"),
    "substring_search": ("operators.search", "substring_search"),
    "_PARSED": ("oracles", "_PARSED"),
    "_ROUTED": ("oracles", "_ROUTED"),
}
# entry points every workload needs before its first operation
CORE = ("get_spark", "run_microbatch_ingest", "Warehouse", "SINKS", "_PARSED", "_ROUTED")

# functions the program calls internally, wrapped in spans in a traced run:
# (module, owner class or None, attribute, layer). Calls the benchmark makes
# itself get their spans at the call site.
TRACED_CALLS = (
    ("operators.parse", None, "parse_turns", "operators.parse"),
    ("operators.enrich", None, "enrich_turns", "operators.enrich"),
    ("operators.route", None, "routed", "operators.route"),
    ("operators.aggregate", None, "term_counts", "operators.aggregate"),
    ("streaming.microbatch", None, "pending_partitions", "streaming.microbatch"),
    ("sources.catalog", "Warehouse", "append_batch", "sources.catalog"),
    ("sources.catalog", "Warehouse", "record_lineage_many", "sources.catalog"),
    ("sources.catalog", "Warehouse", "save_checkpoint", "sources.catalog"),
    ("sources.catalog", "Warehouse", "load_checkpoints", "sources.catalog"),
    ("sources.catalog", "Warehouse", "read", "sources.catalog"),
)
LAZY_LAYERS = ("operators.parse", "operators.enrich", "operators.route", "operators.aggregate")


@dataclasses.dataclass(frozen=True)
class Workload:
    spec: gen.Spec
    n_parts: int
    parts_per_batch: int


WORKLOADS = {
    # short turns split into many small batches: the per-batch fixed cost
    # (plan rebuild, three sink appends with re-read counts, agg commit,
    # lineage, watermark collect, checkpoint) dominates
    "microbatch_ingest": Workload(gen.Spec(6000, (4, 16), 0.2, 8), n_parts=4, parts_per_batch=2),
    # top-k substring queries through Warehouse.read over the sink tables a
    # micro-batch ingest commits during set-up; no parse or aggregate
    "sink_search": Workload(gen.Spec(6000, (4, 16), 0.2, 8), n_parts=4, parts_per_batch=2),
}

E2E_UNITS = {
    "setup_s": "s",
    "op_s.p50": "s",
    "turns_per_s": "turns/s",
    "peak_rss_mib": "MiB",
    "stored_bytes_per_input_byte": "ratio",
}

LAYER_UNITS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.jvm_rss_mib": "MiB",
    "parse.marginal_s": "s",
    "parse.cpu_s": "s",
    "enrich.marginal_s": "s",
    "route.marginal_s": "s",
    "route.fanout_ratio": "ratio",
    "aggregate.hot_detect_s": "s",
    "aggregate.commit_s": "s",
    "aggregate.cpu_s": "s",
    "aggregate.gc_s": "s",
    "aggregate.shuffle_write_bytes": "bytes",
    "aggregate.spill_bytes": "bytes",
    "aggregate.tokens_in": "count",
    "aggregate.postings_out": "count",
    "aggregate.combine_ratio": "ratio",
    "aggregate.reduce_task_skew": "ratio",
    "catalog.append_s.p50": "s",
    "catalog.jobs_per_append": "count",
    "catalog.lineage_s": "s",
    "catalog.checkpoint_s": "s",
    "catalog.pending_s": "s",
    "catalog.files_written": "count",
    "catalog.bytes_written": "bytes",
    "catalog.read_s": "s",
    "catalog.files_read": "count",
    "microbatch.batches": "count",
    "microbatch.jobs_per_batch": "count",
    "microbatch.plan_s": "s",
    "microbatch.self_s": "s",
    "microbatch.driver_idle_s": "s",
    "search.query_s": "s",
    "search.jobs_per_query": "count",
    "search.rows_scanned": "count",
    "search.cpu_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.scheduler_delay_s": "s",
    "spark.failed_tasks": "count",
    **{f"self_s.{layer}": "s" for layer in spans.LAYERS},
    "trace.residual_s": "s",
    "trace.overhead_s": "s",
}


def spark_cpus() -> int:
    """Spark task slots: half the cores. The driver JVM's JIT compiler and
    GC threads and the Python client need cores of their own; with
    ``local[nproc]`` they contend with the tasks and the timings measure the
    scheduler (on a 4-core host, median query 0.40 s with quartiles
    0.35-0.45 at local[4] against 0.34 s, 0.31-0.35 at local[2])."""
    return max(1, host.nproc() // 2)


def resolve_entry_points() -> tuple[dict, list[str]]:
    found, missing = {}, []
    for name, (mod, attr) in ENTRY_POINTS.items():
        try:
            found[name] = getattr(importlib.import_module(f"{PACKAGE}.{mod}"), attr)
        except (ImportError, AttributeError):
            missing.append(f"{mod}.{attr}")
    return found, missing


QUERY_KINDS = 5


def query_term(kind: int, rng: np.random.Generator, vocab: list[str]) -> str:
    r = int(rng.integers(0, 256))
    if kind == 0:  # frequent filler word
        return vocab[int(rng.integers(0, 20))]
    if kind == 1:  # rare filler word, often absent
        return vocab[int(rng.integers(2000, gen.VOCAB_SIZE))]
    if kind == 2:  # "qx" is in no syllable: never matches
        return f"zzqx{r}"
    if kind == 3:  # _dynamic keys src/dest
        return ("src: /10.10.%d." % r, "dest: /10.10.0.2", "src: ", "dest:")[r % 4]
    # claimed-field values: level, op, tool markers
    return ("ERROR", "warn", "tool:search", "hdfs_read", "AuthFailure", "duration: 4")[r % 6]


def query_mix(seed: int, blocks: int = 8) -> list[tuple[int, str]]:
    """Seeded (sink index, query) list in blocks of one query per (sink,
    kind) pair, shuffled within the block, so any run of a few blocks has
    the same composition whatever the seed: frequent and rare filler words,
    terms that hit nothing, ``_dynamic``-key fragments and claimed-field
    values, over each of the three sinks."""
    rng = np.random.Generator(np.random.PCG64(seed + 7919))
    vocab = gen.vocabulary()
    out = []
    for _ in range(blocks):
        block = [(si, query_term(kind, rng, vocab)) for si in range(3) for kind in range(QUERY_KINDS)]
        out.extend(block[k] for k in rng.permutation(len(block)))
    return out


class Run:
    def __init__(self, args: argparse.Namespace):
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.trace = bool(args.trace)
        self.ep, self.missing = resolve_entry_points()
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.spark = None
        self.evdir = os.path.join(args.run_dir, "eventlog")
        self.tracer = spans.Tracer(self._set_group) if self.trace else None
        self.e2e: dict[str, float] = {}
        self.report: dict[str, object] = {}
        self.per_layer: dict[str, float] = {}
        self.unavailable: dict[str, str] = {}
        self.facts: dict[str, object] = {}
        self._dirs = 0

    # ------------------------------------------------------------ helpers

    def fail(self, n_ops: int, msg: str) -> None:
        self.attempted += n_ops
        self.failed += n_ops
        self.problems.append(msg)
        print(f"perfbench: FAILED {msg}", file=sys.stderr, flush=True)

    def fresh_dir(self, kind: str) -> str:
        self._dirs += 1
        return os.path.join(self.args.run_dir, f"{kind}-{self._dirs}")

    def _set_group(self, group: str | None) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", group)

    def span(self, name: str, layer: str):
        """A tracer span in a traced run, a no-op context otherwise."""
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, layer)

    def layer_patches(self) -> list:
        t = self.tracer
        targets = []
        for mod, owner, attr, layer in TRACED_CALLS:
            try:
                obj = importlib.import_module(f"{PACKAGE}.{mod}")
                obj = getattr(obj, owner) if owner else obj
                getattr(obj, attr)
            except (ImportError, AttributeError):
                continue
            name = f"{mod}.{attr}"
            if attr == "append_batch":
                # the table tells sink commits from the agg_terms commit
                def label(*a, _n=name, **k):
                    table = k.get("table", a[2] if len(a) > 2 else "?")
                    return f"{_n}[{table}]"

                targets.append((obj, attr, lambda f, _l=label, _y=layer: t.wrap(f, _l, _y)))
            else:
                targets.append((obj, attr, lambda f, _n=name, _y=layer: t.wrap(f, _n, _y)))
        return targets

    # ------------------------------------------------------------ session

    def start_session(self) -> float:
        extra = None
        if self.trace:
            os.makedirs(self.evdir, exist_ok=True)
            extra = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.evdir,
                "spark.eventLog.compress": "false",
            }
        t0 = time.perf_counter()
        with self.span("session.get_spark", "session"):
            self.spark = self.ep["get_spark"](
                f"perfbench-{self.args.workload}", cpus=spark_cpus(), extra_conf=extra
            )
        launch = time.perf_counter() - t0
        self._jvm_pid = self.jvm_pid()
        return launch

    # ------------------------------------------------------------ inputs

    def prepare_input(self) -> None:
        path = os.path.join(self.args.work, "inputs", f"{self.args.workload}-s{self.args.seed}")
        gen.write(self.wl.spec, self.args.seed, path)
        self.input_dir = path
        self.input_bytes = oracle.parquet_files(path)[1]
        self.oracle = oracle.Oracle(path, self.ep["_PARSED"], self.ep["_ROUTED"], self.ep["SINKS"])
        self.facts["input"] = {
            "turns": self.oracle.n_turns,
            "bytes": self.input_bytes,
            "sink_rows": self.oracle.sink_rows,
            "postings": self.oracle.postings,
        }

    # ------------------------------------------------------------ ingest

    def ingest(self, root: str, traced: bool = False) -> tuple[float, list[float]]:
        """One run_microbatch_ingest of the workload input into a fresh
        warehouse at ``root``.
        Returns (wall, per-batch seconds); a batch runs from the return of
        the pending-partition lookup (first batch) or of the previous
        batch's save_checkpoint to the return of its own save_checkpoint."""
        W = self.ep["Warehouse"]
        stamps: list[float] = []

        def stamp(orig):
            def wrapped(*a, **k):
                out = orig(*a, **k)
                stamps.append(time.perf_counter())
                return out

            return wrapped

        targets = self.layer_patches() if traced else []
        targets.append((W, "save_checkpoint", stamp))
        mb = importlib.import_module(f"{PACKAGE}.streaming.microbatch")
        if hasattr(mb, "pending_partitions"):
            targets.append((mb, "pending_partitions", stamp))
        with self.span("perfbench.op", "perfbench") if traced else contextlib.nullcontext():
            df = self.spark.read.parquet(self.input_dir)
            wh = W(self.spark, root)
            with spans.patched(targets):
                t0 = time.perf_counter()
                with self.span("streaming.microbatch.run_microbatch_ingest", "streaming.microbatch") if traced else contextlib.nullcontext():
                    self.ep["run_microbatch_ingest"](
                        self.spark, df, wh, n_parts=self.wl.n_parts, parts_per_batch=self.wl.parts_per_batch
                    )
                wall = time.perf_counter() - t0
        if not hasattr(mb, "pending_partitions"):
            stamps.insert(0, t0)
        return wall, [b - a for a, b in zip(stamps[:-1], stamps[1:])]

    def measured_ops(self, nominal_s: float) -> int:
        """Operations a run measures: as many as --seconds holds at
        ``nominal_s`` each, at least one."""
        return max(1, round(self.args.seconds / nominal_s))

    def n_batches(self) -> int:
        return -(-self.wl.n_parts // self.wl.parts_per_batch)

    def checked_ingest(self, traced: bool = False, keep: bool = False) -> dict | None:
        """A measured ingest, checked against the oracle. Returns its
        figures, or None when it raised or committed a wrong result."""
        root = self.fresh_dir("wh")
        n = self.n_batches()
        try:
            c0 = self.cpu_s()
            wall, batches = self.ingest(root, traced)
            cpu = self.cpu_s() - c0
        except Exception as e:  # noqa: BLE001 - an operation failure, reported and counted
            traceback.print_exc()
            self.fail(n, f"ingest raised {type(e).__name__}: {e}")
            shutil.rmtree(root, ignore_errors=True)
            return None
        bad = self.oracle.check_warehouse(root, self.wl.n_parts)
        if len(batches) != n:
            bad.append(f"{len(batches)} batches checkpointed, expected {n}")
        files, size = oracle.parquet_files(root)
        if bad:
            self.fail(n, "; ".join(bad))
        else:
            self.attempted += n
        if not keep:
            shutil.rmtree(root, ignore_errors=True)
        return None if bad else {"wall": wall, "cpu": cpu, "batches": batches, "files": files, "bytes": size, "root": root}

    def warmup_ingest(self) -> float:
        """One unchecked ingest of the workload's own input, with the measured
        batch layout, into a throwaway warehouse. The first ingest of an
        input runs its batches about a third slower than the ones after it
        (a warm-up on a smaller input left the first measured ingest at 5.8-6.1
        s per batch against 4.1-4.4 s for the second), so the warm-up runs
        on the same input and the measured ingests do not pay that cost."""
        root = self.fresh_dir("warmup")
        t0 = time.perf_counter()
        try:
            with self.span("session.warmup", "session"):
                self.ingest(root)
        except Exception as e:  # noqa: BLE001
            traceback.print_exc()
            self.fail(1, f"warm-up ingest raised {type(e).__name__}: {e}")
        shutil.rmtree(root, ignore_errors=True)
        return time.perf_counter() - t0

    # ------------------------------------------------------------ search

    def query(self, wh, sink: str, q: str, traced: bool = False) -> tuple[float, list[tuple]]:
        """One top-k query through Warehouse.read; a traced query is its own
        operation (root span) with the read and search calls inside it."""
        span = self.span if traced else (lambda *_: contextlib.nullcontext())
        t0 = time.perf_counter()
        with span("perfbench.op", "perfbench"), span("operators.search.query", "operators.search"):
            df = wh.read(f"sink_{sink}")
            with span("operators.search.substring_search", "operators.search"):
                top = self.ep["substring_search"](df, q, limit=TOP_K)
            rows = top.select("conv_id", "turn_idx", "score").collect()
        dt = time.perf_counter() - t0
        return dt, [(r[0], int(r[1]), float(r[2])) for r in rows]

    def build_warehouse(self, traced: bool) -> float:
        """The sink_search warehouse: one checked micro-batch ingest."""
        t0 = time.perf_counter()
        built = self.checked_ingest(traced=traced, keep=True)
        build_s = time.perf_counter() - t0
        if built is None:
            raise RuntimeError("warehouse build failed its checks")
        self.wh_root = built["root"]
        self.built = built
        return build_s

    def warmup_queries(self) -> float:
        """Queries from another seed's mix, unchecked and untimed as ops."""
        wh = self.ep["Warehouse"](self.spark, self.wh_root)
        sinks = self.ep["SINKS"]
        t0 = time.perf_counter()
        with self.span("session.warmup", "session"):
            for si, q in query_mix(self.args.seed + 1)[:WARMUP_QUERIES]:
                self.query(wh, sinks[si % len(sinks)], q)
        return time.perf_counter() - t0

    def run_queries(self, n: int, traced_too: bool = False) -> dict:
        """``n`` closed-loop queries, each checked against the DuckDB top-k. With ``traced_too`` every query runs untraced and then
        traced, for the tracing overhead."""
        if "substring_search" not in self.ep:
            self.fail(1, "missing entry point operators.search.substring_search")
            return {"times": [], "traced": [], "scanned": []}
        wh = self.ep["Warehouse"](self.spark, self.wh_root)
        sinks = self.ep["SINKS"]
        mix = query_mix(self.args.seed)
        expected: dict[tuple[str, str], list] = {}
        times, traced_times, scanned, cpu = [], [], [], []
        for i in range(n):
            si, q = mix[i % len(mix)]
            sink = sinks[si % len(sinks)]
            modes = (False, True) if traced_too else (False,)
            for traced in modes:
                try:
                    c0 = self.cpu_s()
                    with spans.patched(self.layer_patches() if traced else []):
                        dt, rows = self.query(wh, sink, q, traced)
                    dc = self.cpu_s() - c0
                except Exception as e:  # noqa: BLE001
                    traceback.print_exc()
                    self.fail(1, f"query {q!r} on sink_{sink} raised {type(e).__name__}: {e}")
                    continue
                key = (sink, q)
                if key not in expected:
                    expected[key] = self.oracle.topk(sink, q, TOP_K)
                if rows != expected[key]:
                    self.fail(1, f"query {q!r} on sink_{sink}: top-{TOP_K} {rows[:3]}... != oracle {expected[key][:3]}...")
                    continue
                self.attempted += 1
                (traced_times if traced else times).append(dt)
                if not traced:
                    scanned.append(self.oracle.sink_rows[sink])
                    cpu.append(dc)
        return {"times": times, "traced": traced_times, "scanned": scanned, "cpu": cpu}

    # ------------------------------------------------------------ workloads

    def run_untraced(self) -> None:
        name = self.args.workload
        if name == "microbatch_ingest":
            launch = self.start_session()
            warm = [self.warmup_ingest() for _ in range(INGEST_WARMUPS)]
            self.e2e["setup_s"] = launch + statistics.median(warm)
            self.report["setup"] = {"launch_s": launch, "warmups_s": warm}
            ticks = host.cpu_ticks()
            runs = [self.checked_ingest() for _ in range(self.measured_ops(NOMINAL_INGEST_S))]
            self.report["host_steal_share"] = host.steal_share(ticks, host.cpu_ticks())
            runs = [r for r in runs if r is not None]
            if runs:
                batches = [b for r in runs for b in r["batches"]]
                self.e2e["op_s.p50"] = statistics.median(batches)
                self.e2e["turns_per_s"] = self.oracle.n_turns * len(runs) / sum(r["wall"] for r in runs)
                self.e2e["stored_bytes_per_input_byte"] = statistics.median(r["bytes"] for r in runs) / self.input_bytes
                self.report["batch_s"] = stats.summarize(batches)
                self.report["batch_samples_s"] = batches
                self.report["ingest_wall_s"] = [r["wall"] for r in runs]
                self.report["ingest_cpu_s"] = [r["cpu"] for r in runs]
        else:
            launch = self.start_session()
            build_s = self.build_warehouse(traced=False)
            warm = [self.warmup_queries() for _ in range(QUERY_WARMUPS)]
            self.e2e["setup_s"] = launch + build_s + statistics.median(warm)
            self.report["setup"] = {"launch_s": launch, "build_s": build_s, "warmups_s": warm}
            ticks = host.cpu_ticks()
            q = self.run_queries(self.measured_ops(NOMINAL_QUERY_S))
            self.report["host_steal_share"] = host.steal_share(ticks, host.cpu_ticks())
            if q["times"]:
                self.e2e["op_s.p50"] = statistics.median(q["times"])
                self.e2e["turns_per_s"] = sum(q["scanned"]) / sum(q["times"])
                self.report["search_s"] = stats.summarize(q["times"])
                self.report["search_samples_s"] = q["times"]
                self.report["search_cpu_s"] = q["cpu"]
            self.e2e["stored_bytes_per_input_byte"] = self.built["bytes"] / self.input_bytes
        self.e2e["peak_rss_mib"] = host.peak_rss_mib() + self.jvm_rss()

    def run_traced(self) -> None:
        name = self.args.workload
        self.facts["session_start_s"] = self.start_session()
        if name == "microbatch_ingest":
            self.facts["warmup_s"] = self.warmup_ingest()
            plain = self.checked_ingest()
            traced = self.checked_ingest(traced=True, keep=True)
            if plain and traced:
                # the JIT is still warming, so each ingest tends to run faster
                # than the one before it: this difference mixes that drift
                # into the tracing cost
                self.report["traced_minus_untraced_s"] = traced["wall"] - plain["wall"]
            if traced:
                self.facts["traced_ingest"] = traced
                shutil.rmtree(traced["root"], ignore_errors=True)
            self.probes()
        else:
            self.build_warehouse(traced=True)
            self.facts["warmup_s"] = self.warmup_queries()
            q = self.run_queries(self.measured_ops(NOMINAL_QUERY_S), traced_too=True)
            if q["times"] and q["traced"]:
                # each query runs untraced and then traced, back to back
                self.report["traced_minus_untraced_s"] = statistics.median(
                    t - u for u, t in zip(q["times"], q["traced"])
                )
            self.facts["traced_ingest"] = self.built
            self.facts["files_read"] = {
                s: oracle.parquet_files(os.path.join(self.wh_root, f"sink_{s}"))[0] for s in self.ep["SINKS"]
            }
        self.facts["jvm_rss_mib"] = self.jvm_rss()

    def probes(self) -> None:
        """Noop-sink prefixes of the lazy layers, each materializing the
        full row its layer hands on, plus one hot-key detection."""
        need = ("parse_turns", "enrich_turns", "routed")
        if not all(n in self.ep for n in need):
            self.fail(1, "missing entry point for the layer probes")
            return
        parse, enrich, route = (self.ep[n] for n in need)
        df = self.spark.read.parquet(self.input_dir)
        prefixes = (
            ("scan", lambda: df),
            ("parse", lambda: parse(df)),
            ("enrich", lambda: enrich(parse(df), self.spark)),
            ("route", lambda: route(enrich(parse(df), self.spark))),
        )
        times: dict[str, list[float]] = {}
        try:
            for _ in range(PROBE_REPS):
                for label, build in prefixes:
                    t0 = time.perf_counter()
                    with self.span(f"perfbench.probe.{label}", "perfbench"):
                        build().write.format("noop").mode("overwrite").save()
                    times.setdefault(label, []).append(time.perf_counter() - t0)
            if "detect_hot_keys" in self.ep:
                with self.span("operators.aggregate.detect_hot_keys", "operators.aggregate"):
                    self.ep["detect_hot_keys"](df, "conv_id")
        except Exception as e:  # noqa: BLE001
            traceback.print_exc()
            self.fail(1, f"layer probe raised {type(e).__name__}: {e}")
            return
        self.attempted += 1
        self.facts["probe_s"] = times

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()

    def jvm_rss(self) -> float:
        return host.peak_rss_mib(self.jvm_pid())

    def cpu_s(self) -> float:
        """CPU seconds so far of this process and the driver JVM."""
        return host.cpu_s() + host.cpu_s(self._jvm_pid)

    # ------------------------------------------------------------ per-layer

    def layer_metrics(self, ev: eventlog.EventLog) -> None:
        t = self.tracer
        f = self.facts
        m = self.per_layer

        def put(name: str, value, reason: str) -> None:
            if value is None:
                m[name] = 0.0
                self.unavailable[name] = reason
            else:
                m[name] = float(value)

        def durations(prefix: str) -> list[float]:
            return [s.duration for s in t.named(prefix)]

        def med(xs):
            return statistics.median(xs) if xs else None

        def ratio(a, b):
            return a / b if a is not None and b else None

        put("session.start_s", f.get("session_start_s"), "session did not start")
        put("session.warmup_s", f.get("warmup_s"), "no warm-up ran")
        put("session.jvm_rss_mib", f.get("jvm_rss_mib"), "JVM not reachable")

        probe = f.get("probe_s")
        no_probe = "the layer probes run on microbatch_ingest only"
        if probe:
            best = {k: min(v) for k, v in probe.items()}
            cpu = {
                k: ev.stats(ev.in_groups(f"perfbench.probe.{k}")).cpu_s / PROBE_REPS for k in probe
            }
            put("parse.marginal_s", best["parse"] - best["scan"], no_probe)
            put("parse.cpu_s", cpu["parse"] - cpu["scan"], no_probe)
            put("enrich.marginal_s", best["enrich"] - best["parse"], no_probe)
            put("route.marginal_s", best["route"] - best["enrich"], no_probe)
        else:
            for k in ("parse.marginal_s", "parse.cpu_s", "enrich.marginal_s", "route.marginal_s"):
                put(k, None, no_probe)
        o = self.oracle
        put("route.fanout_ratio", ratio(sum(o.sink_rows.values()), o.n_turns), "no input")

        ingest = f.get("traced_ingest")
        no_ingest = "no traced ingest completed"
        agg_jobs = ev.in_groups("sources.catalog.append_batch[agg_terms]")
        agg = ev.stats(agg_jobs)
        put("aggregate.hot_detect_s", med(durations("operators.aggregate.detect_hot_keys")),
            "hot-key detection runs in the microbatch_ingest probes only")
        have = ingest is not None
        put("aggregate.commit_s", med(durations("sources.catalog.append_batch[agg_terms]")), no_ingest)
        put("aggregate.cpu_s", agg.cpu_s if have else None, no_ingest)
        put("aggregate.gc_s", agg.gc_s if have else None, no_ingest)
        put("aggregate.shuffle_write_bytes", agg.shuffle_write_bytes if have else None, no_ingest)
        put("aggregate.spill_bytes", agg.spill_bytes if have else None, no_ingest)
        tokens = sum(n for _, n in o.postings.values())
        postings = sum(n for n, _ in o.postings.values())
        put("aggregate.tokens_in", tokens if have else None, no_ingest)
        put("aggregate.postings_out", postings if have else None, no_ingest)
        put("aggregate.combine_ratio", ratio(tokens, postings) if have else None, no_ingest)
        put("aggregate.reduce_task_skew", agg.reduce_task_skew() if have else None,
            "no reduce stage in the agg_terms commit")

        appends = durations("sources.catalog.append_batch[sink_")
        put("catalog.append_s.p50", med(appends), no_ingest)
        put("catalog.jobs_per_append",
            ratio(len(ev.in_groups("sources.catalog.append_batch[sink_")), len(appends)), no_ingest)
        put("catalog.lineage_s", med(durations("sources.catalog.record_lineage_many")), no_ingest)
        put("catalog.checkpoint_s", med(durations("sources.catalog.save_checkpoint")), no_ingest)
        put("catalog.pending_s", med(durations("streaming.microbatch.pending_partitions")), no_ingest)
        put("catalog.files_written", ingest["files"] if have else None, no_ingest)
        put("catalog.bytes_written", ingest["bytes"] if have else None, no_ingest)

        queries = t.named("operators.search.query")
        by_id = {s.span_id: s for s in t.spans}
        reads = [
            s.duration for s in t.named("sources.catalog.read")
            if s.parent is not None and by_id[s.parent].name == "operators.search.query"
        ]
        no_search = "no search on this workload"
        put("catalog.read_s", med(reads), no_search)
        files_read = f.get("files_read")
        put("catalog.files_read", statistics.mean(files_read.values()) if files_read else None, no_search)

        loops = t.named("streaming.microbatch.run_microbatch_ingest")
        if loops:
            loop = loops[-1]
            st = spans.self_times(t.spans)
            inside = [s for s in t.spans if loop.start <= s.start and s.end <= loop.end and s is not loop]
            jobs = ev.started_within([(loop.start, loop.end)])
            n_batches = len(ingest["batches"]) if have else None
            put("microbatch.batches", n_batches, no_ingest)
            put("microbatch.jobs_per_batch", ratio(len(jobs), n_batches), no_ingest)
            put("microbatch.plan_s", sum(s.duration for s in inside if s.layer in LAZY_LAYERS), no_ingest)
            put("microbatch.self_s", st[loop.span_id], no_ingest)
            busy = spans.union_length([(j.start, j.end or j.start) for j in jobs], loop.start, loop.end)
            put("microbatch.driver_idle_s", loop.duration - busy, no_ingest)
        else:
            for k in ("batches", "jobs_per_batch", "plan_s", "self_s", "driver_idle_s"):
                put(f"microbatch.{k}", None, no_ingest)

        qjobs = ev.started_within([(s.start, s.end) for s in queries])
        qstats = ev.stats(qjobs)
        nq = len(queries)
        put("search.query_s", med([s.duration for s in queries]), no_search)
        put("search.jobs_per_query", ratio(len(qjobs), nq), no_search)
        put("search.rows_scanned", ratio(qstats.input_records, nq), no_search)
        put("search.cpu_s", ratio(qstats.cpu_s, nq), no_search)

        tot = ev.total()
        put("spark.jobs", len(ev.jobs), "no event log")
        put("spark.tasks", tot.tasks, "no event log")
        put("spark.executor_cpu_s", tot.cpu_s, "no event log")
        put("spark.gc_s", tot.gc_s, "no event log")
        put("spark.scheduler_delay_s", tot.scheduler_delay_s, "no event log")
        put("spark.failed_tasks", tot.failed_tasks, "no event log")

        selfs = spans.layer_self_times(t.spans)
        for layer in spans.LAYERS:
            put(f"self_s.{layer}", selfs.get(layer, 0.0), "")
        # wall of the traced operations that no layer span covers
        roots = t.named("perfbench.op")
        residual = sum(
            r.duration
            - spans.union_length([(s.start, s.end) for s in t.spans if s.parent == r.span_id], r.start, r.end)
            for r in roots
        )
        put("trace.residual_s", residual if roots else None, "no traced operation completed")
        put("trace.overhead_s", t.cost_s, "")

    # ------------------------------------------------------------ output

    def finish(self) -> int:
        correct = self.failed == 0 and not self.missing and self.attempted > 0
        a = self.args
        print(f"perfbench workload={a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace}")
        if self.missing:
            print(f"missing entry points: {', '.join(self.missing)}")
        rate = self.failed / self.attempted if self.attempted else 1.0
        print(f"error_rate = {rate:.4f} ratio ({self.failed} failed of {self.attempted} attempted)")
        for p in self.problems[:20]:
            print(f"problem: {p}")
        if self.trace:
            names = LAYER_UNITS
            values = self.per_layer
        else:
            names = E2E_UNITS
            values = self.e2e
            self.print_e2e_table()
        metrics = {}
        for name, unit in names.items():
            if name in values:
                metrics[name] = {"value": values[name], "unit": unit}
                note = f"  (unavailable: {self.unavailable[name]})" if name in self.unavailable else ""
                print(f"metric {name} = {values[name]:.6g} {unit}{note}")
            else:
                correct = False
                print(f"metric {name} = not measured")
        if self.trace:
            if "traced_minus_untraced_s" in self.report:
                print(f"traced minus untraced = {self.report['traced_minus_untraced_s']:.6g} s per operation")
            self.print_spans()
        record = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "fingerprint": self.facts.get("fingerprint"),
            "correct": correct, "attempted": self.attempted, "failed": self.failed,
            "problems": self.problems, "metrics": metrics, "unavailable": self.unavailable,
            "report": self.report,
            "spans": [dataclasses.asdict(s) for s in self.tracer.spans] if self.tracer else [],
        }
        rec_dir = os.path.join(a.work, "records")
        os.makedirs(rec_dir, exist_ok=True)
        rec = os.path.join(rec_dir, f"{a.workload}-s{a.seed}-t{a.trace}-{int(time.time())}.json")
        with open(rec, "w") as fh:
            json.dump(record, fh, indent=1, default=str)
        print(f"record {os.path.relpath(rec, os.path.dirname(a.work))}")
        print("fingerprint " + json.dumps(self.facts.get("fingerprint"), sort_keys=True))
        print(json.dumps({"correct": correct, "attempted": max(self.attempted, 1),
                          "failed": self.failed if self.attempted else 1, "metrics": metrics}), flush=True)
        return 0 if correct else 1

    def print_e2e_table(self) -> None:
        """The end-to-end table by the workload's own names."""
        r = self.report
        key = "batch_s" if "batch_s" in r else "search_s"
        summ = r.get(key)
        if summ:
            print(f"e2e {key}.p50 = {summ['p50']:.6g} s (n={summ['n']})")
            if summ["tail_p"] is None:
                print(f"e2e {key}.p90 = unavailable (n={summ['n']}; a percentile needs >= "
                      f"{stats.MIN_BEYOND} samples beyond it)")
            else:
                print(f"e2e {key}.p{summ['tail_p']:g} = {summ['tail']:.6g} s (n={summ['n']})")
        if "turns_per_s" in self.e2e:
            what = "input turns per second of ingest wall" if key == "batch_s" else "sink rows scanned per second of query time"
            print(f"e2e turns_per_s = {self.e2e['turns_per_s']:.6g} turns/s ({what})")
        print(f"e2e setup = {json.dumps(r.get('setup'))}")
        if "host_steal_share" in r:
            print(f"host steal share during the measured operations = {r['host_steal_share']:.4f}")

    def print_spans(self) -> None:
        t = self.tracer
        st = spans.self_times(t.spans)
        t0 = t.spans[0].start if t.spans else 0.0
        print(f"spans ({len(t.spans)}; id parent layer name start_s dur_s self_s)")
        for s in t.spans[:400]:
            print(f"span {s.span_id} {s.parent} {s.layer} {s.name} "
                  f"{s.start - t0:.4f} {s.duration:.4f} {st[s.span_id]:.4f}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="perfbench.worker")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--run-dir", required=True)
    args = ap.parse_args(argv)
    run = Run(args)
    missing_core = [n for n in CORE if n not in run.ep]
    if missing_core:
        run.fail(1, f"missing entry points {missing_core}; no operation can run")
        return run.finish()
    # wall of each phase of this process, for the run's time budget
    phases = run.report["phases_s"] = {}
    t = time.perf_counter()
    run.prepare_input()
    phases["input"], t = time.perf_counter() - t, time.perf_counter()
    try:
        if run.trace:
            run.run_traced()
        else:
            run.run_untraced()
        phases["workload"], t = time.perf_counter() - t, time.perf_counter()
        run.facts["fingerprint"] = host.fingerprint(run.spark, os.path.dirname(args.work), PACKAGE)
    except Exception as e:  # noqa: BLE001 - the run as a whole failed; report it
        traceback.print_exc()
        run.fail(1, f"run raised {type(e).__name__}: {e}")
    finally:
        if run.spark is not None:
            run.spark.stop()
        run.oracle.close()
    phases["stop"], t = time.perf_counter() - t, time.perf_counter()
    if run.trace:
        ev = eventlog.parse(eventlog.read_events(run.evdir))
        run.layer_metrics(ev)
        phases["eventlog"] = time.perf_counter() - t
    return run.finish()


if __name__ == "__main__":
    sys.exit(main())
