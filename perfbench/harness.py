"""Run plumbing shared by the workloads: machine-sized settings, the Spark
session's life cycle, timed set-up repetitions, fixed-size measuring
windows, memory readings and the engine-layer patches of a traced run."""

from __future__ import annotations

import contextlib
import os
import statistics
import subprocess
import time
from dataclasses import dataclass, field

from perfbench import stats
from perfbench.trace import NAME, PARENT, Tracer

PACKAGE = "bytewax_iceberg_connector_spark"
#: set-up repetitions per run; ``setup_s`` reports their median
SETUP_REPS = 3


def machine_settings() -> dict:
    """Session sizing from this machine: one Spark core per usable CPU and
    a 1 GiB driver heap (a quarter of RAM if that is less). The inputs are
    tens of MB; a larger heap leaves the JVM's resident size to the
    collector's growth decisions (2 and 4 GiB heaps measured 19-32%
    run-to-run spreads of peak RSS on the same lake_mixed inputs)."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = next(
            int(line.split()[1]) for line in f if line.startswith("MemTotal:")
        )
    mem_mb = min(1024, total_kb // 1024 // 4)
    return {"cpus": cpus, "driver_memory": f"{mem_mb}m",
            "mem_total_mb": total_kb // 1024}


def configure_env(root: str, run_dir: str, settings: dict) -> None:
    """Environment the engine reads at import and the JVM and Python
    workers inherit; every scratch path points into ``run_dir``."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(settings["cpus"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = settings["driver_memory"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")


@dataclass
class Window:
    """Op samples of one measuring window. ``busy_s`` is the client's time
    spent waiting on the engine; throughput is ops over busy time."""

    samples: list[tuple[str, float]] = field(default_factory=list)
    busy_s: float = 0.0
    extra: dict = field(default_factory=dict)

    def latencies(self, kind: str | None = None) -> list[float]:
        return [t for k, t in self.samples if kind is None or k == kind]

    def ops_per_s(self) -> float:
        return len(self.samples) / self.busy_s


@dataclass
class Outcome:
    """What a workload hands back to the runner."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    windows: list[Window] = field(default_factory=list)
    layers: dict[str, tuple[float, str]] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)


class Phases:
    """Records the wall time of a workload's phases into its detail."""

    def __init__(self, outcome: Outcome) -> None:
        self.times = outcome.detail.setdefault("phase_s", {})
        self.t = time.perf_counter()

    def __call__(self, name: str) -> None:
        now = time.perf_counter()
        self.times[name] = now - self.t
        self.t = now


class Context:
    """One run: arguments, scratch directory, session and tracer."""

    def __init__(self, workload: str, seed: int, seconds: float, traced: bool,
                 run_dir: str, settings: dict) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.run_dir = run_dir
        self.settings = settings
        self.spark = None
        self.session_start_s = 0.0
        self.setup_times: list[float] = []
        self.tracer: Tracer | None = None
        self.ops = 0
        #: high-water marks in MiB, read right after the untraced window
        self.peaks: dict[str, float] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    # -- session -----------------------------------------------------------

    def start_session(self) -> None:
        from bytewax_iceberg_connector_spark.session import get_spark

        heap = self.settings["driver_memory"]
        conf = {
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.local.dir": self.path("local"),
            # a fixed, pre-touched heap: the collector's sizing decisions,
            # which follow timing noise, stay out of the resident size
            "spark.driver.extraJavaOptions": (
                f"-Xms{heap} -XX:+AlwaysPreTouch "
                f"-Dderby.system.home={self.run_dir} "
                f"-Djava.io.tmpdir={self.path('tmp')}"
            ),
            "spark.ui.showConsoleProgress": "false",
        }
        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.workload}", **conf)
        self.session_start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return None if proc is None else proc.pid

    def stop_session(self) -> None:
        """Stop Spark, then the JVM it launched, and wait for it to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)

    # -- set-up and measuring ------------------------------------------------

    def setups(self, build, reps: int = SETUP_REPS):
        """Run ``build(rep)`` ``reps`` times, timing each; returns the last
        state. Reps build independent state so each pays the full cost."""
        state = None
        for rep in range(reps):
            t0 = time.perf_counter()
            state = build(rep)
            self.setup_times.append(time.perf_counter() - t0)
        return state

    def setup_s(self) -> float:
        return self.session_start_s + statistics.median(self.setup_times)

    def windows(self, measure, units_per_s: float, floor: int) -> list[Window]:
        """Measure windows of a fixed amount of work: ``measure(units)``
        runs that many whole units (decks or passes) and returns
        their window. An untraced run measures one window of
        ``units_per_s`` units per second of ``--seconds``, at least
        ``floor``; the count depends on the arguments only, never on the
        engine's speed, so every run and commit reports the same tail
        percentile. A traced run measures an untraced half, then a traced
        half with the layer patches installed; the difference between the
        two is the tracing overhead."""
        if not self.traced:
            steal = cpu_steal_s()
            window = measure(max(floor, round(self.seconds * units_per_s)))
            window.extra["cpu_steal_s"] = cpu_steal_s() - steal
            self.peaks = self.peak_rss_mb()
            return [window]
        half = max(1, round(self.seconds / 2.0 * units_per_s))
        plain = measure(half)
        self.tracer = Tracer()
        install_layers(self.tracer)
        try:
            traced = measure(half)
        finally:
            self.tracer.unpatch()
        return [plain, traced]

    def begin_op(self) -> None:
        """Start the next op; spans opened from now on carry its index."""
        self.ops += 1
        if self.tracer is not None:
            self.tracer.op = self.ops

    def span(self, name: str):
        """A span when tracing, else a no-op context."""
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def peak_rss_mb(self) -> dict[str, float]:
        """Peak resident memory in MiB: ``engine`` sums the JVM and its
        child processes (Spark's Python workers); ``driver`` is this
        process, which holds the benchmark's generators, model and checks
        beside the engine's client code, so it is reported apart."""
        engine_kb = 0
        pid = self.jvm_pid()
        if pid is not None:
            for p in _process_tree(pid):
                engine_kb += _vm_hwm_kb(p)
        return {"engine": engine_kb / 1024.0,
                "driver": _vm_hwm_kb(os.getpid()) / 1024.0}


def _process_tree(root: int) -> list[int]:
    parents: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        parents.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(parents.get(pid, []))
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def cpu_steal_s() -> float:
    """CPU time the hypervisor took from this machine since boot, in
    seconds; a rise during a window marks figures measured under host
    contention."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def e2e_metrics(window: Window) -> dict[str, tuple[float, str]]:
    lat = window.latencies()
    _pct, tail_value = stats.tail(lat)
    return {
        "ops_per_s": (window.ops_per_s(), "1/s"),
        "op_p50_s": (p50(lat), "s"),
        "op_tail_s": (tail_value, "s"),
    }


# -- layer patches for the traced run -----------------------------------------


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except OSError:
                pass
    return total


def install_layers(tracer: Tracer) -> None:
    """Wrap the engine's public entry points with spans, and the sink and
    snapshot-log internals that do metadata work with counters."""
    import json

    from bytewax_iceberg_connector_spark.operators import (
        enrich, errors, sink, snapshots, validate,
    )
    # imported so that patch_everywhere also finds their aliases
    from bytewax_iceberg_connector_spark.plans import llm, relational  # noqa: F401
    from bytewax_iceberg_connector_spark.sources import tables

    for fn in ("load_table", "load_vectors", "table_stats"):
        tracer.patch_everywhere(tables, fn, "sources.load", PACKAGE)
    tracer.patch_everywhere(validate, "validate_schema", "operators.prep",
                            PACKAGE)
    tracer.patch_everywhere(enrich, "enrich_with_metadata", "operators.prep",
                            PACKAGE)
    tracer.patch_everywhere(errors, "error_split", "operators.prep", PACKAGE)

    lake = sink.LakeSink
    for attr, name in (("append", "sink.append"), ("read", "sink.read"),
                       ("merge", "sink.merge"), ("compact", "sink.compact"),
                       ("expire_snapshots", "sink.expire"),
                       ("read_incremental", "sink.read_incremental"),
                       ("_write_commit", "sink.write_commit")):
        tracer.patch(lake, attr, name)

    def on_prune(args, kwargs, result):
        tracer.count("sink.prune_dirs_in", len(args[1]))
        tracer.count("sink.prune_dirs_kept", len(result))

    tracer.patch(lake, "_prune_dirs", "sink.prune", on_prune)

    log = snapshots.SnapshotLog

    def on_commit(args, kwargs, sid):
        self, operation, added = args[0], args[1], args[2]
        vfile = os.path.join(self.meta_dir, f"v{sid}.json")
        tracer.count("snapshots.commits")
        tracer.count("snapshots.meta_bytes", os.path.getsize(vfile))
        for name in added:
            path = os.path.join(self.data_dir, name)
            nbytes = dir_bytes(path)
            if operation == "append":
                try:
                    with open(os.path.join(path, "_bic_spec.json")) as f:
                        n_files = json.load(f).get("n_files", 0)
                except (OSError, ValueError):
                    n_files = 0
                tracer.count("sink.append_commits")
                tracer.count("sink.append_files", n_files)
                tracer.count("sink.append_bytes", nbytes)
            elif operation == "replace":
                tracer.count("sink.compact_bytes", nbytes)

    tracer.patch(log, "commit", "snapshots.commit", on_commit)

    snapshot = log.snapshot

    def counted_snapshot(self, snapshot_id):
        tracer.count("snapshots.vfile_reads")
        if tracer.inside("sink.append"):
            tracer.count("snapshots.vfile_reads_in_append")
        return snapshot(self, snapshot_id)

    tracer.replace(log, "snapshot", counted_snapshot)

    commit_paths = log.commit_paths

    def counted_commit_paths(self, *args, **kwargs):
        paths = commit_paths(self, *args, **kwargs)
        stack = tracer._stack()
        if stack and tracer.spans[stack[-1]][NAME] == "sink.read":
            tracer.count("sink.read_live_dirs", len(paths))
            tracer.count("sink.reads_listed")
        return paths

    tracer.replace(log, "commit_paths", counted_commit_paths)

    atomic_create = log._atomic_create

    def counted_atomic_create(self, path, obj):
        try:
            return atomic_create(self, path, obj)
        except FileExistsError:
            tracer.count("snapshots.commit_conflicts")
            raise

    tracer.replace(log, "_atomic_create", counted_atomic_create)


def top_level(tracer: Tracer, name: str) -> list[float]:
    """Durations of ``name`` spans not nested in another ``name`` span."""
    out = []
    for s in tracer.spans:
        if s[NAME] != name or s[2] is None:
            continue
        parent = s[PARENT]
        if parent is not None and tracer.spans[parent][NAME] == name:
            continue
        out.append(s[2] - s[1])
    return out


def p50(values: list[float]) -> float:
    return stats.nearest_rank(values, 50) if values else 0.0


def ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def common_layers(ctx: Context, tracer: Tracer) -> dict[str, tuple[float, str]]:
    """Layer metrics every workload reports; layers a workload does not
    reach read 0."""
    c = tracer.counts
    append_selfs = tracer.self_times("sink.append")
    client_reads = ("op.read_range", "op.read_agg", "op.read_asof",
                    "op.read_incr")
    reads = tracer.durations("sink.read", parents=set(client_reads))
    return {
        "session.start_s": (ctx.session_start_s, "s"),
        "sink.append_s": (p50(tracer.durations("sink.append")), "s"),
        "sink.append_self_s": (p50(append_selfs), "s"),
        "sink.write_self_s": (p50(tracer.self_times("sink.write_commit")), "s"),
        "sink.files_per_commit": (
            ratio(c.get("sink.append_files", 0), c.get("sink.append_commits", 0)),
            "count"),
        "sink.read_plan_s": (p50(reads), "s"),
        "sink.live_dirs_per_read": (
            ratio(c.get("sink.read_live_dirs", 0), c.get("sink.reads_listed", 0)),
            "count"),
        "sink.prune_keep_ratio": (
            ratio(c.get("sink.prune_dirs_kept", 0), c.get("sink.prune_dirs_in", 0)),
            "ratio"),
        "sink.merge_s": (p50(tracer.durations("sink.merge")), "s"),
        "sink.compact_s": (p50(tracer.durations("sink.compact")), "s"),
        "sink.compact_bytes_rewritten": (
            ratio(c.get("sink.compact_bytes", 0),
                  len(tracer.durations("sink.compact"))), "B"),
        "sink.expire_s": (p50(tracer.durations("sink.expire")), "s"),
        "snapshots.commit_s": (p50(tracer.durations("snapshots.commit")), "s"),
        "snapshots.vfile_reads_per_append": (
            ratio(c.get("snapshots.vfile_reads_in_append", 0),
                  len(tracer.durations("sink.append"))), "count"),
        "snapshots.meta_bytes_per_commit": (
            ratio(c.get("snapshots.meta_bytes", 0), c.get("snapshots.commits", 0)),
            "B"),
        "snapshots.commit_conflicts": (c.get("snapshots.commit_conflicts", 0),
                                       "count"),
        "trace.spans": (float(len(tracer.spans)), "count"),
    }
