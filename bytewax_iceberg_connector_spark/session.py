"""SparkSession factory + defensive runtime configuration.

The reference engine (KingMohan45/bytewax-iceberg-connector) has no session
concept — a Bytewax dataflow is built imperatively. Here the session IS the
engine: Catalyst plans, Tungsten executes, AQE re-plans at runtime.

Scale notes (100 TB / 1000 executors):
- AQE on: runtime coalescing of small shuffle partitions, skew-join splitting,
  and dynamic join-strategy demotion are what keep a static plan honest at
  scale. We enable it unconditionally.
- ``spark.sql.shuffle.partitions`` is a *local* default (32 = test box cores);
  on a real cluster AQE's coalescing makes the initial number mostly a ceiling
  — set it to 2-3x total cores there.
- Arrow transfer on: every pandas_udf / toPandas boundary is Arrow-batched,
  the Spark-native analogue of the reference's row-buffer→Arrow flush
  (reference connector.py:232-237).
"""

from __future__ import annotations

import glob
import hashlib
import logging
import os
import shutil
import subprocess
import tempfile
import zipfile

import pyspark
from pyspark import SparkContext
from pyspark.sql import SparkSession

logger = logging.getLogger(__name__)

# SQL confs that are runtime-settable and that the engine depends on.
# Applied defensively in ensure_engine_conf() because the driver may hand us
# a session we did not build.
_RUNTIME_CONF = {
    # testdata events.parquet stores timestamp[ns]; Spark has no ns timestamp
    # type, so read as long and convert with timestamp_micros(ns div 1000)
    # (see sources/tables.py). Truncation matches DuckDB's ns→us cast.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # deterministic timestamp rendering for the duckdb-oracle comparison
    "spark.sql.session.timeZone": "UTC",
    # Arrow for all pandas_udf boundaries
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # partition-dir values must decode as EXACT strings: inference turns a
    # string partition value "0123" into int 123 (leading zero gone) and
    # "1e5" into a double — lossy before any cast can help. The sink casts
    # each _p_* column to its DECLARED type after load (operators/sink.py
    # _restore_pcols), which is exact from the literal string; r10
    # hostile-partition-values sweep.
    "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
}

# Engine TUNING defaults — unlike _RUNTIME_CONF these are not correctness
# invariants, so ensure_engine_conf applies them ONCE per session (sentinel
# below) and then respects whatever the user sets afterward. Force-reapplying
# them on every load_table() silently clobbered legitimate per-workload
# overrides (the r12 find: three plan-quality tests set
# autoBroadcastJoinThreshold=-1 to pin shuffle-join behaviors and had it
# reset to 64 MB mid-query).
_TUNING_CONF = {
    # Broadcast threshold recalibrated to the box (r12 triangle_count
    # adjudication): the 10 MB default left ~19 MB build sides (e.g. the
    # basket-graph edge list) straddling the line, so AQE flipped the
    # closure join between BHJ and a 41M-row SMJ sort run-to-run — the
    # source of the bimodal 7 s / 12-15 s timings r09-r11 read as drift.
    # 64 MB is trivially safe on a 16 g driver (32 tasks share ONE copy
    # in local mode) and keeps join selection adaptive — a genuinely
    # large side still merges. On a real cluster size this to a few %
    # of executor memory, not the 10 MB 2015-era default.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.adaptive.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # State store pinned to RocksDB (r12, verdict item 1b): the r11
    # instrumented flake showed a key's applyInPandasWithState state
    # reading back EMPTY one micro-batch later under heavy host load
    # while a sibling key (different shuffle partition) carried — sink
    # loss and timeout misfire excluded, leaving version loss in the
    # default HDFSBackedStateStore's in-memory map under memory/GC
    # pressure as the suspect (upstream, not our operator). RocksDB
    # keeps state off-heap with its own WAL/versioning, is the
    # production-scale choice anyway (bounded executor heap at 100 TB
    # state), and is what transformWithState requires.
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    # AQE partition-coalescing floor (r12 optimization round): with
    # parallelismFirst (default on) AQE already prefers parallelism over
    # advisoryPartitionSizeInBytes, but it never coalesces below
    # minPartitionSize = 1 MB — so a 2-5 MB shuffle (collect_list'd
    # embedding blocks feeding the GEMM tile kernels, shingle tables
    # feeding the minhash/simhash signature kernels) lands on 1-5 tasks
    # and the CPU-heavy Arrow kernel behind it runs nearly serial while
    # 32 cores idle. 1 MB of collect_list rows is SECONDS of Python
    # kernel compute — the bytes-per-task heuristic is wrong by orders
    # of magnitude for that tier. The 256 KB floor restores kernel
    # parallelism at bench scale and is scale-neutral by construction:
    # it only changes shuffles whose total size is under ~parallelism
    # x 1 MB, which at 100 TB is final-aggregate noise (measured: the
    # GEMM-tier queries 2-3x faster at sf0.1, large-shuffle plans
    # unchanged). 256 KB — not lower — because the narrow-JVM-shuffle
    # tier (gram counts, small aggregates) regresses on per-task
    # overhead when fragmented all the way to 64 KB (A/B'd: 64k/256k/1m
    # battery totals 42.8/39.2/42.5 s; re-A/B'd cold-process in r13:
    # 256k/512k statistically tied, 1m worse — kept). Parameterized for
    # cluster tuning.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize":
        os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION", "256k"),
}

_TUNING_SENTINEL = "spark.bytewax_iceberg.tuningApplied"

_BUILD_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # local[32] box: one shuffle partition per core; AQE coalesces below this
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    # local mode runs everything in the driver JVM; the 1g default heap
    # thrashes GC under 32 concurrent tasks + Arrow batches (observed 5x
    # run-to-run variance). On a real cluster executors size this instead.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    # long many-query sessions degrade ~6x from listener/UI state (tens of
    # thousands of retained task rows → growing GC live-set). Headless
    # driver: no UI, minimal retained history.
    "spark.ui.enabled": "false",
    "spark.ui.retainedJobs": "50",
    "spark.ui.retainedStages": "100",
    "spark.ui.retainedTasks": "1000",
    "spark.sql.ui.retainedExecutions": "20",
    # ContextCleaner only reclaims shuffle files / broadcasts after a driver
    # GC notices the weak refs; a 16g heap almost never GCs on its own, so
    # hundred-query sessions stall multi-seconds when cleanup finally lands.
    # Force the cleaner's periodic GC every minute (default 30min).
    "spark.cleaner.periodicGC.interval": "1min",
}


def ensure_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs the engine needs on ANY session.

    Idempotent; safe on driver-provided sessions. Correctness invariants
    (_RUNTIME_CONF) are re-applied every call; tuning defaults
    (_TUNING_CONF) only the FIRST time this session is seen, so a user's
    later ``spark.conf.set`` of a threshold sticks across load_table calls.
    """
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf locked by a strict session
            pass
    if spark.conf.get(_TUNING_SENTINEL, None) is None:
        for k, v in _TUNING_CONF.items():
            try:
                spark.conf.set(k, v)
            except Exception:  # pragma: no cover - conf locked
                pass
        try:
            spark.conf.set(_TUNING_SENTINEL, "true")
        except Exception:  # pragma: no cover - conf locked
            pass
    return spark


# In-process local filesystem (InProcessLocalFileSystem.java). pyspark
# ships without libhadoop, so Hadoop's local filesystem starts a `chmod`
# child process for every mkdir and file create, and FileContext (Spark's
# checkpoint logs) a `readlink` process on every rename: 9-55 ms each, many
# times per sink commit and streaming trigger. The helper does both inside
# the JVM. It is compiled once per source and Spark version into a per-user
# cache, and only joins a session whose JVM get_spark itself launches: the
# classpath is fixed once the JVM runs, so a session built elsewhere (the
# __spark_entry__ contract) keeps the stock filesystem.
_FS_SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "InProcessLocalFileSystem.java")
_FS_CLASS = "bytewax_iceberg_connector_spark.InProcessLocalFileSystem"
_fs_warned = False


def _warn_fs_once(reason: str) -> None:
    global _fs_warned
    if not _fs_warned:
        _fs_warned = True
        logger.warning("in-process local filesystem not added: %s", reason)


def _javac() -> str | None:
    home = os.environ.get("JAVA_HOME")
    javac = home and os.path.join(home, "bin", "javac")
    return javac if javac and os.access(javac, os.X_OK) else \
        shutil.which("javac")


def _local_fs_jar() -> str | None:
    """The helper jar, compiled on first use; None (with one warning) when
    there is no JDK or the build fails."""
    javac = _javac()
    if javac is None:
        _warn_fs_once("no javac found; Hadoop's stock local filesystem "
                      "starts a child process per chmod and readlink")
        return None
    with open(_FS_SOURCE, "rb") as f:
        key = hashlib.sha256(f.read() + pyspark.__version__.encode())
    cache = os.path.join(os.path.expanduser("~"), ".cache",
                         "bytewax_iceberg_connector_spark")
    jar = os.path.join(cache, f"localfs-{key.hexdigest()[:16]}.jar")
    if os.path.exists(jar):
        return jar
    from pyspark.find_spark_home import _find_spark_home

    jars = os.path.join(_find_spark_home(), "jars")
    cp = glob.glob(os.path.join(jars, "hadoop-client-api-*.jar")) or \
        [os.path.join(jars, "*")]
    try:
        os.makedirs(cache, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=cache) as tmp:
            subprocess.run([javac, "--release", "17", "-nowarn", "-d", tmp,
                            "-cp", os.pathsep.join(cp), _FS_SOURCE],
                           check=True, capture_output=True, text=True)
            part = os.path.join(tmp, "helper.jar")
            with zipfile.ZipFile(part, "w") as z:
                for root, _dirs, files in os.walk(tmp):
                    for fn in files:
                        if fn.endswith(".class"):
                            full = os.path.join(root, fn)
                            z.write(full, os.path.relpath(full, tmp))
            os.replace(part, jar)  # concurrent builds: last one wins
    except (OSError, subprocess.CalledProcessError) as e:
        _warn_fs_once(f"building it failed: "
                      f"{getattr(e, 'stderr', None) or e}")
        return None
    return jar


def _launch_conf(extra_conf: dict, jvm_running: bool) -> dict:
    """Every conf get_spark passes to ``SparkSession.builder``. The tuning
    defaults go in with ``extra_conf`` taking precedence; the sentinel
    stops ensure_engine_conf from re-applying them over a caller's
    explicit override. When this call launches the JVM (``jvm_running``
    False), the in-process local filesystem is added too, its jar joined
    to any classpath the caller passed."""
    conf = {**_BUILD_CONF, **_RUNTIME_CONF, **_TUNING_CONF,
            _TUNING_SENTINEL: "true", **extra_conf}
    if jvm_running:
        _warn_fs_once("a JVM is already running; the session keeps the "
                      "local filesystem it was launched with")
        return conf
    jar = _local_fs_jar()
    if jar is None:
        return conf
    for k in ("spark.driver.extraClassPath", "spark.executor.extraClassPath"):
        conf[k] = os.pathsep.join(filter(None, [extra_conf.get(k), jar]))
    conf["spark.hadoop.fs.file.impl"] = _FS_CLASS
    conf["spark.hadoop.fs.AbstractFileSystem.file.impl"] = \
        f"{_FS_CLASS}$Context"
    return conf


def get_spark(
    app_name: str = "bytewax-iceberg-spark",
    master: str | None = None,
    **extra_conf: str,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.master(master).appName(app_name)
    jvm_running = (SparkContext._gateway is not None
                   or "PYSPARK_GATEWAY_PORT" in os.environ)
    for k, v in _launch_conf(extra_conf, jvm_running).items():
        builder = builder.config(k, str(v))
    spark = builder.getOrCreate()
    return ensure_engine_conf(spark)
