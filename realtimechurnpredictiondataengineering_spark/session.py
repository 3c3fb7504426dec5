"""SparkSession construction with scale-aware defaults.

The reference pins tiny-local settings (``local[2]``, 2 shuffle partitions,
AQE off in Bronze — Bronze1.py:79-84, Silver1.py:7-11, Gold1.py:11-13).
This engine instead ships cluster-sane defaults and exposes the same knobs
(SURVEY §2.8 ST7): AQE on (runtime re-plan + skew-join + partition
coalescing), UTC session timezone (deterministic timestamp semantics and
DuckDB-oracle parity), Arrow enabled for the pandas boundary (K6).

Streaming state is sized apart from batch work: stateful streaming
queries are built on ``stream_session(spark, queries)``, a child session
whose only difference is a shuffle width of ``stream_state_partitions``
(the cores divided among the ``queries`` stateful streams that run at
once), because AQE never shrinks a streaming query's state partitions
and the checkpoint pins them at the first batch.  The parent session's
conf is never changed for a stream, so batch work planned on it
concurrently keeps its width.

On a real cluster none of the local-mode bits apply: the builder only sets
``master`` when none is configured, so ``spark-submit --master yarn/k8s``
wins.
"""

from __future__ import annotations

import os
import threading
import weakref

from pyspark.sql import SparkSession

# Config that is correct at every scale (local[32] test box or a
# 1000-executor cluster). Anything sized to the local box stays out of
# this dict and is derived at build time.
ENGINE_CONF: dict[str, str] = {
    # Runtime re-planning: coalesce post-shuffle partitions, convert
    # sort-merge joins to broadcast when a side turns out small, split
    # skewed partitions. The single most important 100-TB knob.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Deterministic timestamps (and DuckDB naive-UTC oracle parity).
    "spark.sql.session.timeZone": "UTC",
    # Parquet TIMESTAMP(NANOS) columns (driver testdata `events.ts`) are
    # unreadable by Spark natively; read as long, converted in
    # sources.batch.load_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow for toPandas()/pandas_udf — the sanctioned Python boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Scans: respect parquet column pruning + predicate pushdown defaults;
    # cap per-task input so 100-TB scans parallelize (default 128m kept).
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Broadcast threshold: 64 MiB — dimension tables (region/nation/
    # customer-agg side) broadcast instead of shuffling the fact table.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Cap the plan strings Spark renders for UI/listener events.  With
    # AQE on, EVERY adaptive stage materialization re-prints the whole
    # plan (AdaptiveSparkPlanExec.onUpdatePlan -> explainString), and
    # iterative queries whose persisted stages nest via
    # InMemoryRelation.innerChildren render multi-MB trees dozens of
    # times per query — driver thread dumps during cc10_hits showed
    # ~11 s/run of driver CPU inside TreeNode.generateTreeString
    # (optimization guide §7.3).  64 KiB keeps the UI prefix useful;
    # plan-dump tooling raises this per-session (it is runtime-settable)
    # when a full tree is actually wanted.
    "spark.sql.maxPlanStringLength": str(64 * 1024),
    # canChangeCachedPlanOutputPartitioning was set true in r14 on the
    # theory that cached frames pinned tiny 96-way partitionings; the
    # r15 evidence pass could not reproduce any benefit (staged-table
    # consumer suite: 9.02/9.16 s with it on vs 8.91/8.84 s off at
    # sf0.1; consumer plans byte-identical) — reverted to the Spark
    # default (false) per the evidence-or-revert rule.
    # Streaming: state store kept small + RocksDB would be used on a real
    # cluster; local default store is fine for tests.
    "spark.sql.streaming.stateStore.stateSchemaCheck": "true",
}


def _master_configured() -> bool:
    """True when a master is already set by the deployment — via
    ``spark-submit --master`` (which sets the ``spark.master`` system
    property / SparkConf, NOT an env var) or the ``SPARK_MASTER`` env.
    Only when neither is present do we default to local[N]."""
    if "SPARK_MASTER" in os.environ:
        return True
    try:
        from pyspark import SparkConf

        return SparkConf().contains("spark.master")
    except Exception:  # pragma: no cover - SparkConf probe is best-effort
        return False


def _driver_memory_configured() -> bool:
    """True when the deployment already sized the driver heap — via
    ``spark-submit --driver-memory`` / ``spark.driver.memory`` (system
    property or SparkConf) or the ``SPARK_DRIVER_MEMORY`` env var that
    spark-submit consults."""
    if "SPARK_DRIVER_MEMORY" in os.environ:
        return True
    try:
        from pyspark import SparkConf

        return SparkConf().contains("spark.driver.memory")
    except Exception:  # pragma: no cover - SparkConf probe is best-effort
        return False


def _local_driver_memory() -> str:
    """Heap size for a self-launched local[N] session: a quarter of
    physical RAM, capped at 16 GiB, floored at 2 GiB.

    Without this, a local session runs on Spark's 1 GiB default — and in
    local mode that one JVM heap IS the executor memory for every
    concurrent task, the broadcast store, and the block-manager cache.
    Measured on the 32-core bench box: the full headline suite under the
    1 GiB default GC-throttles throughout and finally dies with
    ``java.lang.OutOfMemoryError: Java heap space`` near suite end
    (round-14 run: cc09/cc10 lost to the context shutdown), while the
    same suite under a right-sized heap runs clean (optimization guide
    §5: size memory to the workload, not the default).  Never applied
    when the deployment sizes the driver itself (``spark.driver.memory``
    or ``SPARK_DRIVER_MEMORY``, see `_driver_memory_configured`)."""
    try:
        total = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (ValueError, OSError):  # pragma: no cover - non-POSIX fallback
        total = 8 * 1024**3
    gib = max(2, min(16, int(total / 4 / 1024**3)))
    return f"{gib}g"


def _local_cpus() -> int:
    """Cores of a self-launched local session: ``SPARK_GRAFT_CPUS`` when
    set to a positive integer, the machine's count when unset or empty.
    Any other value raises rather than guessing."""
    raw = os.environ.get("SPARK_GRAFT_CPUS", "")
    if not raw:
        return os.cpu_count() or 4
    try:
        cpus = int(raw)
    except ValueError:
        cpus = 0
    if cpus < 1:
        raise ValueError(f"SPARK_GRAFT_CPUS must be a positive integer, got {raw!r}")
    return cpus


def session_builder(
    app_name: str = "realtimechurnpredictiondataengineering-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession.Builder:
    """Return a configured builder; caller may still override anything."""
    builder = SparkSession.builder.appName(app_name)
    cpus = _local_cpus()
    if master is None and not _master_configured():
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
        # We own the deployment (self-launched local JVM): size its heap.
        # On a real cluster master/driver memory come from spark-submit
        # and this branch never runs.
        if not _driver_memory_configured():
            builder = builder.config(
                "spark.driver.memory", _local_driver_memory()
            )
    conf = dict(ENGINE_CONF)
    # With AQE on, start shuffle.partitions at ~3x cores locally and let
    # coalescing shrink; on a cluster this should be ~2-3x total cores and
    # is expected to be overridden by the deployment.
    if shuffle_partitions is None:
        shuffle_partitions = 3 * cpus
    conf["spark.sql.shuffle.partitions"] = str(max(shuffle_partitions, 4))
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder


def get_spark(**kwargs) -> SparkSession:
    """Build (or fetch the active) engine session."""
    spark = session_builder(**kwargs).getOrCreate()
    tune_runtime(spark)
    return spark


def stream_state_partitions(spark: SparkSession, queries: int = 1) -> int:
    """Partition width for STATEFUL STREAMING queries: the session's
    default parallelism (cores) shared among the ``queries`` stateful
    streams that run at the same time, at least 1.
    :func:`stream_session` is where the engine applies it.

    Batch queries start at ~3× cores and let AQE coalesce post-shuffle
    partitions to the data; streaming state gets NO such correction —
    AQE does not run on streaming plans, and the width is pinned into
    the checkpoint at first batch.  Every state partition costs a fixed
    amount per micro-batch whatever its row count (a state-store task
    that loads its map, writes and checksums a delta file, and forks a
    ``chmod`` per file where Hadoop has no native library): measured on
    ll17_streaming_warc_ingest at sf0.1, 96 state partitions ran 6-16 s
    where 8 ran 3.1 s.  So the width is what can run concurrently: cores
    for one stream, and a share of them when several run at once.  A
    Silver drain runs four queries, one per entity: at cores each, its
    16 state tasks on a 4-core box took 190-250 ms apiece, about 20 ms
    of it CPU."""
    return max(1, spark.sparkContext.defaultParallelism // queries)


_STREAM_SESSIONS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_STREAM_SESSIONS_LOCK = threading.Lock()


def stream_session(spark: SparkSession, queries: int = 1) -> SparkSession:
    """The session stateful streaming queries are built on: a child of
    ``spark`` (``newSession()``, one per parent and width, reused) whose
    only difference is ``spark.sql.shuffle.partitions`` =
    ``stream_state_partitions(spark, queries)``.  ``queries`` is the
    number of stateful streams the caller runs at once.

    A streaming query clones the session of the DataFrame it starts from
    at ``start()`` and its offset log pins the width at batch 0, so the
    parent's conf is never touched — batch work planned concurrently on
    the parent (the Gold loop beside the Silver streams) keeps its 3×
    width — and a checkpoint created at another width keeps running at
    that width.  ``newSession()`` drops runtime-set conf (a timezone set
    on the parent at runtime is back at the SparkContext's value in the
    child, and Silver's ``from_json`` timestamp parsing depends on it),
    so every call brings the child's conf level with the parent's,
    setting only the keys that differ.

    The child has its own temp views and ``spark.streams`` manager:
    memory-sink views of queries started here are not visible through
    the parent, and the parent's ``streams`` does not list them.  The
    child is reused rather than made per call because a session's
    ``streams`` manager adds a listener to the SparkContext's listener
    bus that is never removed: a fresh session (``newSession()`` or
    ``cloneSession()``) per started query leaves one listener, and the
    whole session behind it, for the rest of the application.  So a
    parent has at most one child per width it is asked for."""
    width = stream_state_partitions(spark, queries)
    with _STREAM_SESSIONS_LOCK:
        children = _STREAM_SESSIONS.setdefault(spark, {})
        child = children.get(width)
        if child is None:
            child = children[width] = spark.newSession()
        want = {**spark.conf.getAll, "spark.sql.shuffle.partitions": str(width)}
        have = child.conf.getAll
        for key, value in want.items():
            if have.get(key) != value:
                child.conf.set(key, value)
        for key in have.keys() - want.keys():
            child.conf.unset(key)
    return child


def tune_runtime(spark: SparkSession) -> None:
    """Apply runtime-settable engine conf to an externally-built session.

    The driver hands our query functions its own SparkSession; these are
    the settings correctness depends on (timezone for oracle parity,
    Arrow for pandas ops), all runtime-mutable.
    """
    for key, value in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    ):
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover - conf may be static in some deployments
            pass
