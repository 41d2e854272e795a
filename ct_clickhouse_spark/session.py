"""SparkSession factory tuned for columnar OLAP workloads.

Design notes (100 TB mindset, tested on local[N]):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting, and
  sort-merge->broadcast conversion are exactly the knobs that matter when the
  same plan runs at 1000x the data.
- Arrow on: every Pandas UDF / toPandas crossing is Arrow-batched.
- UTC session timezone: the fixture timestamps are naive; pinning UTC makes
  Spark results bit-comparable with the DuckDB oracle.
- shuffle.partitions defaults to the core count locally; on a real cluster it
  should be ~2-3x total cores (or left to AQE's coalescing with a high
  initial value) — exposed as a parameter rather than hardcoded.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def run_in_scheduler_pool(spark: SparkSession, pool: str, fn, *args):
    """Run ``fn(*args)`` with this thread's jobs assigned to the FAIR
    scheduler pool ``pool``, restoring the thread's previous pool after.

    FAIR mode (`spark.scheduler.mode=FAIR`) arbitrates BETWEEN pools;
    jobs sharing one pool (including the default pool) schedule FIFO
    within it — so two threads that want their jobs to actually
    interleave must each claim a distinct pool. Local properties are
    per-Python-thread under pinned-thread mode, which is what makes
    per-thread pool scoping work at all. Restoring (not clearing) the
    previous value keeps nesting safe — e.g. maintenance work invoked
    from a serving request thread that already set its request pool."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.scheduler.pool")
    sc.setLocalProperty("spark.scheduler.pool", pool)
    try:
        return fn(*args)
    finally:
        sc.setLocalProperty("spark.scheduler.pool", prev)


_SMALL_SESSION_CACHE: dict[tuple[str, int], SparkSession] = {}


def get_small_job_session(
    spark: SparkSession, partitions: int = 4
) -> SparkSession:
    """A config-clone of ``spark`` (same SparkContext, same cached data,
    own SQLConf) with a small shuffle width — for maintenance jobs over
    key slices a corpus-wide shuffle width would drown in task-scheduling
    overhead. AQE won't save these: localCheckpoint/RDD-materialization
    paths (the mutation operators' read-before-overwrite barrier) launch
    the full ``shuffle.partitions`` task count, and on a warm 32-core
    session the per-task scheduling overhead dwarfs the data (measured:
    the merge_upsert window job on 14k rows drops 1.45 s -> 0.68 s at 4
    partitions). The clone never mutates the caller's conf (the earlier
    context-manager that scoped the parent's shuffle.partitions raced
    concurrent corpus jobs — removed per r8 advice), so small jobs can
    run CONCURRENTLY with corpus-sized jobs on the main session (FAIR
    scheduler) — the per-workload-SQLConf pattern
    ``SparkSession.newSession`` exists for.
    Cached per (parent session, width) — keyed like the artifact
    registry (``id(spark)`` would alias a new session allocated
    at a recycled address after the old one is collected), with
    ``partitions`` in the key so callers asking for different widths
    get distinct clones rather than whichever width was requested
    first. Bounded like every sibling cache: a process cycling
    get_spark()/stop() must not pin one dead clone per applicationId
    forever (a clone holds JVM-side SessionState via py4j)."""
    from .artifacts import ARTIFACT_CACHE_MAX, _session_key

    key = (_session_key(spark), int(partitions))
    hit = _SMALL_SESSION_CACHE.get(key)
    if hit is not None:
        return hit
    clone = spark.newSession()
    clone.conf.set("spark.sql.shuffle.partitions", str(partitions))
    _SMALL_SESSION_CACHE[key] = clone
    while len(_SMALL_SESSION_CACHE) > ARTIFACT_CACHE_MAX:
        _SMALL_SESSION_CACHE.pop(next(iter(_SMALL_SESSION_CACHE)))
    return clone


def get_spark(
    app_name: str = "ct-clickhouse-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    # SPARK_GRAFT_MASTER lets the verify/bench harnesses run the SAME
    # suite under a multi-process master (e.g. local-cluster[2,16,8192])
    # to catch executor-boundary assumptions single-JVM local[N] hides.
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: coalesce post-shuffle partitions, handle skew, runtime
        # broadcast conversion — essential at scale, harmless locally.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Columnar scan efficiency: pushdown + pruning are on by default in
        # Spark 4 but pinned here because the engine depends on them.
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Pandas-UDF batch size: the default 10000 rows is sized for
        # scalar columns; the multimodal kernels carry ~50 KB binary
        # payloads per row, where a 10k-row batch is ~500 MB of Arrow +
        # pandas memory PER WORKER (observed worker deaths at sf1).
        # 1024 keeps every batch O(50 MB) worst-case and costs nothing
        # measurable on scalar-only UDFs (per-batch overhead is ~µs).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # FAIR scheduling: the serving layer (serving/app.py) runs many
        # concurrent client requests as concurrent jobs on this one
        # session — FIFO would let one heavy /stats scan head-of-line
        # block every /subdomains point lookup behind it. Batch work is
        # unaffected (a single driver thread submits jobs serially).
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.ui.enabled", "false")
    )
    if master.startswith("local-cluster"):
        # separate executor JVMs spawn their own Python workers: they
        # must be able to import this package (pandas UDFs pickle module
        # functions by reference) and must fit inside the worker memory
        # declared in the master string.
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        builder = builder.config(
            "spark.executorEnv.PYTHONPATH", repo_root
        ).config(
            "spark.executor.memory",
            os.environ.get("SPARK_GRAFT_EXECUTOR_MEM", "6g"),
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
