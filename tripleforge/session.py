"""SparkSession factory with the engine's scale-oriented defaults.

All knobs here are plain public Spark 4.x confs (SURVEY.md §4):
AQE on (coalesce + skew-join as the backstop behind explicit salting),
Arrow on for every pandas/mapInPandas boundary, and a bounded Arrow
batch size because corpus `content` rows are fat (KB-MB each).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def driver_memory(phys_bytes: int | None = None) -> str:
    """Driver heap for a local-mode JVM: half of physical RAM (the other
    half is headroom for the Python workers, Arrow buffers and the OS),
    between 1g and 24g — the size tuned for local[32]."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(24, phys_bytes // 2**31))}g"


def local_cores(master: str | None) -> int | None:
    """Task slots of a local master (``local``, ``local[N]``,
    ``local[*]``, with an optional ``,maxFailures``); None for any
    other master. ``*`` is the cores this process may run on."""
    m = re.fullmatch(r"local(?:\[(\*|\d+)(?:,\d+)?\])?", master or "")
    if m is None:
        return None
    if m.group(1) is None:
        return 1
    return len(os.sched_getaffinity(0)) if m.group(1) == "*" else int(m.group(1))


DEFAULT_CONFS = {
    # local-mode JVM heap: the default 1g OOMs at local[32] with fat
    # content rows in flight, and a small heap makes 32 concurrent tasks
    # spill in every aggregate (each task gets ~heap×0.6/32 of execution
    # memory). Derived from physical RAM — see driver_memory. Only
    # applies before JVM launch; ignored when spark-submit already set
    # it (real clusters size executors instead).
    "spark.driver.memory": driver_memory(),
    # AQE: runtime re-plan, shuffle-partition coalescing, skew-join split.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow across the Python<->JVM boundary for all pandas UDF paths.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Arrow batch sizing: tiny batches (default 10k is fine, 2k measured
    # 3× slower) pay a Python round-trip per batch; 8192 amortizes it
    # while keeping a batch of fat content rows (~3.5 KB each) ~30 MB.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "8192",
    # Throughput GC: the parse path allocates large short-lived string
    # batches; ParallelGC measured ~25% faster than G1 here.
    "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
    # Deterministic timestamp behavior for canonicalization.
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.datetimeRebaseModeInWrite": "CORRECTED",
    "spark.sql.shuffle.partitions": "32",
}


def get_spark(
    app_name: str = "tripleforge",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    in the sandbox; on a real cluster the caller passes nothing and
    spark-submit supplies the master (BASELINE.json north_star:
    "Execution is via spark-submit --py-files").
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master is not None:
        builder = builder.master(master)
    confs = dict(DEFAULT_CONFS)
    # r6 (guide §6): floor the SCAN parallelism at the local core count.
    # The sf fixtures are single parquet files (25-130 MB), so with the
    # default 128 MB maxPartitionBytes every scan — and the map side of
    # every shuffle it feeds — ran as 1-2 tasks on a 32-core box.
    # minPartitionNum only LOWERS the split size when the input would
    # otherwise produce fewer splits than cores (splitting still lands
    # on parquet row-group boundaries); at 100 TB inputs
    # totalBytes/minPartitionNum >> maxPartitionBytes, so split sizing
    # is governed by maxPartitionBytes exactly as before — this cannot
    # shrink partitions at scale. Derived from the master (local[*]
    # resolves to the core count), not hard-coded; clusters (non-local
    # masters) are untouched.
    n = local_cores(master)
    if n is not None:
        confs.setdefault("spark.sql.files.minPartitionNum", str(n))
    if extra_conf:
        confs.update(extra_conf)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
