"""SparkSession construction tuned for this engine.

Local-mode defaults match the test/bench environment (single JVM,
``local[N]``); on a real cluster the same settings are sane starting points —
AQE handles skew/coalescing at runtime, Arrow is required for the pandas-UDF
probe operators.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession


@contextlib.contextmanager
def job_label(sc, text: str):
    """Label every job submitted inside the block (guide §1.5) and restore
    the caller's label after — descriptions are thread-local, so concurrent
    build threads label independently and a host harness's own label (e.g.
    qprof's) survives the engine's internal stages."""
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(text)
    try:
        yield
    finally:
        sc.setJobDescription(prev)


def estimated_bytes(df) -> int | None:
    """The optimizer's size estimate of ``df`` (``sizeInBytes`` of its
    optimized plan) — the one answer to "is this relation small?" that the
    planner itself uses for broadcast decisions.  Planning only: no Spark
    job runs.  ``None`` when the plan offers no estimate; each caller
    chooses its own fallback."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


def get_spark(app_name: str = "duckdb_annsearch_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # zstd shuffle/spill compression: measured at 20M docs as the
        # difference between disk-infeasible and healthy on gram-hash
        # shuffles (~30 GB scratch vs ~80 GB lz4 on the span pipeline) —
        # the engine's common heavy shuffle shape, so it is the default;
        # override via SPARK_GRAFT_EXTRA_CONF for lz4 A/Bs
        .config("spark.io.compression.codec", "zstd")
        # FAIR job scheduling: concurrent DDL (index-family warm-ups,
        # multi-index builds from driver threads) interleaves single-task
        # driver jobs with wide 32-task stages instead of queueing behind
        # them — each build thread gets its own on-demand pool (see
        # __spark_entry__._timed_builds); sequential queries see FIFO
        # behavior unchanged (one job at a time)
        .config("spark.scheduler.mode", "FAIR")
    )
    # SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2" — ad-hoc conf for scale runs on
    # constrained boxes (e.g. spark.io.compression.codec=zstd roughly
    # halves shuffle+spill scratch vs lz4 on hash-heavy exchanges)
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for kv in filter(None, (s.strip() for s in extra.split(";"))):
        k, _, v = kv.partition("=")
        builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
