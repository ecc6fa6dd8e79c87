"""Scale-adaptive fan-out for expression-heavy map stages.

A small input (one parquet file, a tiny post-shuffle relation) runs as
fewer tasks than cores, so per-row-expensive map work (md5-per-shingle
hashing, n-gram zips) runs on one thread while the other cores idle.
``fan_out_small`` round-robin-repartitions such input to
``defaultParallelism`` and leaves any other frame untouched (round-robin
only relocates rows, so results never change).  It decides without
submitting a Spark job:

* no exchange in the plan (not an AQE ``AdaptiveSparkPlan``): the scan's
  split count, exact from ``df.rdd.getNumPartitions()`` (planning only);
* an exchange: the RDD probe would run every upstream shuffle stage (AQE
  materializes them to plan the last one), and the next consumer would
  run them again.  A plan ending in a round-robin repartition keeps its
  explicit count; anything else fans out iff ``estimated_bytes`` is below
  the size under which AQE coalesces a shuffle into fewer than cores
  partitions (``coalescePartitions.minPartitionSize`` x cores).

At scale both answers are "leave it".  Not applied inside plan-asserted
map-only operators (minhash_signatures, winnow_fingerprints, ...), whose
zero-shuffle shape is what matters at scale."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from duckdb_annsearch_spark.session import estimated_bytes

__all__ = ["fan_out_small"]


def _orderable(dt) -> bool:
    # keyless repartition sorts rows first (sortBeforeRepartition): a
    # MapType anywhere is unorderable and fails plan compilation (ADVICE r9)
    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return _orderable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    return True


def fan_out_small(df: DataFrame) -> DataFrame:
    """Repartition ``df`` to ``defaultParallelism`` iff it would run on
    fewer partitions than that (else returns ``df`` untouched)."""
    if df.isStreaming or not all(_orderable(f.dataType) for f in df.schema.fields):
        return df
    spark, cores = df.sparkSession, df.sparkSession.sparkContext.defaultParallelism
    plan = df._jdf.queryExecution().executedPlan()
    adaptive = plan.nodeName() == "AdaptiveSparkPlan"
    part = plan.inputPlan().outputPartitioning() if adaptive else None
    if part is None:
        small = df.rdd.getNumPartitions() < cores
    elif part.getClass().getSimpleName() == "RoundRobinPartitioning":
        small = part.numPartitions() < cores
    else:
        jutils = spark._jvm.org.apache.spark.network.util.JavaUtils
        bound = cores * jutils.byteStringAsBytes(
            spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize"))
        est = estimated_bytes(df)
        small = est is not None and est < bound
    return df.repartition(cores) if small else df
