"""SparkSession factory with scale-appropriate defaults.

Defaults are tuned for the sandbox (single JVM, ``local[N]``) but every knob is the
one you would also set on a 1000-executor cluster:

- AQE on (runtime coalescing + skew-join splitting): blocking keys over web-scale
  anchor dictionaries are Zipfian, so skew handling must be on by default.
- Arrow execution for pandas UDFs (the north rule mandates vectorized UDFs only).
- ``spark.sql.shuffle.partitions`` sized to cores in local mode; on a real cluster
  AQE coalesces from a high initial number, so we set a high initial partition count
  and let AQE shrink it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "minimel_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard configuration.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default all cores).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        ncores = os.cpu_count() or 8 if cpus == "*" else int(cpus)
        shuffle_partitions = max(2 * ncores, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing, skew-join splitting, join re-planning.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing sizes post-shuffle stages by COMPRESSED shuffle
        # bytes; the default 1 MiB floor collapses dictionary-sized
        # exchanges (a few MB feeding a large fan-out, e.g. the salted
        # name join that expands to millions of candidate pairs) to a
        # handful of tasks, serializing the expensive downstream stage.
        # 64 KiB keeps the parallelismFirst target (total/defaultParallelism)
        # in charge down to tiny stages — scale-general: the floor matters
        # exactly when a stage's input is small relative to the cluster,
        # which is when fan-out work gets serialized (guide §2.5 input-skew
        # sibling; deployments override it through ``extra_conf``).
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow transfer for pandas UDFs / toPandas (north rule: vectorized only).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 50k records/batch (guide §4.2: raise for narrow data): the r6
        # broadcast-cos and other id-keyed UDFs move 16-24 B/row, where the
        # old 10k batches left most of the cost in per-batch overheads
        # (measured: dense scoring segment 24.7-25.2 s -> 20.3-20.4 s).
        # Wide rows stay bounded by Spark 4's arrow.maxBytesPerBatch cap
        # (64 MiB default), so text-heavy UDF batches split by bytes, not
        # by this knob.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        # Broadcast threshold: dimension tables (title index, candidate dict
        # exports) should broadcast; 64m is safe with 128 GiB driver/executors.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Deterministic timestamps in parquet roundtrips.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
