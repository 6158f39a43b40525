"""SparkSession factory for the holi-search-engine PySpark rebuild.

Local-mode testing defaults; production deploys the same config via
``spark-submit --py-files holi_search_engine_spark.zip`` on a multi-executor
cluster.  All persistent artifacts are written as parquet in this sandbox;
on a cluster they are Iceberg tables (catalog config gated below — the
Iceberg runtime jar is not present in the test container).

Reference architecture being replaced: the hand-built Flame master/worker
HTTP layer (``/root/reference/src/cis5550/flame/Master.java:48-136``,
``flame/Worker.java``) — Spark's scheduler + sort-based shuffle subsumes
all of it (SURVEY.md §3.1).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Iceberg partition spec we would apply on a real cluster (documented here,
# applied when the runtime jar is available): the final index table is
# partitioned by ``bucket(INDEX_BUCKETS, term)`` so query-time term lookups
# prune to one bucket, mirroring the reference's range-partitioned KVS rows
# (kvs/KVSClient.java:190-200) without its per-row HTTP hops.
INDEX_BUCKETS = 64

_ICEBERG_PACKAGES = "org.apache.iceberg:iceberg-spark-runtime-4.0_2.13"


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on the classpath.

    Must go through the JVM classloader: attribute access on ``_jvm``
    returns a ``JavaPackage`` placeholder for MISSING classes instead of
    raising, so the naive ``spark._jvm.org.apache.iceberg...`` probe is
    always truthy."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def default_driver_memory() -> str:
    """Half the machine's memory (``MemTotal``), at least 1g.  In local
    mode the executors run inside the driver JVM, and G1 grows a heap
    toward its cap rather than collect, so a cap past the machine's memory
    starves the Python workers.  4g where ``/proc/meminfo`` is absent."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "4g"
    return f"{max(1, kb // (2 << 20))}g"


def get_spark(
    app_name: str = "holi_search_engine_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or ``*``.
    The driver heap is ``$SPARK_DRIVER_MEM``, else
    :func:`default_driver_memory`.
    ``shuffle_partitions`` defaults to the core count — at 100 TB scale this
    is instead sized so each shuffle partition stays ≲ 256 MB
    (AQE coalescing handles the downward adjustment at runtime).
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
    else:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    # Shuffle/spill files default to /tmp, which in this sandbox is a
    # shared virtio disk with multi-second sync stalls under neighbor
    # load; tmpfs removes that noise.  (On a cluster spark.local.dir is
    # the executors' local SSDs and this env is unset.)
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
