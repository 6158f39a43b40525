"""Capability-gated table I/O: Iceberg ``writeTo``/``read.table`` when the
runtime jar is on the classpath AND an Iceberg database is configured
(``SPARK_GRAFT_ICEBERG_DB``), plain parquet directories otherwise.

Every index artifact write/read in ``plans/`` routes through
:func:`write_table` / :func:`read_table`, so flipping the env var on a
cluster moves the WHOLE artifact chain (term_tf → doc_stats →
blocks → wmetric) onto Iceberg tables — snapshot isolation, ACID
per-bucket overwrites (``overwritePartitions`` replaces the parquet
``partitionOverwriteMode=dynamic`` trick), and compaction — with zero
call-site changes.  In this sandbox the jar is absent, so the parquet
branch is what integration tests execute; the Iceberg branch is
unit-tested against recording stubs (``tests/test_sources.py``).

Reference parity: the reference persists everything in its hand-built KVS
(``kvs/Master.java``, ``kvs/Worker.java``); SURVEY.md §1.3/§8 maps that
role to Iceberg on Spark.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..session import iceberg_available

ENV_DB = "SPARK_GRAFT_ICEBERG_DB"


def iceberg_db() -> str | None:
    """Configured Iceberg database (``catalog.db`` or ``db``), or None."""
    return os.environ.get(ENV_DB) or None


def use_iceberg(spark: SparkSession) -> bool:
    return iceberg_db() is not None and iceberg_available(spark)


def table_for(path: str) -> str:
    """Map an artifact directory path to its Iceberg table name: the
    basename under the configured db (artifact basenames — term_tf,
    doc_stats, blocks, wmetric, doc_meta — are unique per
    index root; multi-index deployments point ENV_DB at distinct dbs)."""
    return f"{iceberg_db()}.{os.path.basename(os.path.normpath(path))}"


def write_table(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    dynamic: bool = False,
    mode: str = "overwrite",
) -> str:
    """Write ``df`` as the artifact at ``path``; returns the branch taken
    (``"iceberg"`` | ``"parquet"``).

    ``dynamic=True`` is the per-bucket resume contract: only partitions
    present in ``df`` are replaced (Iceberg ``overwritePartitions``;
    parquet ``partitionOverwriteMode=dynamic``).  A dynamic write to a
    not-yet-existing Iceberg table degrades to create-or-replace.
    ``mode="append"`` maps to Iceberg's ACID append.
    """
    spark = df.sparkSession
    if use_iceberg(spark):
        name = table_for(path)
        if dynamic:
            # create-or-replace is only the TABLE-ABSENT degradation; an
            # overwritePartitions failure on an existing table (transient
            # commit conflict, FS error) must propagate — swallowing it
            # and falling through would wipe every completed bucket
            if spark.catalog.tableExists(name):
                df.writeTo(name).overwritePartitions()
                return "iceberg"
        elif mode == "append":
            df.writeTo(name).append()
            return "iceberg"
        w = df.writeTo(name).using("iceberg")
        if partition_by:
            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        w.createOrReplace()
        return "iceberg"
    w = df.write.mode(mode)
    if dynamic:
        w = w.option("partitionOverwriteMode", "dynamic")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
    return "parquet"


def table_exists(spark: SparkSession, path: str) -> bool:
    """Whether the artifact at ``path`` exists AND is readable in
    whichever store holds it — the probe for OPTIONAL artifacts (e.g. the
    pageranks prior).  The parquet branch asks the session's Hadoop
    ``FileSystem`` first, not driver-local ``isdir``: schemeless paths
    resolve against the cluster's default filesystem, and an absent path
    never reaches ``spark.read`` (whose failure logs a Java stack trace
    at every engine open).  A present path is probed through Spark (one
    schema-inference call), so an empty directory left by a crashed
    write reads as absent."""
    if use_iceberg(spark):
        return spark.catalog.tableExists(table_for(path))
    jpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    if not jpath.getFileSystem(conf).exists(jpath):
        return False
    try:
        spark.read.parquet(path)
        return True
    except AnalysisException:
        # the two absence shapes: PATH_NOT_FOUND and the empty-dir
        # "unable to infer schema" — both mean "optional artifact not
        # built".  Anything else (IO/permission errors) must PROPAGATE:
        # swallowing it would silently zero the pagerank prior and serve
        # differently-ranked results instead of failing loudly.
        return False


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Read the artifact at ``path`` from whichever store holds it.  Both
    branches return a plain DataFrame, so downstream filter pushdown and
    partition pruning (``bucket=``) work identically."""
    if use_iceberg(spark):
        return spark.read.table(table_for(path))
    return spark.read.parquet(path)
