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

The single-node engines read without Spark: :func:`snapshot` lists a
table's data files once (the parquet directory, or the Iceberg ``files``
metadata table), and :meth:`TableFiles.read` reads those files with
``pyarrow.dataset``.

Reference parity: the reference persists everything in its hand-built KVS
(``kvs/Master.java``, ``kvs/Worker.java``); SURVEY.md §1.3/§8 maps that
role to Iceberg on Spark.
"""

from __future__ import annotations

import os
import re
from typing import NamedTuple
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.fs as pafs
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


class StaleSnapshot(RuntimeError):
    """A data file of a table's open snapshot is gone: the table was
    rewritten after the reader listed it."""


class TableFiles(NamedTuple):
    """One table's data files as listed once: what a single-node reader
    reads, for as long as it is open.  ``buckets`` holds each file's
    ``bucket`` partition, None for a file outside any."""

    table: str
    filesystem: pafs.FileSystem
    files: tuple[str, ...]
    sizes: tuple[int, ...]
    buckets: tuple[int | None, ...]

    @property
    def nbytes(self) -> int:
        return sum(self.sizes)

    def read(
        self, columns: list[str], where: ds.Expression | None = None, buckets=None
    ) -> pa.Table:
        """``columns`` of the rows matching ``where``, from the files of
        ``buckets`` (and every file outside a bucket) or from all."""
        files = [
            f for f, b in zip(self.files, self.buckets)
            if buckets is None or b is None or b in buckets
        ]
        if not files:
            return pa.table({c: pa.nulls(0) for c in columns})
        try:
            data = ds.dataset(files, format="parquet", filesystem=self.filesystem)
            return data.to_table(columns=columns, filter=where)
        except FileNotFoundError as e:
            raise StaleSnapshot(
                f"table {self.table} was rewritten after the engine opened it "
                f"({e}); reopen the engine"
            ) from e


_BUCKET_DIR = re.compile(r"bucket=(-?\d+)")


def _fs_path(uri: str) -> tuple[pafs.FileSystem, str]:
    """The filesystem of ``uri`` and the path on it; a schemeless path is
    local, as the index root's ``_meta.json`` already is."""
    return pafs.FileSystem.from_uri(uri if urlparse(uri).scheme else os.path.abspath(uri))


def snapshot(spark: SparkSession, path: str) -> TableFiles | None:
    """The data files of the artifact at ``path`` with their sizes and
    buckets, or None when it has none (absent, or an empty directory).

    Parquet: one recursive listing; files and directories whose names
    start with ``_`` or ``.`` are skipped as Spark skips them, and a file
    under a hive ``bucket=N`` directory has bucket N.  Iceberg: one read
    of the table's ``files`` metadata table, pinning its current snapshot;
    the engine's writes make no delete files, so one is an error."""
    if use_iceberg(spark):
        return _iceberg_snapshot(spark, table_for(path))
    fs, root = _fs_path(path)
    if fs.get_file_info(root).type != pafs.FileType.Directory:
        return None
    found = []
    for info in fs.get_file_info(pafs.FileSelector(root, recursive=True)):
        parts = info.path[len(root):].strip("/").split("/")
        if info.type != pafs.FileType.File or any(
            p.startswith(".") or (p.startswith("_") and "=" not in p) for p in parts
        ):
            continue
        bucket = next((int(m[1]) for p in parts[:-1] if (m := _BUCKET_DIR.fullmatch(p))), None)
        found.append((info.path, info.size, bucket))
    if not found:
        return None
    found.sort()
    return TableFiles(path, fs, *map(tuple, zip(*found)))


def _iceberg_snapshot(spark: SparkSession, name: str) -> TableFiles | None:
    if not spark.catalog.tableExists(name):
        return None
    files = spark.read.table(f"{name}.files")
    cols = ["file_path", "file_size_in_bytes", "content", "partition"]
    rows = [r.asDict() for r in files.select(*[c for c in cols if c in files.columns]).collect()]
    if any(r["content"] != 0 for r in rows):
        raise ValueError(
            f"Iceberg table {name} has delete files; the single-node reader "
            "reads data files only"
        )
    if not rows:
        return None
    fs = _fs_path(rows[0]["file_path"])[0]
    return TableFiles(
        name,
        fs,
        tuple(_fs_path(r["file_path"])[1] for r in rows),
        tuple(int(r["file_size_in_bytes"]) for r in rows),
        tuple(getattr(r.get("partition"), "bucket", None) for r in rows),
    )
