"""Transcripts source schema validation."""

import os

import pytest

from holi_search_engine_spark.sources.transcripts import (
    SchemaMismatch,
    validate_schema,
)


def test_valid_schema_passes(xs_df):
    assert validate_schema(xs_df) is xs_df


def test_missing_column_rejected(spark, xs_df):
    with pytest.raises(SchemaMismatch, match="missing column 'text'"):
        validate_schema(xs_df.drop("text"))


def test_wrong_type_rejected(spark, xs_df):
    bad = xs_df.withColumn("text", xs_df["turn_idx"])
    with pytest.raises(SchemaMismatch, match="text must be"):
        validate_schema(bad)


# ---------------------------------------------------------------- catalog

def test_write_read_table_parquet_roundtrip(spark, tmp_path):
    from holi_search_engine_spark.sources import catalog as C

    path = str(tmp_path / "art")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "bucket int, v string")
    assert C.write_table(df, path, partition_by=["bucket"]) == "parquet"
    got = C.read_table(spark, path)
    assert {(r.bucket, r.v) for r in got.collect()} == {(1, "a"), (2, "b")}
    # dynamic overwrite replaces only the partitions present in the df
    one = spark.createDataFrame([(1, "a2")], "bucket int, v string")
    assert C.write_table(one, path, partition_by=["bucket"], dynamic=True) == "parquet"
    got = {(r.bucket, r.v) for r in C.read_table(spark, path).collect()}
    assert got == {(1, "a2"), (2, "b")}


def test_table_exists_parquet_branch(spark, tmp_path, monkeypatch):
    """The optional-artifact probe: a written table is present; an empty
    directory (a crashed write) and an absent path are absent, and the
    absent path is answered by the Hadoop FileSystem without a failing
    ``spark.read`` (which logged a Java stack trace at every engine
    open).  Errors other than absence still propagate."""
    from pyspark.sql import DataFrameReader

    from holi_search_engine_spark.sources import catalog as C

    monkeypatch.delenv(C.ENV_DB, raising=False)
    present = str(tmp_path / "present")
    spark.range(3).write.parquet(present)
    empty = tmp_path / "empty"
    empty.mkdir()
    assert C.table_exists(spark, present)
    assert not C.table_exists(spark, str(empty))

    reads = []
    monkeypatch.setattr(DataFrameReader, "parquet", lambda self, p: reads.append(p))
    assert not C.table_exists(spark, str(tmp_path / "absent"))
    assert reads == []

    def unreadable(self, p):
        raise PermissionError(p)

    monkeypatch.setattr(DataFrameReader, "parquet", unreadable)
    with pytest.raises(PermissionError):
        C.table_exists(spark, present)


class _RecWriter:
    def __init__(self, calls):
        self.calls = calls

    def using(self, fmt):
        self.calls.append(("using", fmt))
        return self

    def partitionedBy(self, *cols):
        self.calls.append(("partitionedBy", len(cols)))
        return self

    def createOrReplace(self):
        self.calls.append(("createOrReplace",))

    def append(self):
        self.calls.append(("append",))

    def overwritePartitions(self):
        self.calls.append(("overwritePartitions",))


class _RecDf:
    def __init__(self, table_exists=True):
        from types import SimpleNamespace

        self.calls = []
        self.sparkSession = SimpleNamespace(
            catalog=SimpleNamespace(tableExists=lambda name: table_exists)
        )

    def writeTo(self, name):
        self.calls.append(("writeTo", name))
        return _RecWriter(self.calls)


def test_write_table_iceberg_branch(spark, monkeypatch):
    from holi_search_engine_spark.sources import catalog as C

    monkeypatch.setenv(C.ENV_DB, "lake.search")
    monkeypatch.setattr(C, "iceberg_available", lambda s: True)

    df = _RecDf()
    assert C.write_table(df, "/idx/blocks", partition_by=["bucket"]) == "iceberg"
    assert df.calls == [
        ("writeTo", "lake.search.blocks"),
        ("using", "iceberg"),
        ("partitionedBy", 1),
        ("createOrReplace",),
    ]

    df = _RecDf()
    assert C.write_table(df, "/idx/blocks", dynamic=True) == "iceberg"
    assert df.calls == [("writeTo", "lake.search.blocks"), ("overwritePartitions",)]

    # table absent: dynamic degrades to create-or-replace (first build);
    # an overwritePartitions FAILURE on an existing table must propagate,
    # never silently replace completed buckets
    df = _RecDf(table_exists=False)
    assert C.write_table(df, "/idx/blocks", dynamic=True) == "iceberg"
    assert df.calls == [
        ("writeTo", "lake.search.blocks"),
        ("using", "iceberg"),
        ("createOrReplace",),
    ]

    df = _RecDf()
    assert C.write_table(df, "/idx/t", mode="append") == "iceberg"
    assert df.calls == [("writeTo", "lake.search.t"), ("append",)]


def test_read_table_iceberg_branch(monkeypatch):
    from types import SimpleNamespace

    from holi_search_engine_spark.sources import catalog as C

    monkeypatch.setenv(C.ENV_DB, "lake.search")
    monkeypatch.setattr(C, "iceberg_available", lambda s: True)
    reads = []
    stub = SimpleNamespace(read=SimpleNamespace(table=lambda n: reads.append(n) or "DF"))
    assert C.read_table(stub, "/idx/wmetric") == "DF"
    assert reads == ["lake.search.wmetric"]


def test_ensure_transcripts_table_branches(spark, monkeypatch):
    from types import SimpleNamespace

    from holi_search_engine_spark import session as S
    from holi_search_engine_spark.sources.transcripts import ensure_transcripts_table

    # sandbox: no Iceberg runtime → parquet fallback branch
    assert ensure_transcripts_table(spark) is False

    # capability present → DDL applied once, idempotent form
    monkeypatch.setattr(S, "iceberg_available", lambda s: True)
    ddls = []
    stub = SimpleNamespace(sql=lambda q: ddls.append(q))
    assert ensure_transcripts_table(stub, name="transcripts", catalog="lake") is True
    assert "CREATE TABLE IF NOT EXISTS lake.transcripts" in ddls[0]
    assert "USING iceberg" in ddls[0] and "bucket(64, conv_id)" in ddls[0]


def test_snapshot_parquet_branch(spark, tmp_path, monkeypatch):
    """One listing of a parquet table: data files with their sizes and
    hive ``bucket`` partition, Spark's hidden names (``_SUCCESS``,
    ``.crc``, ``_temporary/``) skipped; an absent path and a directory
    without data files have no snapshot."""
    from holi_search_engine_spark.sources import catalog as C

    monkeypatch.delenv(C.ENV_DB, raising=False)
    path = str(tmp_path / "art")
    df = spark.createDataFrame([(1, "a"), (2, "b"), (2, "c")], "bucket int, v string")
    C.write_table(df.repartition(1), path, partition_by=["bucket"])
    hidden = tmp_path / "art" / "_temporary" / "0"
    hidden.mkdir(parents=True)
    (hidden / "part-0.parquet").write_bytes(b"x")
    snap = C.snapshot(spark, path)
    assert snap.files and all(f.endswith(".parquet") for f in snap.files)
    assert not any("/_" in f or "/." in f for f in snap.files)
    assert sorted(snap.buckets) == [1, 2]
    assert snap.sizes == tuple(os.path.getsize(f) for f in snap.files)
    assert snap.nbytes == sum(snap.sizes)
    got = snap.read(["v"], buckets={2}).to_pydict()
    assert sorted(got["v"]) == ["b", "c"]
    assert snap.read(["v"], buckets={3}).num_rows == 0

    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "_SUCCESS").write_bytes(b"")
    assert C.snapshot(spark, str(empty)) is None
    assert C.snapshot(spark, str(tmp_path / "absent")) is None


class _FilesTable:
    """A recording stand-in for an Iceberg ``files`` metadata table."""

    def __init__(self, rows):
        self.rows = rows
        self.columns = list(rows[0].asDict()) if rows else []

    def select(self, *cols):
        assert set(cols) <= set(self.columns)
        return self

    def collect(self):
        return self.rows


def test_snapshot_iceberg_branch(monkeypatch):
    """The Iceberg listing reads ``<db>.<table>.files`` once, maps each
    data file to its ``partition.bucket``, and refuses a table with a
    delete file by name; an absent table has no snapshot."""
    from types import SimpleNamespace

    from pyspark.sql import Row

    from holi_search_engine_spark.sources import catalog as C

    monkeypatch.setenv(C.ENV_DB, "lake.search")
    monkeypatch.setattr(C, "iceberg_available", lambda s: True)

    def stub(rows, exists=True):
        reads = []
        spark = SimpleNamespace(
            catalog=SimpleNamespace(tableExists=lambda n: exists),
            read=SimpleNamespace(table=lambda n: reads.append(n) or _FilesTable(rows)),
        )
        return spark, reads

    def row(path, size, content=0, bucket=3):
        return Row(
            content=content, file_path=path, file_size_in_bytes=size,
            partition=Row(bucket=bucket),
        )

    spark, reads = stub([row("file:/lake/blocks/a.parquet", 10), row("file:/lake/blocks/b.parquet", 20, bucket=5)])
    snap = C.snapshot(spark, "/idx/blocks")
    assert reads == ["lake.search.blocks.files"]
    assert snap.table == "lake.search.blocks"
    assert snap.files == ("/lake/blocks/a.parquet", "/lake/blocks/b.parquet")
    assert snap.sizes == (10, 20) and snap.buckets == (3, 5)

    spark, reads = stub([row("file:/lake/blocks/a.parquet", 10), row("file:/lake/blocks/d.parquet", 5, content=1)])
    with pytest.raises(ValueError, match="lake.search.blocks has delete files"):
        C.snapshot(spark, "/idx/blocks")
    assert reads == ["lake.search.blocks.files"]

    spark, reads = stub([], exists=False)
    assert C.snapshot(spark, "/idx/pageranks") is None
    assert reads == []
