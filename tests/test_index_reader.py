"""The index reader's file snapshot: its Arrow reads equal Spark's reads of
the same tables, no single-node engine starts a Spark job, and a degraded
reader whose files a rebuild replaced fails by name."""

import glob
import os
import re
import shutil

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pytest

from holi_search_engine_spark.functions.xxhash import term_bucket
from holi_search_engine_spark.plans.index_build import IndexPaths, build_index
from holi_search_engine_spark.query.bm25 import BM25Engine
from holi_search_engine_spark.query.index_reader import (
    BLOCK_COLS,
    STAT_COLS,
    IndexReader,
    TermBlocks,
    _by_term,
    _by_term_stats,
)
from holi_search_engine_spark.query.ranker import RankerEngine
from holi_search_engine_spark.sources.catalog import StaleSnapshot, read_table

from .test_streaming import _stream_in


@pytest.fixture(scope="module")
def streamed_index(spark, xs_pdf, dictionary, tmp_path_factory):
    """Half the xs corpus built, the other half streamed in (doc_stats and
    doc_meta gain appended files), then refreshed and resumed."""
    from holi_search_engine_spark.streaming.incremental import refresh_global_stats

    pdf = xs_pdf.copy()
    pdf["ts"] = pdf["ts"].dt.tz_localize(None)
    half = pdf["conv_id"] < "conv-00000025"
    root = tmp_path_factory.mktemp("streamed")
    paths = build_index(spark, spark.createDataFrame(pdf[half]), str(root / "idx"), dictionary, buckets=2)
    _stream_in(spark, pdf[~half], root / "inbox", paths, dictionary, buckets=2)
    refresh_global_stats(spark, paths)
    return build_index(spark, spark.createDataFrame(pdf), paths.root, dictionary, buckets=2)


@pytest.fixture(scope="module")
def holed_edge_index(spark, edge_index, tmp_path_factory):
    """The edge index with a null title in doc_meta and a pageranks table
    holding a NaN rank."""
    from pyspark.sql import functions as F

    paths = IndexPaths(str(tmp_path_factory.mktemp("holed_edge") / "idx"))
    shutil.copytree(edge_index[0].root, paths.root)
    conv = F.col("conv_id")
    (
        spark.read.parquet(edge_index[0].doc_meta)
        .withColumn("title", F.when(conv == "conv-00000001", F.lit(None)).otherwise(F.col("title")))
        .write.mode("overwrite").parquet(paths.doc_meta)
    )
    spark.createDataFrame(
        [(0, 0.5), (64, float("nan")), (128, 0.25)], "doc_key long, rank double"
    ).write.parquet(paths.pageranks)
    return paths


def _spark_frame(spark, path, cols, where=None):
    """The Spark read of ``cols``, binary cells as bytes (Spark's
    ``toPandas`` gives bytearray)."""
    df = read_table(spark, path).select(*cols)
    pdf = (df if where is None else df.where(where)).toPandas()
    for c in pdf.columns:
        if pdf[c].map(lambda v: isinstance(v, bytearray)).any():
            pdf[c] = pdf[c].map(bytes)
    return pdf


def _sorted(pdf, by):
    return pdf.sort_values(by).reset_index(drop=True)


def _assert_blocks_equal(got, exp):
    assert list(got) == list(exp)
    for t in exp:
        for col in TermBlocks.__slots__:
            assert list(getattr(got[t], col)) == list(getattr(exp[t], col)), (t, col)


@pytest.mark.parametrize("which", ["built", "streamed", "edge"])
def test_snapshot_reads_equal_spark_reads(spark, request, which):
    """Every read the reader makes from its snapshot (blocks and wmetric
    whole and term-filtered, each per-doc lookup whole and key-filtered)
    equals Spark's read of the same table, exactly."""
    from pyspark.sql import functions as F

    paths = request.getfixturevalue(
        {"built": "built_index", "streamed": "streamed_index", "edge": "holed_edge_index"}[which]
    )
    reader = IndexReader(spark, paths)
    assert reader.preloaded
    n_buckets = reader.meta["buckets"]
    terms = reader.terms()
    some = terms[:: max(1, len(terms) // 7)]

    spark_blocks = _spark_frame(spark, paths.blocks, BLOCK_COLS)
    pd.testing.assert_frame_equal(
        _sorted(reader._read(paths.blocks, BLOCK_COLS), ["term", "block_no"]),
        _sorted(spark_blocks, ["term", "block_no"]),
        check_exact=True,
    )
    _assert_blocks_equal(reader._blocks, _by_term(spark_blocks))
    _assert_blocks_equal(
        reader._read_blocks(some),
        _by_term(_spark_frame(spark, paths.blocks, BLOCK_COLS, F.col("term").isin(some))),
    )
    spark_stats = _spark_frame(spark, paths.wmetric, STAT_COLS)
    pd.testing.assert_frame_equal(
        _sorted(reader._read(paths.wmetric, STAT_COLS), ["term"]),
        _sorted(spark_stats, ["term"]),
        check_exact=True,
    )
    assert reader._stats == _by_term_stats(spark_stats)
    assert reader._read_stats(some) == _by_term_stats(
        _spark_frame(spark, paths.wmetric, STAT_COLS, F.col("term").isin(some))
    )
    assert {term_bucket(t, n_buckets) for t in some} <= set(reader.tables[paths.blocks].buckets)

    lookups = [(paths.doc_stats, ("ntf",)), (paths.doc_stats, ("dl",)), (paths.doc_meta, ("title", "snippet"))]
    if which == "edge":
        assert reader.tables[paths.pageranks] is not None
        lookups.append((paths.pageranks, ("rank",)))
    else:
        assert reader.tables[paths.pageranks] is None
    for path, cols in lookups:
        cols_all = ["doc_key", *cols]
        spark_docs = _spark_frame(spark, path, cols_all)
        pd.testing.assert_frame_equal(
            _sorted(reader._read(path, cols_all), ["doc_key"]),
            _sorted(spark_docs, ["doc_key"]),
            check_exact=True,
        )
        keys = np.sort(spark_docs["doc_key"].to_numpy())[::2]
        pd.testing.assert_frame_equal(
            _sorted(reader._read(path, cols_all, pc.field("doc_key").isin(keys)), ["doc_key"]),
            _sorted(_spark_frame(spark, path, cols_all, F.col("doc_key").isin(keys.tolist())), ["doc_key"]),
            check_exact=True,
        )
        whole, pruned = reader.read_docs(path, cols), reader.read_docs(path, cols, keys)
        np.testing.assert_array_equal(pruned.keys, keys)
        np.testing.assert_array_equal(pruned.vals, whole.vals[np.searchsorted(whole.keys, keys)])


def _jobs(spark, group: str, fn):
    """Spark jobs started while ``fn`` runs, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_single_node_engines_start_no_spark_job(spark, built_index, vocabulary):
    """A preloaded open, a degraded open and one degraded query of each
    engine start no Spark job (the count itself is checked on a job)."""
    assert _jobs(spark, "reader-control", lambda: spark.range(3).count()) > 0
    q = f"{vocabulary[500]} {vocabulary[600]}"
    for name, engine in (("bm25", BM25Engine), ("ranker", RankerEngine)):
        opened = []
        assert _jobs(spark, f"{name}-open", lambda: opened.append(engine(spark, built_index))) == 0
        assert _jobs(
            spark,
            f"{name}-open-degraded",
            lambda: opened.append(engine(spark, built_index, preload_max_bytes=0)),
        ) == 0
        assert [e.preloaded for e in opened] == [True, False]
        assert _jobs(spark, f"{name}-query-degraded", lambda: opened[1].search(q)) == 0


def test_stale_snapshot_names_table(spark, built_index, xs_df, dictionary, tmp_path):
    """A degraded reader opened before a rebuild of one bucket raises
    StaleSnapshot, naming the block table, when a query reads a term of
    that bucket; it never mixes the old open's statistics with new
    blocks."""
    paths = IndexPaths(str(tmp_path / "idx"))
    shutil.copytree(built_index.root, paths.root)
    reader = IndexReader(spark, paths, preload=False)
    n_buckets = reader.meta["buckets"]
    term = next(
        t for t in IndexReader(spark, built_index).terms() if term_bucket(t, n_buckets) == 0
    )
    os.remove(os.path.join(paths.manifest, "blocks_bucket_0000.json"))
    before = set(glob.glob(os.path.join(paths.blocks, "bucket=0", "*.parquet")))
    build_index(spark, xs_df, paths.root, dictionary, buckets=n_buckets)
    assert not before & set(glob.glob(os.path.join(paths.blocks, "bucket=0", "*.parquet")))
    with pytest.raises(StaleSnapshot, match=f"{re.escape(paths.blocks)}.*reopen the engine"):
        reader.fetch([term])
    assert IndexReader(spark, paths, preload=False).blocks(term) is not None
