"""Shared fixtures: one SparkSession and one built xs-tier index per test
session (building per-test would dominate runtime with job overhead)."""

from __future__ import annotations

import os
import shutil

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
# Every test fits in a 4g driver heap.  Pin it, so the suite's footprint
# does not depend on the host (the session default is half the machine's
# memory, and G1 grows a heap toward its cap rather than collect).
os.environ.setdefault("SPARK_DRIVER_MEM", "4g")


@pytest.fixture(scope="session")
def spark():
    from holi_search_engine_spark.session import get_spark

    s = get_spark("holi-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def vocabulary():
    from holi_search_engine_spark.corpus import make_vocabulary

    return make_vocabulary()


@pytest.fixture(scope="session")
def dictionary(vocabulary):
    return frozenset(vocabulary)


@pytest.fixture(scope="session")
def xs_pdf():
    from holi_search_engine_spark.corpus import generate_transcripts_pdf

    return generate_transcripts_pdf(50)


@pytest.fixture(scope="session")
def xs_df(spark, xs_pdf):
    pdf = xs_pdf.copy()
    pdf["ts"] = pdf["ts"].dt.tz_localize(None)
    return spark.createDataFrame(pdf)


@pytest.fixture(scope="session")
def oracle_index(xs_pdf, dictionary):
    from holi_search_engine_spark.oracle import pandas_oracle as O

    docs = [((r.conv_id, int(r.turn_idx)), r.text) for r in xs_pdf.itertuples()]
    return O.build_index(docs, dictionary)


@pytest.fixture(scope="session")
def built_index(spark, xs_df, dictionary, tmp_path_factory):
    from holi_search_engine_spark.plans.index_build import build_index

    out = str(tmp_path_factory.mktemp("index") / "xs")
    shutil.rmtree(out, ignore_errors=True)
    return build_index(spark, xs_df, out, dictionary, buckets=2)
