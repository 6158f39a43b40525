"""PageRank: Spark iterative loop vs the Python transliteration of the
reference semantics (undamped transfer, dropped sink mass, self-pairs)."""

import pytest

from holi_search_engine_spark.plans.pagerank import pagerank, pagerank_python

EDGES = [
    ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
    ("d", "c"),            # d has no inlinks → survives via self-pair
    ("e", "f"),            # f is a sink → its mass is dropped
    ("a", "b"),            # duplicate edge → deduped
]


def test_matches_python_oracle(spark):
    edges_df = spark.createDataFrame(EDGES, "src string, dst string")
    got = {r["vertex"]: r["rank"] for r in pagerank(edges_df).collect()}
    exp = pagerank_python(EDGES)
    assert set(got) == set(exp)
    for v, r in exp.items():
        assert abs(got[v] - r) < 1e-9, v


def test_zero_indegree_floor(spark):
    # vertices with no inlinks converge to exactly 1 - d = 0.15
    edges_df = spark.createDataFrame([("x", "y")], "src string, dst string")
    got = {r["vertex"]: r["rank"] for r in pagerank(edges_df).collect()}
    assert abs(got["x"] - 0.15) < 1e-9


def test_cycle_conserves_reasonably(spark):
    ring = [("a", "b"), ("b", "c"), ("c", "a")]
    got = {r["vertex"]: r["rank"] for r in pagerank(
        spark.createDataFrame(ring, "src string, dst string")
    ).collect()}
    exp = pagerank_python(ring)
    for v in exp:
        assert abs(got[v] - exp[v]) < 1e-9


@pytest.fixture(scope="module")
def prior_index(spark, dictionary, tmp_path_factory):
    """A small index WITH the optional pageranks artifact built from the
    conversation reply structure (kept separate from the shared
    ``built_index``, whose rank-identity tests assume prior = 0)."""
    import shutil

    from holi_search_engine_spark.corpus import generate_transcripts_pdf
    from holi_search_engine_spark.plans.index_build import build_index
    from holi_search_engine_spark.plans.pagerank import build_reply_pagerank

    pdf = generate_transcripts_pdf(30)
    pdf["ts"] = pdf["ts"].dt.tz_localize(None)
    out = str(tmp_path_factory.mktemp("index") / "prior")
    shutil.rmtree(out, ignore_errors=True)
    paths = build_index(
        spark, spark.createDataFrame(pdf), out, dictionary, buckets=2
    )
    build_reply_pagerank(spark, paths)
    return paths


def test_reply_prior_changes_ranking(spark, prior_index, vocabulary):
    """With the pageranks artifact present, the serving scorer completes
    0.75·pagerank of the reference formula: page_rank is nonzero, scores
    shift by exactly 0.75·prior, and the result order changes for a query
    whose tf-idf component alone cannot separate candidates (single-term
    queries score weight 0 everywhere — quirk Q5)."""
    import numpy as np

    from holi_search_engine_spark.query.ranker import RankerEngine

    q = vocabulary[60]  # a reasonably common single term
    with_prior = RankerEngine(spark, prior_index, preload=True)
    res = with_prior.search(q)
    assert len(res) > 10
    assert (res["page_rank"] > 0).any()
    np.testing.assert_allclose(
        res["score"],
        3 * res["tf_idf_weight"] + 0.75 * res["page_rank"] + res["keyword_match"],
        atol=1e-12,
    )
    # same index scored with the prior ignored → different order
    import holi_search_engine_spark.query.ranker as R

    no_prior = RankerEngine(spark, prior_index, preload=True)
    no_prior._has_pagerank = False
    base = no_prior.search(q)
    assert list(res["doc_key"]) != list(base["doc_key"])
    assert (base["page_rank"] == 0).all()


def test_prior_modes_agree(spark, prior_index, vocabulary):
    """Preloaded, degraded (pruned per-candidate reads) and distributed
    engines must serve identical prior-weighted rankings."""
    import numpy as np

    from holi_search_engine_spark.query.distributed import DistributedRanker
    from holi_search_engine_spark.query.ranker import RankerEngine

    q = f"{vocabulary[60]} {vocabulary[120]}"
    pre = RankerEngine(spark, prior_index, preload=True).search(q)
    deg = RankerEngine(spark, prior_index, preload=False).search(q)
    dist = DistributedRanker(spark, prior_index).search(q)
    for other in (deg, dist):
        assert list(other["doc_key"]) == list(pre["doc_key"])
        np.testing.assert_allclose(other["score"], pre["score"], atol=1e-9)
        np.testing.assert_allclose(other["page_rank"], pre["page_rank"], atol=1e-9)


def test_reply_prior_matches_python_oracle(spark, prior_index):
    """The reply-structure prior equals ``pagerank_python`` over the
    corpus's turn i → turn i−1 edges, for every doc within 1e-9."""
    from holi_search_engine_spark.corpus import generate_transcripts_pdf

    pdf = generate_transcripts_pdf(30)
    edges = [
        ((c, t), (c, t - 1))
        for c, t in zip(pdf["conv_id"], pdf["turn_idx"].astype(int))
        if t > 0
    ]
    exp = pagerank_python(edges)
    docs = spark.read.parquet(prior_index.doc_meta).select("doc_key", "conv_id", "turn_idx")
    got = {
        (r["conv_id"], int(r["turn_idx"])): r["rank"]
        for r in spark.read.parquet(prior_index.pageranks).join(docs, "doc_key").collect()
    }
    assert set(got) == set(exp)
    for v, r in exp.items():
        assert abs(got[v] - r) < 1e-9, v
