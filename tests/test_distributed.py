"""Distributed (Spark-job) search path: rank-identity vs the oracle on a
representative query subset (full 38-query identity is covered by the
driver-mode ranker; each distributed query costs several Spark jobs)."""

import pytest

from holi_search_engine_spark.corpus import make_query_fixtures
from holi_search_engine_spark.oracle import pandas_oracle as O
from holi_search_engine_spark.query.distributed import DistributedRanker

SUBSET = [
    "q_single_hot", "q_multi_hot", "q_multi_mixed", "q_repeated",
    "q_all_stop", "q_stop_mix", "q_absent", "q_single_rare",
    "q_punct_case", "q_ten_terms",
]


@pytest.fixture(scope="session")
def dranker(spark, built_index):
    return DistributedRanker(spark, built_index)


def test_distributed_rank_identity(dranker, oracle_index, vocabulary):
    queries = dict(make_query_fixtures(vocabulary))
    for qid in SUBSET:
        q = queries[qid]
        got = dranker.search(q)
        exp = O.search(oracle_index, q)
        got_keys = list(zip(got["conv_id"], got["turn_idx"])) if len(got) else []
        assert got_keys == [c.doc for c in exp], qid
        for g, c in zip(got["score"], exp):
            assert abs(g - c.score()) < 1e-9, qid


def test_distributed_bm25_matches_engine(spark, built_index, vocabulary):
    """Doc-range-partitioned distributed BM25 must be rank-identical
    (docs AND scores) to the single-node engine for every fixture query,
    at several range counts (1 range = the degenerate single-task case;
    many ranges force blocks to split across tasks)."""
    import numpy as np

    from holi_search_engine_spark.corpus import make_query_fixtures
    from holi_search_engine_spark.query.bm25 import BM25Engine
    from holi_search_engine_spark.query.distributed import distributed_bm25_topk

    eng = BM25Engine(spark, built_index)
    for qid, q in make_query_fixtures(vocabulary)[:8]:
        exp = eng.search(q, 10)
        for nr in (1, 7):
            got = distributed_bm25_topk(spark, built_index, q, 10, n_ranges=nr)
            assert list(got["conv_id"]) == list(exp["conv_id"]), (qid, nr)
            assert list(got["turn_idx"]) == list(exp["turn_idx"]), (qid, nr)
            assert np.allclose(got["score"], exp["score"], atol=1e-9), (qid, nr)


@pytest.fixture(scope="module")
def clustered_index(spark, dictionary, tmp_path_factory):
    """Pathologically clustered doc-key space: two tight conv-number
    clusters separated by a ~10^9-key void.  A uniform key-space split
    puts nearly every range in the void (doc-free ranges that still
    overlap blocks — the empty-dl_pdf kernel crash), while quantile
    bounds balance docs per range."""
    import shutil

    from holi_search_engine_spark.corpus import generate_transcripts_pdf
    from holi_search_engine_spark.plans.index_build import build_index

    pdf = generate_transcripts_pdf(40)
    nums = sorted({int(c.split("-")[1]) for c in pdf["conv_id"]})
    remap = {}
    for i, n in enumerate(nums):
        base = 1 if i < len(nums) // 2 else 90_000_000
        remap[n] = base + i
    pdf = pdf.assign(
        conv_id=[f"conv-{remap[int(c.split('-')[1])]:08d}" for c in pdf["conv_id"]]
    )
    pdf["ts"] = pdf["ts"].dt.tz_localize(None)
    out = str(tmp_path_factory.mktemp("index") / "clustered")
    shutil.rmtree(out, ignore_errors=True)
    return build_index(
        spark, spark.createDataFrame(pdf), out, dictionary, buckets=2
    )


def test_distributed_sparse_clustered_keys(spark, clustered_index, vocabulary):
    """High n_ranges over the sparse clustered key space: doc-free ranges
    spanned by blocks must score as empty (regression: the doc-key lookup
    over an empty dl slice raised IndexError), and results stay
    rank-identical to the single-node engine."""
    import numpy as np

    from holi_search_engine_spark.corpus import make_query_fixtures
    from holi_search_engine_spark.query.bm25 import BM25Engine
    from holi_search_engine_spark.query.distributed import distributed_bm25_topk

    eng = BM25Engine(spark, clustered_index)
    for qid, q in make_query_fixtures(vocabulary)[:4]:
        exp = eng.search(q, 10)
        got = distributed_bm25_topk(spark, clustered_index, q, 10, n_ranges=32)
        assert list(got["conv_id"]) == list(exp["conv_id"]), qid
        assert np.allclose(got["score"], exp["score"], atol=1e-9), qid


def test_doc_range_bounds_balanced(spark, clustered_index):
    """Quantile bounds put ~equal docs in every range even under key
    clustering (uniform spans would leave most ranges empty)."""
    from pyspark.sql import functions as F

    from holi_search_engine_spark.query.distributed import doc_range_bounds
    from holi_search_engine_spark.sources.catalog import read_table

    dl = read_table(spark, clustered_index.doc_stats)
    n_docs = dl.count()
    bounds = doc_range_bounds(dl, 8)
    assert len(bounds) >= 6  # dup cuts may collapse a range or two
    los = [lo for _, lo, _ in bounds]
    his = [hi for _, _, hi in bounds]
    assert los[1:] == [h + 1 for h in his[:-1]]  # disjoint + covering
    counts = [
        dl.where((F.col("doc_key") >= lo) & (F.col("doc_key") <= hi)).count()
        for _, lo, hi in bounds
    ]
    assert sum(counts) == n_docs
    assert max(counts) <= 2 * max(1, min(counts))


def test_distributed_empty_corpus(spark, dictionary, tmp_path_factory):
    """An empty-corpus index (build writes meta, zero doc rows) returns an
    empty frame instead of raising on the min/max None row."""
    from holi_search_engine_spark.plans.index_build import build_index
    from holi_search_engine_spark.query.distributed import distributed_bm25_topk

    empty = spark.createDataFrame(
        [],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    out = str(tmp_path_factory.mktemp("index") / "empty")
    paths = build_index(spark, empty, out, dictionary, buckets=2)
    got = distributed_bm25_topk(spark, paths, "alpha bravo", 10, n_ranges=4)
    assert len(got) == 0


def test_xxhash64_matches_spark(spark):
    """The pure-Python xxhash64 (used to compute term->bucket on the
    driver without a Spark job — round-3 verdict item #3) must be
    bit-identical to F.xxhash64 on UTF-8 strings: every tail length
    0-40 (exercises the 32-byte loop, 8-byte, 4-byte and 1-byte tails),
    unicode, and punctuation-heavy terms.  The build's bucket expression
    ``term_bucket_expr`` must agree with the driver's ``term_bucket``."""
    from pyspark.sql import functions as F

    from holi_search_engine_spark.functions.xxhash import (
        term_bucket,
        term_bucket_expr,
        xxhash64,
    )

    cases = ["x" * n for n in range(41)]
    cases += ["café", "日本語のテスト",
              "tool_call", "a-b.c/d", "☃" * 13, "Hello, World!"]
    sdf = spark.createDataFrame([(c,) for c in cases], "term string")
    rows = sdf.select(
        "term", F.xxhash64("term").alias("h"), term_bucket_expr(8).alias("b")
    ).collect()
    for r in rows:
        assert xxhash64(r["term"].encode("utf-8")) == r["h"], repr(r["term"])
        assert term_bucket(r["term"], 8) == r["b"], repr(r["term"])


def test_term_buckets_no_spark_job(built_index, spark):
    """_term_buckets must not submit a Spark job: it runs with a dead
    SparkSession reference and finishes in well under a millisecond per
    term (a job submission alone costs ~100 ms)."""
    import time

    from holi_search_engine_spark.query.distributed import DistributedRanker

    dr = DistributedRanker(spark, built_index)
    dr.spark = None  # any Spark usage would AttributeError
    terms = [f"term{i}" for i in range(100)]
    t0 = time.perf_counter()
    out = dr._term_buckets(terms)
    wall = time.perf_counter() - t0
    assert len(out) == 100
    assert all(0 <= b < dr.buckets for b in out.values())
    assert wall < 0.05, f"term->bucket took {wall * 1e3:.1f} ms for 100 terms"


def test_distributed_keyword_match_punctuated_titles(spark, tmp_path_factory):
    """The title keyword bonus must use the ENGINE's tokenization
    (punctuation → space, any whitespace splits): before the fix the
    distributed ranker probed ' term '-substrings in the raw lowered
    title, so 'Hello, world ...' never matched term 'hello' and the two
    modes scored the same doc differently."""
    import numpy as np
    import pandas as pd

    from holi_search_engine_spark.plans.index_build import build_index
    from holi_search_engine_spark.query.distributed import DistributedRanker
    from holi_search_engine_spark.query.ranker import RankerEngine

    texts = [
        "hello, world greetings program",   # punctuation-adjacent title word
        "hello world greetings exchange",   # clean twin
        "world greetings only program",
        "program exchange greetings",
    ]
    rows = [
        (f"conv-{i:08d}", 0, "user", t, "", pd.Timestamp("2026-01-01"))
        for i, t in enumerate(texts)
    ]
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    vocab = frozenset("hello world greetings program exchange only".split())
    d = str(tmp_path_factory.mktemp("kw_idx"))
    paths = build_index(spark, spark.createDataFrame(pdf), d, vocab, buckets=2)
    eng = RankerEngine(spark, paths, preload=True)
    dist = DistributedRanker(spark, paths)
    # 'greetings' is in every doc, so its Q3 idf is negative: the third
    # query also pins the Java NaN-poison parity (engine and distributed
    # must BOTH yield NaN weights, not finite-vs-NaN)
    for q in ("hello world", "hello", "world greetings program"):
        exp = eng.search(q).sort_values("doc_key").reset_index(drop=True)
        got = dist.search(q).sort_values("doc_key").reset_index(drop=True)
        assert list(got["doc_key"]) == list(exp["doc_key"]), q
        assert np.allclose(got["keyword_match"], exp["keyword_match"]), q
        assert np.allclose(got["score"], exp["score"], atol=1e-9, equal_nan=True), q
        assert np.allclose(
            got["tf_idf_weight"], exp["tf_idf_weight"], atol=1e-9, equal_nan=True
        ), q
    # the punctuated title itself must earn the overlap bonus
    full = eng.search("hello world")
    kw_doc0 = float(full.loc[full["conv_id"] == "conv-00000000", "keyword_match"].iloc[0])
    assert kw_doc0 >= 10.0  # both terms in the title (exact or full overlap)


def test_unicode_whitespace_title_java_parity(spark, tmp_path_factory):
    """Titles with NBSP or control characters follow JAVA tokenization in
    all three implementations (oracle, engine, distributed): NBSP is not
    whitespace to Java regex \\s, so 'hello\\u00a0world' stays ONE title
    token and earns no overlap bonus, while edge control chars ARE trimmed
    (String.trim strips <= U+0020) and the inner tab splits — that doc
    still earns the bonus.  Python's Unicode-aware split()/strip() and
    Spark's space-only F.trim each got one of these wrong before."""
    import numpy as np
    import pandas as pd

    from holi_search_engine_spark.plans.index_build import build_index
    from holi_search_engine_spark.query.ranker import RankerEngine

    texts = [
        "hello world greetings program",       # NBSP glues the pair
        "\x01hello\tworld\x1f greetings extras",  # trim edges, split tab
        "hello world greetings exchange",         # exact-substring match
        "program exchange extras only",
        "καλος hello greetings program",  # typed final-sigma title word
    ]
    rows = [
        (f"conv-{i:08d}", 0, "user", t, "", pd.Timestamp("2026-01-01"))
        for i, t in enumerate(texts)
    ]
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    vocab = frozenset(
        "hello world greetings program exchange extras only".split()
    )
    d = str(tmp_path_factory.mktemp("uws_idx"))
    paths = build_index(spark, spark.createDataFrame(pdf), d, vocab, buckets=2)
    docs = [((r.conv_id, int(r.turn_idx)), r.text) for r in pdf.itertuples()]
    oracle_idx = O.build_index(docs, vocab)
    eng = RankerEngine(spark, paths, preload=True)
    dist = DistributedRanker(spark, paths)
    for q in ("hello world", "hello world", "  \x01hello world\x1f ", "ΚΑΛΟΣ hello"):
        exp = O.search(oracle_idx, q)
        got_e = eng.search(q).sort_values("doc_key").reset_index(drop=True)
        got_d = dist.search(q).sort_values("doc_key").reset_index(drop=True)
        assert len(got_e) == len(got_d) == len(exp), q
        if not len(exp):
            continue
        exp_sorted = sorted(exp, key=lambda c: c.doc)
        assert list(zip(got_e["conv_id"], got_e["turn_idx"])) == [
            c.doc for c in exp_sorted
        ], q
        assert list(got_d["conv_id"]) == list(got_e["conv_id"]), q
        assert np.allclose(
            got_e["keyword_match"].astype(float),
            [c.keyword_match for c in exp_sorted],
        ), q
        assert np.allclose(
            got_d["keyword_match"].astype(float),
            got_e["keyword_match"].astype(float),
        ), q
        assert np.allclose(
            got_d["score"].astype(float),
            got_e["score"].astype(float),
            atol=1e-9,
            equal_nan=True,
        ), q
    # an NBSP query is a single unindexed token -> no candidates anywhere
    assert len(eng.search("hello world")) == 0
    assert len(dist.search("hello world")) == 0
    # pinned keyword bonuses for 'hello world' under Java tokenization:
    full = eng.search("hello world").set_index("conv_id")["keyword_match"]
    assert float(full.loc["conv-00000000"]) == 0.0   # NBSP: zero overlap
    assert float(full.loc["conv-00000001"]) >= 10.0  # trimmed+split: full
    assert float(full.loc["conv-00000002"]) == 10.0  # raw substring match
    # sigma folding: the typed-final-sigma Greek title word must match the
    # uppercase Greek query word, as Java's toLowerCase would (both sides
    # fold to the medial form in this repo's three implementations)
    greek = eng.search("ΚΑΛΟΣ hello").set_index("conv_id")["keyword_match"]
    assert float(greek.loc["conv-00000004"]) == 10.0


def test_distributed_bm25_many_matches_single(spark, built_index, vocabulary):
    """Each query's rows of the batched plan must meet the rank contract
    against the single-node engine ``BM25Engine.search`` — including a
    no-term and a punctuation-only query mixed into the batch (zero rows
    for their query_ids), a duplicate query (same answer under a
    different query_id), and shared terms across queries (whose blocks
    ship to each range once).  Swept at 1 range (degenerate single-task)
    and 7 (blocks split across tasks)."""
    from holi_search_engine_spark.corpus import make_query_fixtures
    from holi_search_engine_spark.query.bm25 import BM25Engine
    from holi_search_engine_spark.query.distributed import (
        distributed_bm25_topk_many,
    )
    from scripts.rank_contract import rank_check

    eng = BM25Engine(spark, built_index)
    qs = [q for _, q in make_query_fixtures(vocabulary)[:6]]
    batch = qs + ["", "???", qs[0]]  # empty + punctuation-only + duplicate
    exp = [eng.search(q, 10) for q in batch]
    for nr in (1, 7):
        got = distributed_bm25_topk_many(spark, built_index, batch, 10, n_ranges=nr)
        assert not got["query_id"].isin([6, 7]).any(), nr
        for qid in range(len(batch)):
            g = got[got["query_id"] == qid]
            bad = rank_check(exp[qid], g, key=["conv_id", "turn_idx"])
            assert bad is None, (qid, nr, bad)
    # all-unindexed batch: the well-typed empty frame, not an error
    none = distributed_bm25_topk_many(spark, built_index, ["", "???"], 10)
    assert list(none.columns) == ["query_id", "conv_id", "turn_idx", "score"]
    assert len(none) == 0


def test_distributed_bm25_many_spark_side_merge(
    spark, built_index, vocabulary, monkeypatch
):
    """Forcing the candidate-row threshold to 0 routes the batch merge
    through the Spark-side rank window; results must be identical to the
    driver-merge branch (same tie-break: score desc, doc asc)."""
    import numpy as np

    from holi_search_engine_spark.corpus import make_query_fixtures
    from holi_search_engine_spark.query import distributed as D

    qs = [q for _, q in make_query_fixtures(vocabulary)[:4]] + [""]
    base = D.distributed_bm25_topk_many(spark, built_index, qs, 10, n_ranges=5)
    monkeypatch.setattr(D, "_DRIVER_MERGE_ROWS", 0)
    via_spark = D.distributed_bm25_topk_many(
        spark, built_index, qs, 10, n_ranges=5
    )
    assert list(via_spark["query_id"]) == list(base["query_id"])
    assert list(via_spark["conv_id"]) == list(base["conv_id"])
    assert list(via_spark["turn_idx"]) == list(base["turn_idx"])
    assert np.allclose(
        via_spark["score"].to_numpy(), base["score"].to_numpy(), atol=0
    )


def _assert_batch_equals_engine(dist, eng, qs, limit=None):
    """Each query's rows of ``dist.search_many(qs, limit)``, ``query_id``
    dropped, must equal ``eng.search(q, limit)`` exactly: the two tiers
    score the cut with the same code."""
    import pandas as pd

    batch = dist.search_many(qs, limit)
    assert list(batch.columns)[0] == "query_id"
    for qid, q in enumerate(qs):
        exp = eng.search(q, limit)
        got = batch[batch["query_id"] == qid].drop(columns="query_id")
        got = got.reset_index(drop=True)
        if not len(exp):
            assert got.empty and list(got.columns) == list(exp.columns), (qid, q)
            continue
        pd.testing.assert_frame_equal(got, exp, check_exact=True, obj=f"{qid} {q!r}")


def test_distributed_ranker_many_matches_single(
    spark, built_index, edge_index, vocabulary
):
    """Each query's rows of the batched reference-semantics plan must
    equal the single-node ``RankerEngine.search`` (itself rank-identical
    to the oracle) exactly, every column and the row order, with and
    without a per-query ``limit``: over fixture queries with a tokenless
    and a punctuation-only one mixed in, and over NaN-poisoned queries
    (a term in every doc has a negative Q3 idf), whose all-NaN rows come
    in the single-node order."""
    from holi_search_engine_spark.corpus import make_query_fixtures
    from holi_search_engine_spark.query.distributed import DistributedRanker
    from holi_search_engine_spark.query.ranker import RankerEngine

    qs = [q for _, q in make_query_fixtures(vocabulary)[:10]] + ["", "?!"]
    poisoned = ["signal decay", "signal", "rate of the signal", "rate decay path"]
    for paths, batch in ((built_index, qs), (edge_index[0], poisoned)):
        eng = RankerEngine(spark, paths, preload=True)
        dist = DistributedRanker(spark, paths)
        for limit in (None, 3):
            _assert_batch_equals_engine(dist, eng, batch, limit)
    assert eng.search("signal decay")["score"].isna().all()


def test_distributed_ranker_many_releases_cache_on_error(
    spark, built_index, vocabulary, monkeypatch
):
    """A failure in the final collect must not leak the cached postings:
    the session holds no more persisted data after the failed call than
    before it."""
    from holi_search_engine_spark.corpus import make_query_fixtures
    from holi_search_engine_spark.query.distributed import DistributedRanker

    dist = DistributedRanker(spark, built_index)
    qs = [q for _, q in make_query_fixtures(vocabulary)[:10]]
    frame_cls = type(spark.range(1))
    real_to_pandas = frame_cls.toPandas

    def failing_to_pandas(self):
        if "tf_by_term" in self.columns:  # the final collect of the cut
            raise RuntimeError("injected collect failure")
        return real_to_pandas(self)

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    monkeypatch.setattr(frame_cls, "toPandas", failing_to_pandas)
    with pytest.raises(RuntimeError, match="injected collect failure"):
        dist.search_many(qs)
    assert jsc.getPersistentRDDs().size() <= before
