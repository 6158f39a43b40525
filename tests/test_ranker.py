"""Rank-identity: the Spark engine's ranker vs the oracle transliteration of
``ranker/Ranker.java`` on the full fixture query set — docID sequences must
be identical and scores equal to 1e-9 (SURVEY.md §5)."""

import pytest

from holi_search_engine_spark.corpus import make_query_fixtures
from holi_search_engine_spark.oracle import pandas_oracle as O
from holi_search_engine_spark.query.ranker import RankerEngine


@pytest.fixture(scope="session")
def engine(spark, built_index):
    return RankerEngine(spark, built_index, preload=True)


@pytest.fixture(scope="session")
def fixture_queries(vocabulary):
    return make_query_fixtures(vocabulary)


def test_rank_identity_all_fixture_queries(engine, oracle_index, fixture_queries):
    assert len(fixture_queries) >= 35
    for qid, q in fixture_queries:
        got = engine.search(q)
        exp = O.search(oracle_index, q)
        got_keys = list(zip(got["conv_id"], got["turn_idx"])) if len(got) else []
        exp_keys = [c.doc for c in exp]
        assert got_keys == exp_keys, f"{qid}: docID sequence differs"
        for g, c in zip(got["score"], exp):
            assert abs(g - c.score()) < 1e-9, f"{qid}: score differs"
        for g, c in zip(got["occurrence"], exp):
            assert int(g) == c.occurrence, f"{qid}: occurrence differs"


def test_empty_query(engine):
    assert len(engine.search("")) == 0
    assert len(engine.search("...")) == 0


def test_absent_terms_empty(engine):
    assert len(engine.search("zzzzqqqqxx yyqqzzww")) == 0


def test_pagination_matches_reference_shape(engine, oracle_index, fixture_queries):
    qid, q = fixture_queries[0]
    full = engine.search(q)
    p1 = engine.search_page(q, page=1)
    p2 = engine.search_page(q, page=2)
    assert len(p1) <= 10
    if len(full) > 10:
        assert list(p2["doc_key"]) == list(full["doc_key"].iloc[10:20])


def test_candidate_cut_at_250(engine, oracle_index, vocabulary):
    # the hottest vocabulary term should match far more than 250 docs in a
    # larger corpus; in xs it may not — assert the cut logic instead
    got = engine.search(vocabulary[300])
    assert len(got) <= 250


def test_quirk_q5_first_term_tf_dropped(engine, oracle_index):
    """Construct a two-term query where both terms match a shared doc; the
    first term (HashSet order) must contribute 0 weight for that doc."""
    from holi_search_engine_spark.functions.javacompat import java_hashset_order

    # find two terms sharing a doc
    shared = None
    terms = list(oracle_index.postings)
    for i, t1 in enumerate(terms[:200]):
        docs1 = {d for d, _ in oracle_index.postings[t1]}
        for t2 in terms[i + 1 : 200]:
            if t1 == t2:
                continue
            docs2 = {d for d, _ in oracle_index.postings[t2]}
            if docs1 & docs2:
                shared = (t1, t2)
                break
        if shared:
            break
    assert shared, "fixture corpus must contain overlapping postings"
    q = f"{shared[0]} {shared[1]}"
    got = engine.search(q)
    exp = O.search(oracle_index, q)
    assert list(zip(got["conv_id"], got["turn_idx"])) == [c.doc for c in exp]
    for g, c in zip(got["score"], exp):
        assert abs(g - c.score()) < 1e-9


def test_auto_degraded_mode_identical(spark, built_index, engine, fixture_queries):
    import pandas as pd

    deg = RankerEngine(spark, built_index, preload_max_bytes=0)
    assert not deg.preloaded and engine.preloaded
    for qid, q in fixture_queries[:8]:
        pd.testing.assert_frame_equal(
            deg.search(q).reset_index(drop=True),
            engine.search(q).reset_index(drop=True),
            obj=qid,
        )


def test_search_frame_columns_and_dtypes(engine, fixture_queries):
    """One frame per answer: the doc columns, then the score columns, with
    fixed dtypes for a hit and for limit=3; a miss is an empty frame with
    the same columns, all of dtype object."""
    import pandas as pd

    cols = ["conv_id", "turn_idx", "doc_key", "occurrence", "tf_idf_weight",
            "page_rank", "keyword_match", "score"]
    dtypes = ["object", "int32", "int64", "int64"] + ["float64"] * 4
    q = next(q for _, q in fixture_queries if len(engine.search(q)) > 3)
    full, top3 = engine.search(q), engine.search(q, limit=3)
    for got in (full, top3):
        assert list(got.columns) == cols
        assert [str(t) for t in got.dtypes] == dtypes
        assert isinstance(got.index, pd.RangeIndex) and got.index.start == 0
    pd.testing.assert_frame_equal(top3, full.head(3), check_exact=True)
    miss = engine.search("zzzzqqqqxx yyqqzzww")
    assert list(miss.columns) == cols and len(miss) == 0
    assert [str(t) for t in miss.dtypes] == ["object"] * len(cols)


def test_envelope_shape_and_page_math(engine, oracle_index, fixture_queries):
    """§2.4 step 11 (Ranker.java:256-279, README.md:43-53): the serving
    envelope — 10/page chunks numbered from 1, totalPages = ceil(n/10),
    result objects {title, url, page_head} against the pandas oracle's
    ranked docs, "" for every out-of-range page."""
    import json
    import math

    from holi_search_engine_spark.oracle import pandas_oracle as O

    checked = 0
    for qid, q in fixture_queries:
        exp = O.search(oracle_index, q)
        full = engine.search(q)
        n = len(exp)
        total = math.ceil(n / 10)
        if n == 0:
            assert engine.search_page_json(q, 1) == ""
            continue
        for page in (1, total):
            env = engine.paginate(full, page)
            assert env["page"] == page and env["totalPages"] == total, qid
            want_len = 10 if page < total else n - 10 * (total - 1)
            assert len(env["results"]) == want_len, qid
            for r, cand in zip(env["results"], exp[(page - 1) * 10:]):
                conv, turn = cand.doc
                assert r["url"] == f"{conv}:{turn}", qid
                assert set(r) <= {"title", "url", "page_head"}
                assert len(r.get("title", "")) <= 60
                assert len(r.get("page_head", "")) <= 300
        # out-of-range pages return the empty string, not JSON
        assert engine.paginate(full, 0) == ""
        assert engine.paginate(full, total + 1) == ""
        # the JSON body round-trips and keeps Gson field order
        body = engine.search_page_json(q, 1)
        assert body.startswith('{"results":')
        parsed = json.loads(body)
        assert parsed["totalPages"] == total
        assert [r["url"] for r in parsed["results"]] == [
            r["url"] for r in engine.paginate(full, 1)["results"]
        ]
        checked += 1
        if checked >= 6:
            break
    assert checked >= 4


def test_envelope_titles_match_doc_meta(engine, spark, built_index):
    """title/page_head come verbatim from the doc_meta artifact (60/300
    char truncations, CrawlProcess.java:49-56)."""
    from pyspark.sql import functions as F

    from holi_search_engine_spark.sources.catalog import read_table

    full = engine.search("the data")
    if not len(full):
        full = engine.search("alpha")
    env = engine.paginate(full, 1)
    assert env != ""
    keys = [int(k) for k in full["doc_key"].head(10)]
    meta = {
        r["doc_key"]: (r["title"], r["snippet"])
        for r in read_table(spark, built_index.doc_meta)
        .select("doc_key", "title", "snippet")
        .where(F.col("doc_key").isin(keys))
        .collect()
    }
    for r, k in zip(env["results"], keys):
        title, snippet = meta[k]
        assert r.get("title") == title
        assert r.get("page_head") == snippet


def test_gson_dumps_quirks():
    """Gson twin: compact separators, declaration order, HTML-safe
    escaping of < > & = ' inside strings (JsonWriter.HTML_SAFE), UTF-8
    passthrough, null fields omitted upstream."""
    import json

    from holi_search_engine_spark.query.ranker import gson_dumps

    env = {"results": [{"title": "a<b & c='x'", "url": "conv-1:2",
                        "page_head": "s=t café"}], "page": 1, "totalPages": 1}
    s = gson_dumps(env)
    assert s == (
        '{"results":[{"title":"a\\u003cb \\u0026 c\\u003d\\u0027x\\u0027",'
        '"url":"conv-1:2","page_head":"s\\u003dt café"}],'
        '"page":1,"totalPages":1}'
    )
    assert json.loads(s) == env  # escapes decode back to the same object
    # JsonWriter always escapes the JS line separators U+2028/U+2029
    # (invalid in embedded JavaScript even though legal JSON)
    s2 = gson_dumps({"t": "a b c"})
    assert s2 == '{"t":"a\\u2028b\\u2029c"}'
    assert json.loads(s2) == {"t": "a b c"}


def test_gson_dumps_non_string_keys():
    """Adversarial key fuzz (round-4 verdict housekeeping): Gson's default
    MapTypeAdapter (complexMapKeySerialization off) stringifies primitive
    map keys — Integer 1 → "1", Boolean → "true"/"false", Double 1.5 →
    "1.5", null key → "null" — which is exactly what json.dumps does, so
    gson_dumps must produce the Gson bytes for these too.  The HTML-safe
    escaping applies in the key position as well (JsonWriter escapes
    names with the same table).  The serving envelope itself only emits
    string keys; this locks the helper's behavior for any future caller."""
    import pytest

    from holi_search_engine_spark.query.ranker import gson_dumps

    assert gson_dumps({1: "a", 2.5: "b"}) == '{"1":"a","2.5":"b"}'
    assert gson_dumps({True: 1, None: 2}) == '{"true":1,"null":2}'
    # Double.toString(1.0) == "1.0" — Python matches
    assert gson_dumps({1.0: "x"}) == '{"1.0":"x"}'
    # HTML-unsafe characters in a STRING key escape like values do
    assert gson_dumps({"a<b": "c=d"}) == '{"a\\u003cb":"c\\u003dd"}'
    # non-primitive keys are unsupported in both engines' default modes:
    # json.dumps raises TypeError (Gson needs enableComplexMapKeySerialization)
    with pytest.raises(TypeError):
        gson_dumps({(1, 2): "tuple-key"})


def test_query_word_colliding_with_result_columns(spark, edge_index):
    """A query word literally named 'occurrence' (or 'doc_key') must not
    overwrite the candidate frame's bookkeeping columns: before the tf:
    column-namespace fix, the term's tf column replaced the match counts
    the TOP_CUT pre-rank sorts on, scrambling candidates and returning a
    garbage occurrence column."""
    paths, oracle_idx = edge_index
    eng = RankerEngine(spark, paths, preload=True)
    for q in ("occurrence rate", "occurrence", "doc_key occurrence rate"):
        got = eng.search(q)
        exp = O.search(oracle_idx, q)
        assert list(zip(got["conv_id"], got["turn_idx"])) == [c.doc for c in exp], q
        for g, c in zip(got["score"], exp):
            assert abs(g - c.score()) < 1e-9, q
        for g, c in zip(got["occurrence"], exp):
            assert int(g) == c.occurrence, q


def test_missing_doc_rows_score_as_reference(spark, edge_index, tmp_path):
    """Candidates the per-doc artifacts lack: no doc_meta row or a null
    title scores keyword_match 0 (the reference reads a blank title), a
    missing or stored-NaN pagerank scores 0, and the preloaded and the
    degraded (pruned-read) modes and the distributed ranker serve the
    same frame."""
    import shutil

    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from holi_search_engine_spark.plans.index_build import IndexPaths
    from holi_search_engine_spark.query.distributed import DistributedRanker

    paths, _ = edge_index
    q = "rate decay path"  # docs 0, 1 and 3: keys 0, 64 and 192
    base = RankerEngine(spark, paths, preload=True).search(q).set_index("doc_key")
    assert (base.loc[[64, 192], "keyword_match"] > 0).all()

    holed = IndexPaths(str(tmp_path / "holed"))
    shutil.copytree(paths.root, holed.root)
    conv = F.col("conv_id")
    (
        spark.read.parquet(paths.doc_meta)
        .where(conv != "conv-00000003")
        .withColumn("title", F.when(conv == "conv-00000001", F.lit(None)).otherwise(F.col("title")))
        .write.mode("overwrite").parquet(holed.doc_meta)
    )
    spark.createDataFrame(
        [(0, 0.5), (64, float("nan"))], "doc_key long, rank double"
    ).write.parquet(holed.pageranks)

    pre = RankerEngine(spark, holed, preload=True).search(q)
    deg = RankerEngine(spark, holed, preload=False).search(q)
    dist = DistributedRanker(spark, holed).search(q)
    pd.testing.assert_frame_equal(pre, deg, check_exact=True)
    pd.testing.assert_frame_equal(pre, dist, check_exact=True)
    got = pre.set_index("doc_key")
    assert list(got.loc[[64, 192], "keyword_match"]) == [0.0, 0.0]
    assert list(got.loc[[0, 64, 192], "page_rank"]) == [0.5, 0.0, 0.0]
    np.testing.assert_array_equal(
        got["tf_idf_weight"], base.loc[got.index, "tf_idf_weight"]
    )


def test_negative_idf_scores_nan_like_java(spark, edge_index):
    """'signal' is in every doc, so Q3 gives idf = ln(5/6) < 0.  Java
    Math.pow(idf, 1.5) is NaN and the reference's weight accumulation
    propagates it; Python ** returned a complex here and crashed the
    engine (and broke the oracle's final sort).  Both twins must now
    return NaN weights over the same candidate set."""
    import math

    paths, oracle_idx = edge_index
    eng = RankerEngine(spark, paths, preload=True)
    got = eng.search("signal decay")
    exp = O.search(oracle_idx, "signal decay")
    assert len(got) == len(exp) == 5
    assert all(math.isnan(w) for w in got["tf_idf_weight"])
    assert all(math.isnan(c.tf_idf_weight) for c in exp)
    # NaN scores make the final ORDER unspecified in both engines; the
    # candidate SET and the occurrence counts are still deterministic
    assert set(zip(got["conv_id"], got["turn_idx"])) == {c.doc for c in exp}
    assert sorted(got["occurrence"]) == sorted(c.occurrence for c in exp)


def test_java_query_tokens_semantics():
    """Query/title normalization is Java-exact (Ranker.java:152/223):
    String.trim() strips chars <= U+0020 only, and regex \\s is ASCII-only,
    so Unicode whitespace (NBSP, ideographic space) stays INSIDE tokens —
    Python's str.split()/str.strip() are Unicode-aware and would diverge
    from the reference on exactly those titles."""
    from holi_search_engine_spark.functions.javacompat import (
        RE_QUERY_PUNCT,
        java_query_tokens,
    )

    cases = ["", "   ", "a,b", "Hello, world", "\x01Hi  there\x1f",
             "x\ty\x0bz", "tab　wide", "A'B(C)D", "-edge.case-"]
    for c in cases:
        # the oracle's loop-style twin is an independent implementation;
        # they must agree everywhere
        assert java_query_tokens(c) == O._java_query_tokens(c), repr(c)
    assert java_query_tokens("") == [""]  # Java "".split("\\s+") -> [""]
    assert java_query_tokens("Hello, world") == ["hello", " world"]
    assert java_query_tokens("\x01Hi  there\x1f") == ["hi", "there"]
    assert java_query_tokens("tab　wide") == ["tab　wide"]
    # per-title path (Ranker.java:223): the engine tokenizes each title
    # with java_query_tokens, reading a null title as "" (-> [""])
    titles = cases + [None]
    assert [
        java_query_tokens(t if isinstance(t, str) else "") for t in titles
    ] == [O._java_query_tokens(c) for c in cases] + [[""]]
    # drift guard: the engine and oracle punctuation alphabets are declared
    # independently (sharing would let one bug hide both) but must stay
    # textually identical; note re.compile's cache may intern the objects
    assert RE_QUERY_PUNCT.pattern == O._RE_PUNCT.pattern


@pytest.fixture(scope="module")
def bucket_boundary_index(spark, tmp_path_factory):
    """Corpus for the HashSet-capacity-boundary expansion quirk: the query
    below has 17 raw tokens but only 9 distinct words, so the reference's
    ``words_set`` (collection-constructed, capacity sized from the RAW
    length -> table 32) iterates DIFFERENTLY from the first-pass
    ``words_sw`` HashSet (element-wise adds, default capacity 16):
    'iota' precedes 'epsilon' in the 32-bucket table, 'epsilon' precedes
    'iota' in the 16-bucket one.  With < 50 candidates the reference
    re-runs candidate generation over words_set (Ranker.java:190-192) even
    though the term SET is unchanged, and the re-run's different first-hit
    term shifts which tf Q5 drops on any doc matching both words."""
    import pandas as pd

    from holi_search_engine_spark.plans.index_build import build_index

    texts = [
        "epsilon iota iota",      # Q5 pivot: first-hit differs between orders
        "zeta mu delta kappa",
        "beta theta nu",
        "kappa beta filler words",
        "delta nu theta mu",
        "filler only doc",
    ]
    rows = [
        (f"conv-{i:08d}", 0, "user", t, "", pd.Timestamp("2026-01-01"))
        for i, t in enumerate(texts)
    ]
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    vocab = frozenset(
        "epsilon iota zeta mu delta kappa beta theta nu filler words only doc".split()
    )
    d = str(tmp_path_factory.mktemp("boundary_idx"))
    paths = build_index(spark, pdf.pipe(spark.createDataFrame), d, vocab, buckets=2)
    docs = [((r.conv_id, int(r.turn_idx)), r.text) for r in pdf.itertuples()]
    return paths, O.build_index(docs, vocab)


def test_expansion_rebuckets_at_capacity_boundary(spark, bucket_boundary_index):
    """Regression: the expansion pass must iterate words_set in the
    COLLECTION-constructor bucket order, and must run even when no
    stopword was removed if that order differs from the first pass's.
    Before the fix the engine (a) skipped the re-run entirely for
    stopword-free queries and (b) re-bucketed the expansion terms at
    default capacity, so its Q5 drops diverged from the reference (and
    from the oracle) on exactly this query shape."""
    from holi_search_engine_spark.functions.javacompat import java_hashset_order

    paths, oracle_idx = bucket_boundary_index
    q = ("beta kappa epsilon iota mu kappa delta iota kappa theta "
         "nu iota epsilon delta nu zeta iota")
    words = q.split()
    coll = java_hashset_order(words, initial_from_collection=True)
    assert java_hashset_order(coll) != coll, (
        "fixture query must straddle the 16->32 capacity boundary"
    )
    # the pivot pair must order oppositely in the two tables
    assert coll.index("iota") < coll.index("epsilon")
    rb = java_hashset_order(coll)
    assert rb.index("epsilon") < rb.index("iota")

    eng = RankerEngine(spark, paths, preload=True)
    got = eng.search(q)
    exp = O.search(oracle_idx, q)
    assert list(zip(got["conv_id"], got["turn_idx"])) == [c.doc for c in exp]
    # weights agree to ~1 ulp, not bit-exactly: the engine's idf is the
    # JVM's Math.log (1-ulp spec, matching the reference's own Idf job)
    # while the oracle uses libm log — the pre-fix Q5-shift error was a
    # ~2x weight difference, far outside this band.  Bit-exactness vs the
    # REFERENCE is asserted in tests/test_javadiff_scoring.py, where the
    # compiled kernel reads the same artifact-derived idf values.
    for g, c in zip(got["tf_idf_weight"], exp):
        assert g == pytest.approx(c.tf_idf_weight, rel=1e-12)
    for g, c in zip(got["score"], exp):
        assert g == pytest.approx(c.score(), rel=1e-12)
