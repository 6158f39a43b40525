"""Block-max WAND BM25: exact top-k equality vs brute-force scoring."""

import numpy as np
import pandas as pd
import pytest

from holi_search_engine_spark.corpus import make_query_fixtures
from holi_search_engine_spark.query.bm25 import BM25Engine


@pytest.fixture(scope="session")
def bm25(spark, built_index):
    return BM25Engine(spark, built_index)


@pytest.fixture
def bm25_cold(spark, built_index):
    """A second engine on the same index, opened per test and only ever
    asked for exhaustive answers: its scored blocks share nothing with the
    ``bm25`` engine's, where WAND and brute force read one cache."""
    return BM25Engine(spark, built_index)


def _assert_equal(got, exp, label):
    assert list(got["conv_id"]) == list(exp["conv_id"]), label
    assert list(got["turn_idx"]) == list(exp["turn_idx"]), label
    assert np.allclose(got["score"], exp["score"], atol=1e-12), label


def _assert_cold(got, exp, cold, label):
    """``got`` (a sweep) and ``exp`` (brute force on the same engine)
    against ``cold``, brute force on an engine with its own cache."""
    _assert_equal(got, cold, f"{label} vs cold")
    pd.testing.assert_frame_equal(exp, cold, check_exact=True, obj=label)


def test_wand_matches_bruteforce_fixture_queries(bm25, bm25_cold, vocabulary):
    for qid, q in make_query_fixtures(vocabulary):
        for k in (1, 5, 10):
            got, exp = bm25.search(q, k), bm25.search_bruteforce(q, k)
            _assert_equal(got, exp, f"{qid} k={k}")
            _assert_cold(got, exp, bm25_cold.search_bruteforce(q, k), f"{qid} k={k}")


def test_wand_matches_bruteforce_hot_terms(bm25, bm25_cold, vocabulary):
    # Zipf-head terms (incl. stopwords — longest posting lists)
    hot = vocabulary[:5]
    queries = [
        " ".join(hot),
        hot[0],
        f"{hot[0]} {vocabulary[4000]}",  # hot + rare
        " ".join(vocabulary[100:110]),  # 10 terms
    ]
    for q in queries:
        for k in (1, 10, 50, 250):
            got, exp = bm25.search(q, k), bm25.search_bruteforce(q, k)
            _assert_equal(got, exp, f"{q[:30]} k={k}")
            _assert_cold(got, exp, bm25_cold.search_bruteforce(q, k), f"{q[:30]} k={k}")


def test_k_larger_than_candidates(bm25, vocabulary):
    rare = vocabulary[4999]
    got = bm25.search(rare, 10_000)
    exp = bm25.search_bruteforce(rare, 10_000)
    _assert_equal(got, exp, "k>candidates")


def test_absent_term_empty(bm25):
    assert len(bm25.search("zzzznotaterm", 10)) == 0


@pytest.fixture(scope="module")
def bm25_skip(spark, tmp_path_factory):
    """An index engineered so block-max skipping is OBSERVABLE: a hot term
    in all 4096 docs (32 blocks at BLOCK_SIZE=128) and a high-idf rare term
    in 4 of them, with total postings (4100) under the TAAT crossover so
    the query stays on the WAND path."""
    import pandas as pd

    from holi_search_engine_spark.plans.index_build import build_index

    rows = []
    for i in range(4096):
        text = "common " * (1 + i % 3)
        if i % 1024 == 500:
            text += "rareterm " * 8
        rows.append((f"conv-{i:08d}", 0, text))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text"])
    out = str(tmp_path_factory.mktemp("bm25skip") / "idx")
    paths = build_index(
        spark,
        spark.createDataFrame(pdf),
        out,
        frozenset({"common", "rareterm"}),
        buckets=2,
    )
    return BM25Engine(spark, paths)


def test_wand_skips_blocks(bm25_skip):
    """Block-max skipping must decode STRICTLY fewer blocks than a
    skip-free scorer for a hot+rare query at k=1: once a rare doc is
    scored, θ exceeds every hot-only block bound and the hot cursor jumps
    straight between the rare docs' blocks."""
    q = "common rareterm"
    total = bm25_skip.total_blocks(q)
    assert total >= 16  # 32 hot blocks + the rare block(s)
    before = bm25_skip.blocks_decoded
    got = bm25_skip.search(q, 1)
    decoded = bm25_skip.blocks_decoded - before
    assert 0 < decoded < total
    _assert_equal(
        got, bm25_skip.search_bruteforce(q, 1), "skip query still exact"
    )


def test_or_dense_and_single_term_route_to_exhaustive(bm25_skip, monkeypatch):
    """OR routing: a single-term query, and a query whose total df is
    over TAAT_THRESHOLD, take the exhaustive path, which reads no block
    through a sweep.  Forced by dropping the threshold under the 4100
    postings of "common rareterm", which sweeps at the default."""
    for q in ("common", "rareterm"):
        before = bm25_skip.blocks_decoded
        bm25_skip.search(q, 5)
        assert bm25_skip.blocks_decoded == before, q
    q = "common rareterm"
    monkeypatch.setattr(bm25_skip, "TAAT_THRESHOLD", 4_000)
    before = bm25_skip.blocks_decoded
    got = bm25_skip.search(q, 10)
    assert bm25_skip.blocks_decoded == before
    pd.testing.assert_frame_equal(got, bm25_skip.search_bruteforce(q, 10), check_exact=True)


@pytest.mark.parametrize("k", [0, -1])
def test_k_below_one_raises(bm25, vocabulary, k):
    """Every search raises on k < 1 for a single-term, a dense and a
    sparse query alike (before: a partition error, an IndexError, or
    every row but the last for k = -1)."""
    queries = [vocabulary[0], " ".join(vocabulary[:5]), f"{vocabulary[500]} {vocabulary[600]}"]
    for name in ("search", "search_and", "search_bruteforce", "search_bruteforce_and"):
        for q in queries:
            with pytest.raises(ValueError, match="k must be at least 1"):
                getattr(bm25, name)(q, k)


def test_blocks_decode_once_per_open(spark, bm25_skip, monkeypatch):
    """A fresh engine decodes each block once: a repeated sweep reads
    every block from the cache, and brute force then decodes only the
    blocks the sweep skipped.  ``blocks_decoded`` counts the sweep's block
    reads either way."""
    from holi_search_engine_spark.query import bm25 as bm25_mod

    calls = [0]
    decode = bm25_mod.decode_block

    def counting(doc_bytes, tf_bytes):
        calls[0] += 1
        return decode(doc_bytes, tf_bytes)

    monkeypatch.setattr(bm25_mod, "decode_block", counting)
    eng = BM25Engine(spark, bm25_skip.paths)
    q = "common rareterm"
    frames, reads, decodes = [], [], []
    for _ in range(2):
        c0, r0 = calls[0], eng.blocks_decoded
        frames.append(eng.search(q, 1))
        decodes.append(calls[0] - c0)
        reads.append(eng.blocks_decoded - r0)
    assert 0 < decodes[0] == reads[0] == reads[1] < eng.total_blocks(q)
    assert decodes[1] == 0
    pd.testing.assert_frame_equal(frames[0], frames[1], check_exact=True)
    c0 = calls[0]
    _assert_equal(eng.search_bruteforce(q, 1), frames[0], "bruteforce after sweep")
    assert calls[0] - c0 == eng.total_blocks(q) - reads[0]


def test_capped_cache_same_answers(spark, built_index, bm25, vocabulary):
    """A block cache capped at a few KB evicts all the time and answers
    exactly as an uncapped one.  Between queries it holds at most the cap
    plus the current query's entries, and counts exactly the bytes of the
    entries it holds."""
    capped = BM25Engine(spark, built_index)
    reader = capped.reader
    reader.CACHE_BYTES = 4 << 10
    rng = np.random.default_rng(11)
    for i in range(200):
        # Zipf-ish: head terms recur (exhaustive path), tail terms do not
        n = int(rng.integers(1, 5))
        words = [vocabulary[int(rng.zipf(1.3)) % len(vocabulary)] for _ in range(n)]
        q = " ".join(words)
        for name in ("search", "search_and"):
            pd.testing.assert_frame_equal(
                getattr(capped, name)(q, 10), getattr(bm25, name)(q, 10),
                check_exact=True, obj=f"{name} {q!r}",
            )
        held = {t: e.nbytes for t, e in reader._cache.items()}
        assert reader._cache_bytes == sum(held.values()), q
        current = sum(held.get(t, 0) for t in reader._query_terms)
        assert reader._cache_bytes <= reader.CACHE_BYTES + current, q


def test_evicted_entry_fill_not_counted(spark, built_index, vocabulary):
    """A block cache whose entry left the LRU (its term read without a
    fetch, then pushed out) still fills, but the LRU does not count it."""
    from holi_search_engine_spark.query.index_reader import IndexReader

    reader = IndexReader(spark, built_index)
    reader.CACHE_TERMS = 1
    first, second = [t for t in vocabulary if reader.blocks(t) is not None][:2]
    cache = reader.block_cache(first)
    reader.block_cache(second)  # evicts first
    assert first not in reader._cache
    before = reader._cache_bytes
    cache.fill(0, np.arange(4, dtype=np.int64))
    assert cache.slots[0] is not None and reader._cache_bytes == before


def test_scores_positive_and_sorted(bm25, vocabulary):
    got = bm25.search(f"{vocabulary[500]} {vocabulary[600]}", 20)
    s = got["score"].to_numpy()
    assert (s > 0).all()
    assert (np.diff(s) <= 1e-15).all()


def test_auto_degraded_mode_identical(spark, built_index, bm25, vocabulary):
    # force the preload threshold to 0 bytes: the engine must fall back to
    # term-pruned per-query reads and return identical results
    deg = BM25Engine(spark, built_index, preload_max_bytes=0)
    assert not deg.preloaded and bm25.preloaded
    for qid, q in make_query_fixtures(vocabulary)[:12]:
        _assert_equal(deg.search(q, 10), bm25.search(q, 10), qid)
        _assert_equal(
            deg.search_bruteforce(q, 10), bm25.search_bruteforce(q, 10), qid
        )
    assert deg.total_blocks("the") == bm25.total_blocks("the")


def test_degraded_reader_holds_preloaded_term_blocks(spark, built_index):
    """A degraded read, pruned to one bucket partition at a time, slices
    the block table into the same TermBlocks as the preloaded open; each
    term's blocks ascend in key_min, and together the terms hold every
    block the build wrote."""
    import glob
    import json
    import os

    from holi_search_engine_spark.functions.xxhash import term_bucket
    from holi_search_engine_spark.query.index_reader import IndexReader, TermBlocks

    pre = IndexReader(spark, built_index)
    deg = IndexReader(spark, built_index, preload_max_bytes=0)
    assert pre.preloaded and not deg.preloaded
    terms = pre.terms()
    assert terms and terms == sorted(terms)
    n_buckets = deg.meta["buckets"]
    for b in range(n_buckets):
        in_bucket = [t for t in terms if term_bucket(t, n_buckets) == b]
        deg.fetch(in_bucket)  # one read of bucket b's partition
        for t in in_bucket:
            got, exp = deg.blocks(t), pre.blocks(t)
            assert got is not None and len(got) == len(exp) > 0, t
            for col in TermBlocks.__slots__:
                assert (getattr(got, col) == getattr(exp, col)).all(), (t, col)
            assert (np.diff(exp.key_min) > 0).all(), t
    manifests = glob.glob(os.path.join(built_index.manifest, "blocks_bucket_*.json"))
    assert len(manifests) == n_buckets
    assert sum(len(pre.blocks(t)) for t in terms) == sum(
        json.load(open(m))["n_blocks"] for m in manifests
    )


# ---------------------------------------------------------------- property

from hypothesis import given, settings
from hypothesis import strategies as st


def _make_sweep(postings, weight, block_size, counter):
    """Encode a (doc -> tf) dict into a blocks frame, slice it per term
    as the index reader does and wrap a _TermSweep over a fresh cache."""
    import pandas as pd

    from holi_search_engine_spark.plans.compression import (
        BM25_K1,
        DocKeyLookup,
        encode_block,
    )
    from holi_search_engine_spark.query.bm25 import _TermSweep
    from holi_search_engine_spark.query.index_reader import BlockCache, _by_term

    keys = np.array(sorted(postings), dtype=np.uint64)
    tfs = np.array([postings[k] for k in sorted(postings)], dtype=np.uint64)
    rows = []
    for bno, s in enumerate(range(0, len(keys), block_size)):
        bk, bt = keys[s : s + block_size], tfs[s : s + block_size]
        db, tb = encode_block(bk, bt)
        ub = float(np.max(bt * (BM25_K1 + 1.0) / (bt + BM25_K1)))
        rows.append(("t", bno, len(bk), int(bk[0]), int(bk[-1]), ub, db, tb))
    blocks = pd.DataFrame(
        rows[::-1],  # _by_term puts the blocks in block_no order
        columns=["term", "block_no", "n", "key_min", "key_max", "ub_bm25",
                 "doc_bytes", "tf_bytes"],
    )
    norms = DocKeyLookup(np.array([0], dtype=np.int64), np.array([1.0]))
    return _TermSweep(BlockCache(_by_term(blocks)["t"]), weight, norms, counter)


@settings(max_examples=60, deadline=None)
@given(
    terms=st.lists(
        st.tuples(
            st.dictionaries(  # doc -> tf
                st.integers(min_value=0, max_value=40),
                st.integers(min_value=1, max_value=5),
                min_size=1,
                max_size=30,
            ),
            st.floats(min_value=0.05, max_value=4.0, allow_nan=False),
        ),
        min_size=1,
        max_size=4,
    ),
    k=st.integers(min_value=1, max_value=12),
    block_size=st.integers(min_value=1, max_value=6),
)
def test_block_sweep_matches_bruteforce_property(terms, k, block_size):
    """The sweep must equal brute force exactly — scores AND the doc-asc
    tie-break — on arbitrary posting sets, weights, k, and block sizes
    (tiny blocks force many ranges, partial consumption, and floor skips)."""
    from holi_search_engine_spark.plans.compression import BM25_K1
    from holi_search_engine_spark.query.bm25 import block_sweep_topk

    counter = [0]
    sweeps = [_make_sweep(p, w, block_size, counter) for p, w in terms]
    keys, scores = block_sweep_topk(sweeps, k)

    truth: dict[int, float] = {}
    for postings, w in terms:
        for d, tf in postings.items():
            truth[d] = truth.get(d, 0.0) + w * tf * (BM25_K1 + 1.0) / (tf + BM25_K1)
    exp = sorted(truth.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    assert keys.dtype == np.int64 and scores.dtype == np.float64
    assert keys.tolist() == [d for d, _ in exp]
    assert np.allclose(scores, [s for _, s in exp], atol=1e-12)


def test_and_matches_bruteforce(bm25, bm25_cold, vocabulary):
    for qid, q in make_query_fixtures(vocabulary):
        for k in (1, 10):
            got, exp = bm25.search_and(q, k), bm25.search_bruteforce_and(q, k)
            _assert_equal(got, exp, f"AND {qid} k={k}")
            _assert_cold(
                got, exp, bm25_cold.search_bruteforce_and(q, k), f"AND {qid} k={k}"
            )
    hot = " ".join(vocabulary[:3])
    got, exp = bm25.search_and(hot, 25), bm25.search_bruteforce_and(hot, 25)
    _assert_equal(got, exp, "AND hot")
    _assert_cold(got, exp, bm25_cold.search_bruteforce_and(hot, 25), "AND hot")


def test_and_absent_term_empty(bm25, vocabulary):
    assert len(bm25.search_and(f"{vocabulary[10]} zzzznotaterm", 10)) == 0


def test_and_gap_prune_skips_blocks(bm25_skip):
    """hot AND rare: only the 4 rare docs can match; the gap prune must
    jump the hot list's blocks between them without decoding."""
    q = "common rareterm"
    total = bm25_skip.total_blocks(q)
    before = bm25_skip.blocks_decoded
    got = bm25_skip.search_and(q, 10)
    decoded = bm25_skip.blocks_decoded - before
    assert 0 < decoded < total
    exp = bm25_skip.search_bruteforce_and(q, 10)
    _assert_equal(got, exp, "AND skip query exact")
    assert len(got) == 4  # exactly the seeded rare docs


@settings(max_examples=40, deadline=None)
@given(
    terms=st.lists(
        st.tuples(
            st.dictionaries(
                st.integers(min_value=0, max_value=25),
                st.integers(min_value=1, max_value=5),
                min_size=1,
                max_size=18,
            ),
            st.floats(min_value=0.05, max_value=4.0, allow_nan=False),
        ),
        min_size=1,
        max_size=4,
    ),
    k=st.integers(min_value=1, max_value=8),
    block_size=st.integers(min_value=1, max_value=5),
)
def test_block_sweep_and_matches_truth_property(terms, k, block_size):
    from holi_search_engine_spark.plans.compression import BM25_K1
    from holi_search_engine_spark.query.bm25 import block_sweep_topk

    counter = [0]
    sweeps = [_make_sweep(p, w, block_size, counter) for p, w in terms]
    keys, scores = block_sweep_topk(sweeps, k, need=len(terms))

    common = set(terms[0][0])
    for postings, _ in terms[1:]:
        common &= set(postings)
    truth = {
        d: sum(
            w * p[d] * (BM25_K1 + 1.0) / (p[d] + BM25_K1) for p, w in terms
        )
        for d in common
    }
    exp = sorted(truth.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    assert keys.tolist() == [d for d, _ in exp]
    assert np.allclose(scores, [s for _, s in exp], atol=1e-12)


def test_and_rareish_vs_enormous_routes_to_sweep(bm25_skip):
    """Routing regression (round-2 verdict #5): when the rarest list
    exceeds TAAT_THRESHOLD but the union dwarfs it, search_and must still
    take the gap-pruned sweep (old routing brute-forced on the rarest df
    alone).  Forced here by dropping the threshold below the rare df:
    rarest=4 > threshold=2, union=4100 ≥ 8·rarest → sweep, exact, and
    strictly fewer blocks decoded than the skip-free union."""
    old = bm25_skip.TAAT_THRESHOLD
    bm25_skip.TAAT_THRESHOLD = 2
    try:
        q = "common rareterm"
        total = bm25_skip.total_blocks(q)
        before = bm25_skip.blocks_decoded
        got = bm25_skip.search_and(q, 10)
        decoded = bm25_skip.blocks_decoded - before
        assert 0 < decoded < total, (decoded, total)
        _assert_equal(got, bm25_skip.search_bruteforce_and(q, 10), "exact")
        # single-term conjunctions still route to the vectorized path
        # (no cursor decodes; "common common" dedups to one term)
        before = bm25_skip.blocks_decoded
        bm25_skip.search_and("common common", 5)
        assert bm25_skip.blocks_decoded == before
    finally:
        bm25_skip.TAAT_THRESHOLD = old
