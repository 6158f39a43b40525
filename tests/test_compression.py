"""Varbyte / delta-gap / block codec roundtrip + property tests."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from holi_search_engine_spark.plans.compression import (
    DocKeyLookup,
    decode_block,
    encode_block,
    varbyte_decode,
    varbyte_encode,
)


def test_varbyte_empty():
    assert varbyte_encode(np.empty(0, dtype=np.uint64)) == b""
    assert len(varbyte_decode(b"")) == 0


def test_varbyte_known_values():
    vals = np.array([0, 1, 127, 128, 16383, 16384, 2**32, 2**63], dtype=np.uint64)
    out = varbyte_decode(varbyte_encode(vals))
    assert (out == vals).all()
    # single small value = one byte
    assert len(varbyte_encode(np.array([5], dtype=np.uint64))) == 1
    assert len(varbyte_encode(np.array([128], dtype=np.uint64))) == 2


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
def test_varbyte_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    assert (varbyte_decode(varbyte_encode(arr)) == arr).all()


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**40),
            st.integers(min_value=1, max_value=10_000),
        ),
        min_size=1,
        max_size=256,
        unique_by=lambda t: t[0],
    )
)
def test_block_roundtrip(pairs):
    pairs.sort()
    keys = np.array([k for k, _ in pairs], dtype=np.uint64)
    tfs = np.array([t for _, t in pairs], dtype=np.uint64)
    db, tb = encode_block(keys, tfs)
    k2, t2 = decode_block(db, tb)
    assert (k2 == keys).all()
    assert (t2 == tfs).all()


def test_compression_is_compact():
    # dense doc keys → ~1 byte/gap
    keys = np.arange(10_000, 20_000, dtype=np.uint64)
    tfs = np.ones(10_000, dtype=np.uint64)
    db, tb = encode_block(keys, tfs)
    assert len(db) < 10_100  # first absolute key + 1 byte per gap
    assert len(tb) == 10_000


def test_doc_key_lookup_absent_keys():
    """get() fills every key the table lacks — below its minimum, above its
    maximum, inside a gap — with the default, for 1-D and 2-D values and
    for an empty table; present keys read their own row in any order."""
    keys = np.array([40, 10, 20], dtype=np.int64)  # unsorted, like a read
    ntf = DocKeyLookup(keys, np.array([4.0, 1.0, 2.0]))
    want = np.array([20, 5, 30, 50, 10, 40], dtype=np.int64)
    got = ntf.get(want, np.nan)
    np.testing.assert_array_equal(got, [2.0, np.nan, np.nan, np.nan, 1.0, 4.0])
    assert got.dtype == np.float64
    meta = DocKeyLookup(keys, np.array([["d", "s4"], [None, "s1"], ["b", "s2"]], dtype=object))
    assert meta.get(want, None).tolist() == [
        ["b", "s2"], [None, None], [None, None], [None, None], [None, "s1"], ["d", "s4"],
    ]
    # the stored values are not written through by a fill
    assert ntf.vals.tolist() == [1.0, 2.0, 4.0]
    empty = DocKeyLookup(np.empty(0, np.int64), np.empty((0, 2), dtype=object))
    assert empty.get(want[:2], None).tolist() == [[None, None], [None, None]]
    assert DocKeyLookup(np.empty(0, np.int64), np.empty(0)).get(want, 0.0).tolist() == [0.0] * 6
    # __call__ is the present-keys fast path the BM25 sweeps use
    np.testing.assert_array_equal(ntf(np.array([10, 40])), [1.0, 4.0])


def test_doc_key_exprs_roundtrip(spark):
    """doc_key_expr ∘ doc_cols_from_key_exprs == identity on (conv_id,
    turn_idx) — the hot path carries only the key, so the Catalyst inverse
    must reconstruct the exact strings the tokenizer's packer saw — and
    the tokenizer's pandas packer gives the keys doc_key_expr gives."""
    from pyspark.sql import functions as F

    from holi_search_engine_spark.plans.compression import (
        doc_cols_from_key_exprs,
        doc_key_expr,
        pack_doc_keys,
    )

    src = spark.createDataFrame(
        [(f"conv-{i:08d}", t) for i in (0, 7, 12345, 99999999) for t in (0, 1, 11, 63)],
        "conv_id string, turn_idx int",
    )
    back = (
        src.select(doc_key_expr().alias("doc_key"), F.col("conv_id").alias("c0"), F.col("turn_idx").alias("t0"))
        .select("c0", "t0", "doc_key", *doc_cols_from_key_exprs())
        .toPandas()
    )
    assert (back["conv_id"] == back["c0"]).all()
    assert (back["turn_idx"] == back["t0"]).all()
    packed = pack_doc_keys(back[["c0", "t0"]].set_axis(["conv_id", "turn_idx"], axis=1))
    np.testing.assert_array_equal(packed, back["doc_key"].to_numpy(np.int64))


def test_doc_key_columns_edge_keys():
    """The result frames' doc columns from packed keys: the first and the
    last conv id the key format holds, each with the first and the last
    turn, format exactly as the per-row ``int()`` f-string did."""
    from holi_search_engine_spark.plans.compression import TURN_BITS, doc_key_columns

    keys = np.array(
        [c << TURN_BITS | t for c in (0, 99_999_999) for t in (0, 63)], dtype=np.int64
    )
    cols = doc_key_columns(keys, ["conv_id", "turn_idx"])
    assert cols["conv_id"] == [f"conv-{int(c):08d}" for c in keys >> TURN_BITS]
    assert cols["conv_id"] == ["conv-00000000"] * 2 + ["conv-99999999"] * 2
    np.testing.assert_array_equal(cols["turn_idx"], np.array([0, 63, 0, 63], dtype=np.int32))
    assert cols["turn_idx"].dtype == np.int32


def test_blocks_from_sorted_block_aligned_batch_boundary():
    """Regression: a term whose rows cross an Arrow-batch boundary at an
    EXACT block multiple (empty carry) must keep one contiguous
    ``block_no`` sequence.  The old kernel reset the block offset when
    the carry had no leftover rows, restarting the continuing term's
    numbering at 0 — duplicate (term, block_no) labels that scrambled
    every reader's ``sort_values("block_no")`` posting order (first hit
    at sf0.1/local[32]: a 95,314-posting term restarted after exactly
    80,000 = 625·128 rows under the default 10,000-row Arrow batches).

    Sweeps batch sizes around the alignment cases (incl. the production
    10,000) and term placements (solo / head / mid / tail of the
    partition stream) and checks contiguous numbering AND that the
    decoded (doc_key, tf) stream in block_no order equals the input.
    """
    import pandas as pd

    from holi_search_engine_spark.plans.compression import (
        BLOCK_SIZE,
        _blocks_from_sorted,
    )

    def mk(term, n, key0=0):
        return pd.DataFrame(
            {
                "term": [term] * n,
                "doc_key": np.arange(key0, key0 + n, dtype=np.int64),
                "tf": (np.arange(n, dtype=np.int64) % 9) + 1,
                "ntf": np.ones(n),
                "bm25_norm": np.ones(n),
            }
        )

    # 1264 = 9 full blocks + 112 leftover; batch 128+16=144 makes the
    # carry empty after the first batch in the "head" shape, etc.  10_000
    # is the production Arrow default; 1152 = 9*128 gives empty carries
    # on EVERY solo batch.
    big = 12_0 * BLOCK_SIZE + 82  # 15_442 rows, mirrors the field shape
    for batch in (10_000, BLOCK_SIZE, BLOCK_SIZE - 1, BLOCK_SIZE + 1, 9 * BLOCK_SIZE):
        for shape in ("solo", "head", "mid", "tail"):
            if shape == "solo":
                stream = [mk("t", big)]
            elif shape == "head":
                stream = [mk("t", big), mk("z", 77)]
            elif shape == "mid":
                stream = [mk("a", 50), mk("t", big), mk("z", 77)]
            else:
                stream = [mk("a", 50), mk("t", big)]
            src = pd.concat(stream, ignore_index=True)
            batches = [
                src.iloc[i : i + batch].reset_index(drop=True)
                for i in range(0, len(src), batch)
            ]
            out = pd.concat(
                list(_blocks_from_sorted(iter(batches))), ignore_index=True
            )
            for term, g in out.groupby("term"):
                bns = sorted(g["block_no"].tolist())
                assert bns == list(range(len(bns))), (batch, shape, term, bns[:5], bns[-5:])
                # decoded stream in block order == input rows for the term
                g = g.sort_values("block_no")
                keys = np.concatenate(
                    [decode_block(r.doc_bytes, r.tf_bytes)[0] for r in g.itertuples()]
                )
                tfs = np.concatenate(
                    [decode_block(r.doc_bytes, r.tf_bytes)[1] for r in g.itertuples()]
                )
                want = src[src["term"] == term]
                assert (keys == want["doc_key"].to_numpy()).all(), (batch, shape, term)
                assert (tfs == want["tf"].to_numpy()).all(), (batch, shape, term)
