"""End-to-end Spark index build vs the pandas oracle (SURVEY.md §5), plus
resumability and the per-row invariant."""

import glob
import json
import os

import numpy as np
import pandas as pd
import pytest

from holi_search_engine_spark.plans.compression import TURN_BITS, decode_block


def _blocks_frame(spark, paths):
    """The whole block table in a canonical row order."""
    return (
        spark.read.parquet(paths.blocks)
        .toPandas()
        .sort_values(["term", "block_no"])
        .reset_index(drop=True)
    )


def test_ntf_matches_oracle(spark, built_index, oracle_index):
    ntf = spark.read.parquet(built_index.doc_stats).toPandas()
    got = {(r.conv_id, int(r.turn_idx)): r.ntf for r in ntf.itertuples()}
    assert set(got) == set(oracle_index.ntf)
    for k, v in oracle_index.ntf.items():
        assert abs(got[k] - v) < 1e-12, k


def test_wmetric_matches_oracle(spark, built_index, oracle_index):
    wm = spark.read.parquet(built_index.wmetric).toPandas()
    got = {r.term: (int(r.df), r.idf) for r in wm.itertuples()}
    assert set(got) == set(oracle_index.wmetric)
    for t, (df, idf) in oracle_index.wmetric.items():
        assert got[t][0] == df, t
        assert abs(got[t][1] - idf) < 1e-12, t


def test_doc_meta_matches_oracle(spark, built_index, oracle_index):
    dm = spark.read.parquet(built_index.doc_meta).toPandas()
    got_t = {(r.conv_id, int(r.turn_idx)): r.title for r in dm.itertuples()}
    got_s = {(r.conv_id, int(r.turn_idx)): r.snippet for r in dm.itertuples()}
    for k, title in oracle_index.titles.items():
        assert got_t[k] == title, k
    for k, snip in oracle_index.snippets.items():
        assert got_s[k] == snip, k


def test_df_equals_distinct_term_doc(spark, built_index):
    # invariant: stored df == distinct (term, doc) count + 1 (quirk Q3)
    tf = spark.read.parquet(built_index.term_tf)
    counts = tf.groupBy("term").count().toPandas().set_index("term")["count"]
    wm = spark.read.parquet(built_index.wmetric).toPandas().set_index("term")
    assert ((wm["df"] - 1) == counts.reindex(wm.index)).all()


def _decoded_blocks(spark, paths):
    """Per term: its block rows in block order and the decoded keys/tfs of
    each block."""
    bl = spark.read.parquet(paths.blocks).toPandas()
    out = {}
    for term, g in bl.groupby("term"):
        g = g.sort_values("block_no").reset_index(drop=True)
        out[term] = (g, [decode_block(d, t) for d, t in zip(g.doc_bytes, g.tf_bytes)])
    return out


def test_postings_match_oracle(spark, built_index, oracle_index):
    """Decoded blocks hold exactly the oracle's postings: the same term
    set, and per term the same doc-ordered (doc, tf) list."""
    got = _decoded_blocks(spark, built_index)
    assert set(got) == set(oracle_index.postings)
    for term, plist in oracle_index.postings.items():
        blocks = got[term][1]
        keys = np.concatenate([k for k, _ in blocks])
        tfs = np.concatenate([t for _, t in blocks])
        exp_keys = np.array(
            [(int(c.split("-")[1]) << 6) + t for (c, t), _ in plist], dtype=np.uint64
        )
        exp_tfs = np.array([tf for _, tf in plist], dtype=np.uint64)
        assert len(keys) == len(exp_keys), term
        assert (keys == exp_keys).all(), term
        assert (tfs == exp_tfs).all(), term


def test_postings_doc_ordered(spark, built_index):
    """Block numbers are contiguous from 0 and doc keys strictly increase
    within and across block boundaries."""
    for term, (g, blocks) in _decoded_blocks(spark, built_index).items():
        assert (g["block_no"].to_numpy() == np.arange(len(g))).all(), term
        keys = np.concatenate([k for k, _ in blocks])
        assert (np.diff(keys.astype(np.int64)) > 0).all(), term
        kmin, kmax = g["key_min"].to_numpy(), g["key_max"].to_numpy()
        assert (kmax[:-1] < kmin[1:]).all(), term


def test_blocks_roundtrip_to_postings(spark, built_index, oracle_index):
    """Each block's skip metadata (n, key_min, key_max) equals what
    its decoded postings say, and a term's blocks together hold its df."""
    for term, (g, blocks) in _decoded_blocks(spark, built_index).items():
        for r, (keys, tfs) in zip(g.itertuples(), blocks):
            assert r.n == len(keys) == len(tfs) > 0, (term, r.block_no)
            assert r.key_min == int(keys[0]) and r.key_max == int(keys[-1]), term
        assert int(g["n"].sum()) == len(oracle_index.postings[term]), term


def test_manifest_written_and_resume_skips(spark, built_index, xs_df, dictionary):
    from holi_search_engine_spark.plans.index_build import build_index

    manifest_files = sorted(glob.glob(os.path.join(built_index.manifest, "*.json")))
    assert manifest_files
    stage_a = json.load(open(os.path.join(built_index.manifest, "stage_a.json")))
    assert stage_a["status"] == "done"
    assert stage_a["n_turns"] > 0 and stage_a["turns_per_sec"] > 0
    bucket_manifests = [m for m in manifest_files if "blocks_bucket" in m]
    assert len(bucket_manifests) == 2
    rec = json.load(open(bucket_manifests[0]))
    assert rec["n_terms"] > 0 and rec["n_blocks"] > 0 and rec["n_postings"] > 0
    meta = json.load(open(built_index.meta_json))
    assert rec["avgdl"] == meta["avgdl"]
    # resume: all stages done → rebuild touches nothing (mtimes unchanged)
    mtimes = {m: os.path.getmtime(m) for m in manifest_files}
    build_index(spark, xs_df, built_index.root, dictionary, buckets=2)
    for m, t in mtimes.items():
        assert os.path.getmtime(m) == t, f"resume re-ran {m}"


def test_resume_rebuilds_only_invalidated_bucket(spark, xs_df, dictionary, tmp_path):
    """Deleting one bucket's manifest → rebuild touches only that bucket."""
    from holi_search_engine_spark.plans.index_build import build_index

    out = str(tmp_path / "idx_resume")
    paths = build_index(spark, xs_df, out, dictionary, buckets=2)
    m0 = os.path.join(paths.manifest, "blocks_bucket_0000.json")
    m1 = os.path.join(paths.manifest, "blocks_bucket_0001.json")
    t0_before = os.path.getmtime(m0)
    os.remove(m1)
    before = _blocks_frame(spark, paths)
    build_index(spark, xs_df, out, dictionary, buckets=2)
    assert os.path.getmtime(m0) == t0_before  # untouched bucket skipped
    assert os.path.exists(m1)  # invalidated bucket rebuilt
    # content identical after the partial rebuild
    pd.testing.assert_frame_equal(_blocks_frame(spark, paths), before, check_exact=True)


def test_per_row_invariant_roundtrip(spark, xs_df, xs_pdf):
    """North-rule per-row invariant: per-turn text equality under stable
    (conv_id, turn_idx) ordering after a Spark round-trip."""
    back = (
        xs_df.select("conv_id", "turn_idx", "text")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    src = (
        xs_pdf[["conv_id", "turn_idx", "text"]]
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert (back["conv_id"] == src["conv_id"]).all()
    assert (back["turn_idx"].to_numpy() == src["turn_idx"].to_numpy()).all()
    assert (back["text"] == src["text"]).all()


def test_build_deterministic_across_parallelism(
    spark, xs_df, dictionary, tmp_path, built_index
):
    """Same input at different shuffle parallelism ⇒ identical index content
    (needed for the scaling-efficiency comparison to be valid)."""
    from holi_search_engine_spark.plans.index_build import build_index

    out2 = str(tmp_path / "idx_par2")
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        p2 = build_index(spark, xs_df.repartition(3), out2, dictionary, buckets=2)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)

    pd.testing.assert_frame_equal(
        _blocks_frame(spark, p2), _blocks_frame(spark, built_index), check_exact=True
    )


def test_degenerate_corpus_builds_empty_index(spark, dictionary, tmp_path):
    """A corpus whose texts tokenize to nothing must still produce
    schema-full artifacts every reader can open, plus empty query results
    (not a schema-inference crash on bare directories)."""
    from holi_search_engine_spark.plans.index_build import build_index
    from holi_search_engine_spark.query.bm25 import BM25Engine
    from holi_search_engine_spark.query.ranker import RankerEngine

    df = spark.createDataFrame(
        [(f"conv-{i:08d}", 0, "user", "", None, None) for i in range(4)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    out = str(tmp_path / "idx_degenerate")
    paths = build_index(spark, df, out, dictionary, buckets=2)
    for p in (paths.term_tf, paths.doc_stats, paths.blocks, paths.wmetric):
        assert spark.read.parquet(p).count() == 0, p
    assert len(RankerEngine(spark, paths).search("anything at all")) == 0
    assert len(BM25Engine(spark, paths).search("anything at all")) == 0


@pytest.mark.parametrize(
    "conv_ids, turn_idxs",
    [
        # 'a7'/'b7' would collide under first-digit-run packing
        (["a7", "b7", "conv-00000001"], [0, 0, 0]),
        # turn_idx >= 2^TURN_BITS would corrupt packed keys silently
        (["conv-00000001", "conv-00000001"], [0, 1 << TURN_BITS]),
        # no digits: under Spark 4's default ANSI mode a plain cast of the
        # extracted "" throws inside the check itself
        (["alpha", "conv-00000001"], [0, 1]),
    ],
    ids=["colliding_ids", "turn_idx_overflow", "digitless_ansi"],
)
def test_nonconforming_doc_ids_refused(spark, dictionary, tmp_path, conv_ids, turn_idxs):
    """A corpus that does not pack into the doc key is refused by the
    round-trip check with its ValueError (not a Spark cast error), before
    any term_tf is written."""
    from holi_search_engine_spark.plans.index_build import build_index

    pdf = pd.DataFrame(
        {
            "conv_id": conv_ids,
            "turn_idx": turn_idxs,
            "text": ["hello world beta gamma"] * len(conv_ids),
        }
    )
    out = str(tmp_path / "idx_refused")
    with pytest.raises(ValueError, match="round-trip"):
        build_index(spark, spark.createDataFrame(pdf), out, dictionary, buckets=2)
    assert not os.path.exists(os.path.join(out, "term_tf"))


def test_tokenize_terms_doc_key_guard_raises(spark):
    """Kernel defense-in-depth: a batch that breaks the packing contract
    raises instead of corrupting keys."""
    from holi_search_engine_spark.plans.index_build import tokenize_terms

    df = spark.createDataFrame(
        [("conv-00000001", 1 << TURN_BITS, "some words")],
        "conv_id string, turn_idx int, text string",
    )
    out = tokenize_terms(df, frozenset())
    with pytest.raises(Exception, match="doc_key packing violated"):
        out.collect()
