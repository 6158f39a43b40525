"""Structured Streaming: incremental index deltas converge to the batch
build, and watermarked windowed aggregation matches the batch window agg."""

import os
import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


def _index_tables(spark, paths) -> dict:
    """Blocks, wmetric, doc_stats and doc_meta of an index in a canonical
    row order."""
    return {
        name: spark.read.parquet(path).toPandas().sort_values(order).reset_index(drop=True)
        for name, path, order in (
            ("blocks", paths.blocks, ["term", "block_no"]),
            ("wmetric", paths.wmetric, ["term"]),
            ("doc_stats", paths.doc_stats, ["doc_key"]),
            ("doc_meta", paths.doc_meta, ["doc_key"]),
        )
    }


def _stream_in(spark, pdf, inbox, paths, dictionary, buckets):
    """Land ``pdf`` as a new file drop and stream it into the index."""
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(str(inbox))
    from holi_search_engine_spark.streaming.incremental import stream_transcript_deltas

    q = stream_transcript_deltas(spark, str(inbox), paths, dictionary, buckets=buckets)
    q.awaitTermination(120)


def test_incremental_index_converges_to_batch(
    spark, xs_pdf, dictionary, tmp_path
):
    """Stream the corpus in two file drops; after refresh_global_stats and
    the resumed build, the block index, wmetric, doc_stats and doc_meta
    (with its stored doc_key) equal a one-shot batch build over the full
    corpus: bytes, ints and strings exactly, float columns within 1e-9."""
    from holi_search_engine_spark.plans.index_build import build_index
    from holi_search_engine_spark.streaming.incremental import refresh_global_stats

    pdf = xs_pdf.copy()
    pdf["ts"] = pdf["ts"].dt.tz_localize(None)
    half = pdf["conv_id"] < "conv-00000025"
    part1, part2 = pdf[half], pdf[~half]
    idx_dir = str(tmp_path / "idx_stream")

    # bootstrap: batch-build on the first half, then stream the second in
    paths = build_index(spark, spark.createDataFrame(part1), idx_dir, dictionary, buckets=2)
    _stream_in(spark, part2, tmp_path / "inbox", paths, dictionary, buckets=2)
    refresh_global_stats(spark, paths)

    # the invalidated buckets are rebuilt; stage A must NOT rerun (its
    # manifest still stands)
    stage_a = os.path.join(paths.manifest, "stage_a.json")
    mtime = os.path.getmtime(stage_a)
    df_all = spark.createDataFrame(pdf)
    build_index(spark, df_all, idx_dir, dictionary, buckets=2)
    assert os.path.getmtime(stage_a) == mtime

    batch = build_index(spark, df_all, str(tmp_path / "idx_batch"), dictionary, buckets=2)
    got, exp = _index_tables(spark, paths), _index_tables(spark, batch)
    for name in exp:
        pd.testing.assert_frame_equal(
            got[name], exp[name], check_exact=False, rtol=0, atol=1e-9, obj=name
        )


def test_ingest_rebuilds_stale_bm25_bounds(spark, xs_pdf, dictionary, vocabulary, tmp_path):
    """Each block's ub_bm25 is computed with the avgdl current at build
    time.  A drop of long single-term turns touches one bucket but moves
    avgdl for all of them: after stream → refresh_global_stats →
    build_index, the bounds of the buckets the stream did not touch must
    be rebuilt too, or block-max WAND prunes with wrong bounds."""
    from holi_search_engine_spark.plans.compression import (
        BM25_B, BM25_K1, DocKeyLookup, decode_block,
    )
    from holi_search_engine_spark.plans.index_build import build_index, read_meta
    from holi_search_engine_spark.query.bm25 import BM25Engine
    from holi_search_engine_spark.streaming.incremental import refresh_global_stats

    buckets = 8
    pdf = xs_pdf.copy()
    pdf["ts"] = pdf["ts"].dt.tz_localize(None)
    paths = build_index(
        spark, spark.createDataFrame(pdf), str(tmp_path / "idx"), dictionary, buckets=buckets
    )
    avgdl0 = read_meta(paths)["avgdl"]
    drop = pdf[pdf["conv_id"] < "conv-00000003"].copy()
    drop["conv_id"] = drop["conv_id"].str.replace("conv-0000", "conv-0001")
    drop["text"] = " ".join([vocabulary[2000]] * 400)
    _stream_in(spark, drop, tmp_path / "inbox", paths, dictionary, buckets)
    kept = [
        b for b in range(buckets)
        if os.path.exists(os.path.join(paths.manifest, f"blocks_bucket_{b:04d}.json"))
    ]
    assert len(kept) == buckets - 1  # the one-term drop touched one bucket
    refresh_global_stats(spark, paths)
    meta = read_meta(paths)
    assert meta["avgdl"] > 1.05 * avgdl0
    build_index(spark, spark.createDataFrame(pd.concat([pdf, drop])), paths.root,
                dictionary, buckets=buckets)

    ds = spark.read.parquet(paths.doc_stats).toPandas()
    dl = DocKeyLookup(ds["doc_key"].to_numpy(), ds["dl"].to_numpy(dtype=float))
    blocks = spark.read.parquet(paths.blocks).toPandas()
    assert set(blocks["bucket"]) == set(range(buckets))
    for row in blocks.itertuples():
        keys, tfs = decode_block(row.doc_bytes, row.tf_bytes)
        tf = tfs.astype(float)
        norm = 1.0 - BM25_B + BM25_B * dl(keys.astype(np.int64)) / meta["avgdl"]
        ub = float(np.max(tf * (BM25_K1 + 1.0) / (tf + BM25_K1 * norm)))
        assert abs(ub - row.ub_bm25) <= 1e-9, (row.term, row.bucket, ub, row.ub_bm25)

    # the symptom: WAND top-k equals exhaustive scoring on terms of the
    # untouched buckets
    eng = BM25Engine(spark, paths)
    terms = sorted(blocks.loc[blocks["bucket"].isin(kept), "term"].unique())
    rng = np.random.default_rng(5)
    for _ in range(200):
        q = " ".join(rng.choice(terms, 2, replace=False))
        got, exp = eng.search(q, 10), eng.search_bruteforce(q, 10)
        assert list(got["conv_id"]) == list(exp["conv_id"]), q
        assert list(got["turn_idx"]) == list(exp["turn_idx"]), q


def _with_tokenless_turn(pdf, conv_id):
    """``pdf`` plus one turn whose text holds no token: the index has no
    doc_stats row for it, but it counts in N."""
    row = pdf.iloc[[0]].assign(conv_id=conv_id, turn_idx=pdf["turn_idx"].iloc[:1] * 0, text="!!! ???")
    return pd.concat([pdf, row], ignore_index=True)


@pytest.mark.parametrize("n_for_idf", [None, 462_821])
def test_refresh_without_drop_changes_nothing(spark, xs_pdf, dictionary, tmp_path, n_for_idf):
    """N is the turn count: refresh_global_stats on an index no drop
    reached leaves ``_meta.json`` and wmetric as the build wrote them, for
    a corpus with a token-less turn and for an explicit idf corpus size."""
    from holi_search_engine_spark.plans.index_build import build_index, read_meta
    from holi_search_engine_spark.streaming.incremental import refresh_global_stats

    pdf = xs_pdf[xs_pdf["conv_id"] < "conv-00000004"].copy()
    pdf["ts"] = pdf["ts"].dt.tz_localize(None)
    pdf = _with_tokenless_turn(pdf, "conv-00000004")
    paths = build_index(
        spark, spark.createDataFrame(pdf), str(tmp_path / "idx"), dictionary,
        buckets=2, n_for_idf=n_for_idf,
    )
    assert spark.read.parquet(paths.doc_stats).count() == len(pdf) - 1
    meta0, wm0 = read_meta(paths), _index_tables(spark, paths)["wmetric"]
    refresh_global_stats(spark, paths)
    assert read_meta(paths) == meta0
    assert meta0["n_docs"] == len(pdf)
    assert meta0["n_for_idf"] == (n_for_idf or len(pdf))
    pd.testing.assert_frame_equal(_index_tables(spark, paths)["wmetric"], wm0, check_exact=True)


def test_drop_with_tokenless_turn_matches_oracle(
    spark, xs_pdf, dictionary, vocabulary, tmp_path
):
    """Stream a drop that holds a token-less turn, refresh and resume the
    build: the ranker is rank-identical to the oracle over the union, and
    BM25 scores as an exhaustive scorer over the oracle's postings with
    N = the union's turn count."""
    import math

    from holi_search_engine_spark.corpus import make_query_fixtures
    from holi_search_engine_spark.oracle import pandas_oracle as O
    from holi_search_engine_spark.plans.compression import BM25_B, BM25_K1
    from holi_search_engine_spark.plans.index_build import build_index, read_meta
    from holi_search_engine_spark.query.bm25 import BM25Engine, bm25_terms
    from holi_search_engine_spark.query.ranker import RankerEngine
    from holi_search_engine_spark.streaming.incremental import refresh_global_stats

    pdf = xs_pdf.copy()
    pdf["ts"] = pdf["ts"].dt.tz_localize(None)
    half = pdf["conv_id"] < "conv-00000025"
    base, drop = pdf[half], _with_tokenless_turn(pdf[~half], "conv-00000900")
    union = pd.concat([base, drop], ignore_index=True)
    paths = build_index(
        spark, spark.createDataFrame(base), str(tmp_path / "idx"), dictionary, buckets=2
    )
    _stream_in(spark, drop, tmp_path / "inbox", paths, dictionary, buckets=2)
    refresh_global_stats(spark, paths)
    build_index(spark, spark.createDataFrame(union), paths.root, dictionary, buckets=2)
    meta = read_meta(paths)
    assert meta["n_docs"] == meta["n_for_idf"] == len(union)

    oracle = O.build_index(
        [((r.conv_id, int(r.turn_idx)), r.text) for r in union.itertuples()], dictionary
    )
    queries = [q for _, q in make_query_fixtures(vocabulary)]
    ranker = RankerEngine(spark, paths, preload=True)
    for q in queries:
        got, exp = ranker.search(q), O.search(oracle, q)
        assert list(zip(got["conv_id"], got["turn_idx"])) == [c.doc for c in exp], q
        for g, c in zip(got["score"], exp):
            assert abs(g - c.score()) < 1e-9, q

    # exhaustive BM25 over the oracle's postings
    dl: dict = {}
    for plist in oracle.postings.values():
        for doc, tf in plist:
            dl[doc] = dl.get(doc, 0) + tf
    avgdl = sum(dl.values()) / len(dl)
    bm25 = BM25Engine(spark, paths)
    for q in queries:
        exp: dict = {}
        for t in bm25_terms(q):
            plist = oracle.postings.get(t, [])
            idf = math.log(1.0 + (len(union) - len(plist) + 0.5) / (len(plist) + 0.5))
            for doc, tf in plist:
                norm = 1.0 - BM25_B + BM25_B * dl[doc] / avgdl
                exp[doc] = exp.get(doc, 0.0) + idf * tf * (BM25_K1 + 1.0) / (tf + BM25_K1 * norm)
        top = sorted(exp.values(), reverse=True)[:10]
        got = bm25.search(q, 10)
        np.testing.assert_allclose(got["score"], top, rtol=0, atol=1e-9, err_msg=q)
        for c, t, score in zip(got["conv_id"], got["turn_idx"], got["score"]):
            assert abs(exp[(c, int(t))] - score) < 1e-9, q


def test_windowed_stream_matches_batch(spark, tmp_path):
    from holi_search_engine_spark.streaming.incremental import stream_events_windowed

    # the file stream source requires a directory of files
    src_dir = tmp_path / "events_in"
    src_dir.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet", src_dir / "part-0.parquet")
    src = str(src_dir)
    out = str(tmp_path / "win_out")
    ckpt = str(tmp_path / "win_ckpt")
    q = stream_events_windowed(spark, src, out, ckpt, watermark="0 seconds")
    q.awaitTermination(120)
    got = (
        spark.read.parquet(out)
        .groupBy("window_start", "event_type")
        .agg(F.sum("n").alias("n"), F.round(F.sum("total"), 2).alias("total"))
        .orderBy("window_start", "event_type")
        .toPandas()
    )
    exp = (
        spark.read.parquet(src)
        .groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .orderBy("window_start", "event_type")
        .toPandas()
    )
    # append mode withholds windows the watermark has not passed — the
    # final window per event_type may be absent; every EMITTED window must
    # match the batch aggregation exactly
    n_types = exp["event_type"].nunique()
    assert len(got) >= len(exp) - n_types
    merged = got.merge(
        exp, on=["window_start", "event_type"], suffixes=("_s", "_b"), how="left"
    )
    assert merged["n_b"].notna().all()  # no spurious windows
    assert (merged["n_s"].to_numpy() == merged["n_b"].to_numpy()).all()
    assert (abs(merged["total_s"].to_numpy() - merged["total_b"].to_numpy()) < 1e-6).all()


def test_stream_sessionize_stateful(spark, tmp_path):
    """applyInPandasWithState sessionizer: sessions close when a later
    event exceeds the gap (within or across micro-batches); open sessions
    persist as state between batches."""
    import pandas as pd

    from holi_search_engine_spark.streaming.incremental import stream_sessionize

    inbox = tmp_path / "events_in"
    inbox.mkdir()
    out = str(tmp_path / "sessions_out")
    ckpt = str(tmp_path / "ckpt")

    def drop(name, rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
            str(inbox / name)
        )

    t0 = "2026-01-01 10:00:00"
    # user 1: two events 5 min apart (one session), then a gap > 30 min
    # inside the SAME batch closes it and opens a second
    drop(
        "b1",
        [
            (1, t0, 1, "click", 1.0, "{}"),
            (2, "2026-01-01 10:05:00", 1, "click", 2.0, "{}"),
            (3, "2026-01-01 11:00:00", 1, "click", 4.0, "{}"),
            (4, t0, 2, "view", 10.0, "{}"),
        ],
    )
    q = stream_sessionize(spark, str(inbox / "*"), out, ckpt, gap_sec=1800)
    q.awaitTermination(120)

    got = spark.read.parquet(out).toPandas()
    # only user 1's FIRST session is closed; user 1's second and user 2's
    # sessions are still open state
    assert len(got) == 1
    r = got.iloc[0]
    assert (r["user_id"], r["n_events"], r["total_value"]) == (1, 2, 3.0)
    assert str(r["session_start"]).startswith("2026-01-01 10:00:00")
    assert str(r["session_end"]).startswith("2026-01-01 10:05:00")

    # batch 2: a much-later event for user 2 closes their open session
    drop("b2", [(5, "2026-01-01 13:00:00", 2, "view", 7.0, "{}")])
    q = stream_sessionize(spark, str(inbox / "*"), out, ckpt, gap_sec=1800)
    q.awaitTermination(120)

    got = spark.read.parquet(out).toPandas().sort_values("user_id")
    closed2 = got[got["user_id"] == 2]
    assert len(closed2) == 1
    assert (closed2.iloc[0]["n_events"], closed2.iloc[0]["total_value"]) == (1, 10.0)


def test_stream_dedup_across_batches(spark, tmp_path):
    # e2 is re-delivered in a LATER file (a separate micro-batch under
    # availableNow's file ordering) within the watermark window: state
    # carried across batches must drop it; e4's id is new and survives
    import datetime as dt

    from holi_search_engine_spark.streaming.incremental import stream_dedup

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    batch1 = spark.createDataFrame(
        [
            (1, t0, 10, "click", 1.0, "{}"),
            (2, t0 + dt.timedelta(minutes=1), 10, "click", 2.0, "{}"),
        ],
        schema,
    )
    batch2 = spark.createDataFrame(
        [
            (2, t0 + dt.timedelta(minutes=2), 10, "click", 2.0, "{}"),  # dupe
            (4, t0 + dt.timedelta(minutes=3), 11, "view", 4.0, "{}"),
        ],
        schema,
    )
    inbox = tmp_path / "in"
    inbox.mkdir()
    batch1.coalesce(1).write.parquet(str(inbox / "f1.parquet"))
    batch2.coalesce(1).write.parquet(str(inbox / "f2.parquet"))
    q = stream_dedup(
        spark, str(inbox / "*"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(300)
    got = sorted(
        r.event_id for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    assert got == [1, 2, 4]


def test_gate_stream_entries_drain_within_budget(spark):
    """The correctness-gate streaming entries must finish their seeded
    availableNow drains well inside the gate's 600 s budget (round-2
    verdict #9: a driver-side hang here would eat the verification
    window).  The 300 s cap is a hang guard sized for the host's
    documented >2x wall-time drift, not a latency target — the dev-box
    numbers are ~30-45 s each."""
    import time

    from holi_search_engine_spark.operators.events import (
        STREAM_USER_CAP,
        events_stream_dedup,
        events_stream_sessionize,
    )

    sf = "/root/testdata/sf0.01"
    t0 = time.time()
    sess = events_stream_sessionize(spark, sf)
    n_sess = sess.count()
    t_sess = time.time() - t0
    assert t_sess < 300, f"sessionize drain took {t_sess:.0f}s"
    assert n_sess > 100
    assert sess.where(f"user_id >= {STREAM_USER_CAP}").count() == 0

    t0 = time.time()
    ded = events_stream_dedup(spark, sf)
    n_ded = ded.count()
    t_ded = time.time() - t0
    assert t_ded < 300, f"dedup drain took {t_ded:.0f}s"
    # dedup must collapse the seeded re-deliveries back to the originals
    exp = (
        spark.read.parquet(f"{sf}/events.parquet")
        .where(f"user_id < {STREAM_USER_CAP}")
        .count()
    )
    assert n_ded == exp


def test_stream_refuses_drop_that_breaks_doc_key(spark, xs_pdf, dictionary, tmp_path):
    """A drop whose conv_ids do not pack into the doc key ('conv-1' packs
    to conv-00000001's key) stops the stream before it writes anything,
    as the batch build refuses such a corpus: no doc key gains a second
    row."""
    from holi_search_engine_spark.plans.index_build import build_index

    pdf = xs_pdf.copy()
    pdf["ts"] = pdf["ts"].dt.tz_localize(None)
    base = pdf[pdf["conv_id"] < "conv-00000003"]
    paths = build_index(
        spark, spark.createDataFrame(base), str(tmp_path / "idx"), dictionary, buckets=2
    )
    before = {p: spark.read.parquet(p).count() for p in (paths.term_tf, paths.doc_stats, paths.doc_meta)}
    drop = base.assign(conv_id=base["conv_id"].str.replace("conv-0000000", "conv-"))
    with pytest.raises(Exception, match="round-trip"):
        _stream_in(spark, drop, tmp_path / "inbox", paths, dictionary, buckets=2)
    for p, n in before.items():
        assert spark.read.parquet(p).count() == n, p
