"""Distributed reference-semantics and BM25 search over the block index —
the path a 10^12-turn corpus needs when a Zipf-head term's posting list
cannot sit in driver memory.  Spark runs what grows with the corpus; the
per-query work on a bounded set of docs runs the single-node code.

Each semantics has ONE plan, and it scores a batch of queries; a single
query is a batch of one (:meth:`DistributedRanker.search`,
:func:`distributed_bm25_topk`).

Reference-semantics plan (:meth:`DistributedRanker.search_many`):
- block scan pruned TWICE to the union of the batch's lookup terms:
  partition pruning on ``bucket`` + predicate pushdown on ``term``;
- mapInPandas decode of only those blocks → (term, doc_key, tf) rows,
  fanned out to the queries that look each term up;
- candidate aggregation per (query, doc) (occurrence, first-term order
  for quirk Q5), with one pooled count action deciding the two-step
  expansion (re-run with stopwords included when candidates < 50,
  ``Ranker.java:177-200``) for every query at once;
- top-250 occurrence cut per query (rank window);
- one collect of the cut: per (query, doc) its occurrence, its
  term → tf map without the Q5-dropped hit, and its ntf, title and rank
  from left joins on the stored ``doc_key``.  The driver scores each
  query's cut with :func:`~.ranker.score_cut`, the scorer of
  ``RankerEngine.search``, so the two tiers answer bit-identically.

BM25 plan (:func:`distributed_bm25_topk_many`): one doc-key-range cogroup
whose kernel runs the single-node :func:`~.bm25.block_sweep_topk` for
every query per range, then a driver merge of the per-range local top-ks.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.xxhash import term_bucket
from ..plans.compression import DocKeyLookup, decode_block, doc_key_columns
from ..plans.index_build import IndexPaths, read_meta
from ..sources.catalog import read_table, table_exists
from .bm25 import BM25_B, _TermSweep, bm25_idf, bm25_terms, block_sweep_topk
from .ranker import EXPAND_THRESHOLD, TOP_CUT, empty_result, plan_query, score_cut

_DECODE_SCHEMA = "term string, doc_key long, tf double"


def _decode_blocks(batches):
    for pdf in batches:
        if not len(pdf):
            continue
        outs = []
        for term, db, tb in zip(pdf["term"], pdf["doc_bytes"], pdf["tf_bytes"]):
            keys, tfs = decode_block(db, tb)
            outs.append(
                pd.DataFrame(
                    {
                        "term": term,
                        "doc_key": keys.astype(np.int64),
                        "tf": tfs.astype(np.float64),
                    }
                )
            )
        yield pd.concat(outs, ignore_index=True)


class DistributedRanker:
    def __init__(self, spark: SparkSession, paths: IndexPaths) -> None:
        self.spark = spark
        self.paths = paths
        meta = read_meta(paths)
        self.doc_cols: list[str] = meta["doc_cols"]
        self.buckets: int = meta["buckets"]
        # optional static prior (Ranker.java:112-120); absent ⇒ 0
        self._has_pagerank = table_exists(spark, paths.pageranks)

    def _term_buckets(self, terms: list[str]) -> dict[str, int]:
        # driver-side pure-Python xxhash64 (validated bit-identical to
        # F.xxhash64 in tests/test_distributed.py) — the previous
        # createDataFrame(...).collect() form submitted a ~100 ms Spark
        # job per query just to evaluate pmod(xxhash64(term), buckets),
        # dominating a serving path whose p95 budget is ~10 ms
        return {t: term_bucket(t, self.buckets) for t in terms}

    def search(self, query: str, limit: int | None = None) -> pd.DataFrame:
        """Reference-semantics search for one query: :meth:`search_many`
        over a batch of one, without the ``query_id`` column."""
        return self.search_many([query], limit).drop(columns="query_id")

    def _postings_df_many(self, qid_orders: dict[int, list[str]]) -> DataFrame:
        """(query_id, term, ord, doc_key, tf) for MANY queries' lookup
        lists in one block scan: the scan prunes to the UNION of the
        batch's buckets+terms, decodes each block ONCE, and the broadcast
        (query_id, term, ord) map fans a decoded term row out to exactly
        the queries that look it up — per-query ``ord`` preserved, so the
        quirk-Q5 first-term-drop stays per query."""
        union_terms = sorted({t for ts in qid_orders.values() for t in ts})
        tb = self._term_buckets(union_terms)
        blocks = (
            read_table(self.spark, self.paths.blocks)
            .where(F.col("bucket").isin(sorted(set(tb.values()))))
            .where(F.col("term").isin(union_terms))
            .select("term", "doc_bytes", "tf_bytes")
        )
        decoded = blocks.mapInPandas(_decode_blocks, schema=_DECODE_SCHEMA)
        odf = self.spark.createDataFrame(
            [
                (qid, t, o)
                for qid, ts in qid_orders.items()
                for o, t in enumerate(ts)
            ],
            "query_id int, term string, ord int",
        )
        return decoded.join(F.broadcast(odf), "term")

    def search_many(
        self, queries: list[str], limit: int | None = None
    ) -> pd.DataFrame:
        """Reference-semantics search for a BATCH of queries in 3 Spark
        actions however many queries it holds: one pooled candidate-count
        action (all queries' first passes in one scan), one pruned
        wmetric read for the union of the batch's words, and one collect
        of the cut docs, which also re-scans the blocks for just the
        queries the reference's ``numResults < 50`` branch re-runs.

        Spark builds each query's 250-doc cut (expansion control flow, Q5
        first-term drop per query); the driver scores it with
        :func:`~.ranker.score_cut`, the scorer of ``RankerEngine.search``,
        so each query's rows equal its single-node answer exactly.
        Output adds a leading ``query_id`` (position in ``queries``);
        ``limit`` applies per query.  Queries with no candidates
        contribute zero rows.  The cached postings are released on every
        exit.
        """
        from pyspark.sql import Window

        plans = {qid: plan_query(q) for qid, q in enumerate(queries)}
        plans = {qid: p for qid, p in plans.items() if p is not None}
        if not plans:
            return self._no_rows()

        def candidates(hits: DataFrame) -> DataFrame:
            return hits.groupBy("query_id", "doc_key").agg(
                F.count(F.lit(1)).alias("occurrence"),
                F.min("ord").alias("first_ord"),
            )

        hits1 = self._postings_df_many(
            {qid: p.first_order for qid, p in plans.items()}
        ).cache()
        hits2 = None
        try:
            hits, cand = hits1, candidates(hits1)
            counts = {
                int(r["query_id"]): int(r["n"])
                for r in cand.groupBy("query_id")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            # expansion branch (Q4 stemming is ∅); skipped only when the
            # re-run would iterate identically — the reference's second
            # pass iterates words_set in COLLECTION-constructor bucket
            # order, which can differ from the first pass's add-loop order
            # at a capacity boundary (see RankerEngine.search), shifting
            # the Q5 tf-drops
            expand = {
                qid
                for qid, p in plans.items()
                if counts.get(qid, 0) < EXPAND_THRESHOLD
                and p.first_order != p.words_set_order
            }
            # a query with no first-pass candidates that does not expand
            # has no rows (the reference's numResults == 0 return)
            plans = {
                qid: p for qid, p in plans.items() if qid in counts or qid in expand
            }
            if not plans:
                return self._no_rows()
            if expand:
                hits2 = self._postings_df_many(
                    {qid: plans[qid].words_set_order for qid in expand}
                ).cache()
                keep1 = [qid for qid in plans if qid not in expand]
                hits = hits1.where(F.col("query_id").isin(keep1)).unionByName(hits2)
                cand = cand.where(F.col("query_id").isin(keep1)).unionByName(
                    candidates(hits2)
                )

            cut_rank = F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("occurrence").desc(), "doc_key"
                )
            )
            cut = (
                cand.withColumn("_rk", cut_rank)
                .where(F.col("_rk") <= TOP_CUT)
                .drop("_rk")
            )

            wm_pdf = (
                read_table(self.spark, self.paths.wmetric)
                .where(F.col("term").isin(sorted(
                    {w for p in plans.values() for w in p.word_count}
                )))
                .select("term", "idf")
                .toPandas()
            )
            idf = {t: float(i) for t, i in zip(wm_pdf["term"], wm_pdf["idf"])}

            # one row per cut doc: its tfs by term, Q5's dropped hit (the
            # first term in lookup order) left out, and its per-doc values
            kept_tf = F.when(
                F.col("ord") != F.col("first_ord"), F.struct("term", "tf")
            )
            rows = (
                cut.join(hits, ["query_id", "doc_key"])
                .groupBy("query_id", "doc_key", "occurrence")
                .agg(F.map_from_entries(F.collect_list(kept_tf)).alias("tf_by_term"))
                .join(self._doc_table(self.paths.doc_stats, "ntf"), "doc_key", "left")
                .join(self._doc_table(self.paths.doc_meta, "title"), "doc_key", "left")
            )
            if self._has_pagerank:
                rows = rows.join(
                    self._doc_table(self.paths.pageranks, "rank"), "doc_key", "left"
                )
            pdf = rows.toPandas()
        finally:
            hits1.unpersist()
            if hits2 is not None:
                hits2.unpersist()

        parts = []
        for qid, g in pdf.groupby("query_id", sort=True):
            keys = g["doc_key"].to_numpy(dtype=np.int64)
            tfs: dict[str, np.ndarray] = {}
            for i, tf_by_term in enumerate(g["tf_by_term"]):
                for t, tf in tf_by_term.items():
                    if t not in tfs:
                        tfs[t] = np.full(len(keys), np.nan)
                    tfs[t][i] = tf
            if self._has_pagerank:
                rank = g["rank"].to_numpy(dtype=np.float64)
                page_rank = np.where(np.isnan(rank), 0.0, rank)
            else:
                page_rank = np.zeros(len(keys), dtype=np.float64)
            part = score_cut(
                plans[qid],
                keys,
                g["occurrence"].to_numpy(dtype=np.int64),
                tfs,
                idf,
                g["ntf"].to_numpy(dtype=np.float64),
                [t if isinstance(t, str) else "" for t in g["title"]],
                page_rank,
                self.doc_cols,
                limit,
            )
            part.insert(0, "query_id", np.full(len(part), qid, dtype=np.int32))
            parts.append(part)
        return pd.concat(parts, ignore_index=True) if parts else self._no_rows()

    def _doc_table(self, path: str, col: str) -> DataFrame:
        return read_table(self.spark, path).select("doc_key", col)

    def _no_rows(self) -> pd.DataFrame:
        out = empty_result(self.doc_cols)
        out.insert(0, "query_id", pd.Series([], dtype="int32"))
        return out


def doc_range_bounds(dl: DataFrame, r: int) -> list[tuple[int, int, int]]:
    """Disjoint, covering (range_id, lo, hi) doc-key ranges with ~equal
    DOC counts per range.

    Bounds come from doc_key QUANTILES, not a uniform key-space split:
    packed keys (``conv_num<<6|turn_idx``) are sparse and conv-id
    clustering skews uniform spans arbitrarily, while quantile cuts put
    ~1/r of the docs in every range at any key distribution — one cheap
    extra job over the doc_stats table.  Duplicate/out-of-range
    cuts collapse (fewer, still-covering ranges).  Empty table → [].
    """
    lo_hi = dl.agg(F.min("doc_key"), F.max("doc_key")).first()
    if lo_hi[0] is None:
        return []
    key_lo, key_hi = int(lo_hi[0]), int(lo_hi[1])
    cuts = (
        dl.stat.approxQuantile("doc_key", [i / r for i in range(1, r)], 0.001)
        if r > 1
        else []
    )
    edges = sorted({key_lo - 1, *(int(c) for c in cuts if key_lo <= c < key_hi),
                    key_hi})
    return [(i, edges[i] + 1, edges[i + 1]) for i in range(len(edges) - 1)]


def _bm25_scan_frames(
    spark: SparkSession,
    paths: IndexPaths,
    terms: list[str],
    n_ranges: int | None,
    meta: dict,
):
    """The scan/range setup of the local-topk plan: the df-1 idf-quirk
    undo, the quantile range bounds, the bucket-partition-pruned +
    term-pushed block scan, and the broadcast range joins.  Returns
    ``(w_by_term, blocks, dl_r)`` or None when nothing can score (no
    indexed terms / empty corpus)."""
    n_docs = meta["n_docs"]
    wm = (
        read_table(spark, paths.wmetric)
        .where(F.col("term").isin(terms))
        .select("term", "df")
        .toPandas()
    )
    # wmetric df carries the reference's +1 quirk; undo it for BM25 idf
    w_by_term = {
        t: bm25_idf(n_docs, int(d) - 1) for t, d in zip(wm["term"], wm["df"])
    }
    if not w_by_term:
        return None
    dl = read_table(spark, paths.doc_stats)
    r = n_ranges or spark.sparkContext.defaultParallelism
    bounds = doc_range_bounds(dl, r)
    if not bounds:  # empty corpus: build writes meta but no doc rows
        return None
    # two independent range frames: reusing one lineage on both cogroup
    # sides trips Spark's ambiguous-self-join check
    rdf = spark.createDataFrame(bounds, "range_id int, lo long, hi long")
    rdf_dl = spark.createDataFrame(bounds, "range_id int, lo long, hi long")
    # the block table is PARTITIONED by bucket: the driver-computed
    # term->bucket set (pure-Python xxhash64, no job) makes the scan list
    # only the query terms' bucket directories; the term IN-filter then
    # pushes into those partitions' row groups
    tb = sorted({term_bucket(t, meta["buckets"]) for t in w_by_term})
    blocks = (
        read_table(spark, paths.blocks)
        .where(F.col("bucket").isin(tb))
        .where(F.col("term").isin(list(w_by_term)))
        .select("term", "block_no", "key_min", "key_max", "ub_bm25",
                "doc_bytes", "tf_bytes")
        .join(
            F.broadcast(rdf),
            (F.col("key_max") >= F.col("lo")) & (F.col("key_min") <= F.col("hi")),
        )
    )
    dl_r = dl.join(
        F.broadcast(rdf_dl),
        (F.col("doc_key") >= F.col("lo")) & (F.col("doc_key") <= F.col("hi")),
    ).select("range_id", "doc_key", "dl")
    return w_by_term, blocks, dl_r


def distributed_bm25_local_topk_many(
    spark: SparkSession,
    paths: IndexPaths,
    queries: list[str],
    k: int = 10,
    n_ranges: int | None = None,
    meta: dict | None = None,
) -> DataFrame | None:
    """The Spark side of :func:`distributed_bm25_topk_many`: per-range
    local top-k rows ``(query_id, doc_key, score)`` for a batch of
    queries, BEFORE the driver merge.  Exposed separately so the plan
    audit can assert the job's physical shape (bucket partition pruning +
    term pushdown at the block scan, broadcast range join,
    cogroup→applyInPandas kernel) and the driver-contract entry can merge
    Spark-side.

    One pruned wmetric read for the union of the batch's terms, one
    range-bounds computation, one block scan pruned to the union's
    buckets+terms, one cogroup — and a term shared by multiple queries
    ships its blocks to a range task ONCE, where each query's sweep
    reuses the same block rows (block-max skipping keeps per-query decode
    sub-linear, so the duplicate decode across queries touching the same
    term is bounded by each sweep's own skip behavior).

    ``query_id`` is the position in ``queries``; a query with no
    tokenizable / indexed terms contributes zero rows.  Returns None when
    no query can produce rows (no terms / no matching terms / empty
    corpus).  ``meta`` lets the caller share its one artifact read.
    """
    if meta is None:
        meta = read_meta(paths)
    avgdl = meta.get("avgdl") or 1.0
    per_q_terms: dict[int, list[str]] = {}
    for qid, q in enumerate(queries):
        terms = bm25_terms(q)
        if terms:
            per_q_terms[qid] = terms
    union_terms = sorted({t for ts in per_q_terms.values() for t in ts})
    if not union_terms:
        return None
    frames = _bm25_scan_frames(spark, paths, union_terms, n_ranges, meta)
    if frames is None:
        return None
    w_by_term, blocks, dl_r = frames
    q_weights = {
        qid: {t: w_by_term[t] for t in ts if t in w_by_term}
        for qid, ts in per_q_terms.items()
    }
    q_weights = {qid: w for qid, w in q_weights.items() if w}
    if not q_weights:
        return None

    b_avgdl, b_qweights, b_k = float(avgdl), dict(q_weights), int(k)
    _empty = pd.DataFrame(
        {
            "query_id": pd.Series([], dtype="int32"),
            "doc_key": pd.Series([], dtype="int64"),
            "score": pd.Series([], dtype="float64"),
        }
    )

    def kernel(key, blocks_pdf, dl_pdf):
        if not len(blocks_pdf) or not len(dl_pdf):
            return _empty
        lo = int(blocks_pdf["lo"].iloc[0])
        hi = int(blocks_pdf["hi"].iloc[0])
        norms = DocKeyLookup(
            dl_pdf["doc_key"].to_numpy(dtype=np.int64),
            1.0 - BM25_B + BM25_B * dl_pdf["dl"].to_numpy(dtype=np.float64) / b_avgdl,
        )
        # group each term's blocks ONCE; every query's sweep over that
        # term re-reads the same (already materialized) group frame
        term_groups = {
            t: g.sort_values("block_no").reset_index(drop=True)
            for t, g in blocks_pdf.groupby("term", sort=False)
        }
        qids: list[int] = []
        keys: list[int] = []
        scores: list[float] = []
        for qid, weights in b_qweights.items():
            sweeps = [
                _TermSweep(term_groups[t], w, norms)
                for t, w in weights.items()
                if t in term_groups
            ]
            if not sweeps:
                continue
            for d, s in block_sweep_topk(sweeps, b_k, lo=lo, hi=hi):
                qids.append(qid)
                keys.append(d)
                scores.append(s)
        if not qids:
            return _empty
        return pd.DataFrame(
            {
                "query_id": pd.Series(qids, dtype="int32"),
                "doc_key": pd.Series(keys, dtype="int64"),
                "score": pd.Series(scores, dtype="float64"),
            }
        )

    return (
        blocks.groupBy("range_id")
        .cogroup(dl_r.groupBy("range_id"))
        .applyInPandas(kernel, schema="query_id int, doc_key long, score double")
    )


#: past this many candidate rows (|queries|·n_ranges·k) the batch merge
#: pre-reduces Spark-side so the driver never collects more than the
#: final |queries|·k rows (~2M rows ≈ 50 MB of (int,long,double) — well
#: inside any driver, with the window job costing one tiny shuffle)
_DRIVER_MERGE_ROWS = 2_000_000


def distributed_bm25_topk_many(
    spark: SparkSession,
    paths: IndexPaths,
    queries: list[str],
    k: int = 10,
    n_ranges: int | None = None,
) -> pd.DataFrame:
    """Exact distributed BM25 top-k for a BATCH of queries in one Spark
    job, over the EXISTING term-bucketed block index by partitioning the
    DOC-KEY SPACE at query time; returns ``(query_id, <doc_cols...>,
    score)`` with each query's rows in rank order (score desc, doc asc —
    the engine's tie-break).

    Each range task receives only the batch's blocks overlapping its key
    range (``key_min``/``key_max`` are plain columns, so the overlap
    predicate prunes at the scan) plus its range's slice of the
    doc-length table, runs the same :func:`~..query.bm25.block_sweep_topk`
    per query bounded to the range, and emits local top-ks.  Every
    posting of a doc shares its key, so a range sees each doc's full
    score or none of it — the union of per-range top-ks contains the
    global top-k, and a tiny driver merge of ≤ |queries|·r·k rows
    finishes exactly (scores AND doc-asc tie-breaks identical to
    ``BM25Engine.search``).  Past ``_DRIVER_MERGE_ROWS`` candidate rows
    (a relevance sweep over tens of thousands of queries at high range
    counts) the per-query top-k is taken Spark-side first — a rank
    window over (query_id) on the already-tiny local-topk frame — so the
    driver only ever collects the final |queries|·k rows.  Queries with
    no indexed terms yield zero rows for their ``query_id``.

    This is the 10^12-turn path: no executor ever holds more than its
    range's blocks, the hot term's list splits across ranges, and adding
    executors adds ranges.  Tested rank-identical to the single-node
    engine in ``tests/test_distributed.py``; physical shape locked in
    PLANS.md / ``tests/test_plans.py`` (bucket partition pruning, term
    pushdown, broadcast range join, cogroup kernel).
    """
    from pyspark.sql import Window

    meta = read_meta(paths)
    doc_cols = meta["doc_cols"]
    empty = pd.DataFrame(
        {
            "query_id": pd.Series([], dtype="int32"),
            **doc_key_columns(np.array([], dtype=np.int64), doc_cols),
            "score": pd.Series([], dtype="float64"),
        }
    )
    local = distributed_bm25_local_topk_many(
        spark, paths, queries, k, n_ranges, meta=meta
    )
    if local is None:
        return empty
    r = n_ranges or spark.sparkContext.defaultParallelism
    if len(queries) * r * k > _DRIVER_MERGE_ROWS:
        rank = F.row_number().over(
            Window.partitionBy("query_id").orderBy(
                F.col("score").desc(), F.col("doc_key")
            )
        )
        local = local.withColumn("_rk", rank).where(F.col("_rk") <= k).drop("_rk")
    rows = local.collect()
    if not rows:
        return empty
    pdf = pd.DataFrame(
        {
            "query_id": [r["query_id"] for r in rows],
            "doc_key": [r["doc_key"] for r in rows],
            "score": [r["score"] for r in rows],
        }
    )
    out_parts = []
    for qid, g in pdf.groupby("query_id", sort=True):
        top = g.sort_values(
            ["score", "doc_key"], ascending=[False, True], kind="mergesort"
        ).head(k)
        out_parts.append(
            pd.DataFrame(
                {
                    "query_id": np.full(len(top), qid, dtype=np.int32),
                    **doc_key_columns(top["doc_key"].to_numpy(dtype=np.int64), doc_cols),
                    "score": top["score"].to_numpy(dtype=np.float64),
                }
            )
        )
    return pd.concat(out_parts, ignore_index=True)


def distributed_bm25_topk(
    spark: SparkSession,
    paths: IndexPaths,
    query: str,
    k: int = 10,
    n_ranges: int | None = None,
) -> pd.DataFrame:
    """Exact distributed BM25 top-k for one query: a batch of one through
    :func:`distributed_bm25_topk_many`; returns ``(<doc_cols...>,
    score)`` in rank order."""
    return distributed_bm25_topk_many(spark, paths, [query], k, n_ranges).drop(
        columns="query_id"
    )
