"""Distributed reference-semantics and BM25 search over the block index —
the path a 10^12-turn corpus needs when a Zipf-head term's posting list
cannot sit in driver memory.

Each semantics has ONE plan, and it scores a batch of queries; a single
query is a batch of one (:meth:`DistributedRanker.search`,
:func:`distributed_bm25_topk`).  Both plans have one shape: a block scan
pruned to the batch's buckets and terms and joined to the doc-key ranges
each block overlaps (:func:`_range_scan`), one kernel per range running
the single-node code for every query, and a driver merge of the ranges'
local top-ks.  Every posting of a doc shares its key, so a range
computes each of its docs exactly, and a doc of the global top-k is in
its range's top-k (the partial-aggregate-then-merge of "Cache-Efficient
Top-k Aggregation over High Cardinality Large Datasets", VLDB 2023).

- Reference semantics (:meth:`DistributedRanker.search_many`): the
  kernel runs :func:`~.ranker.candidates` and :func:`~.ranker.top_cut`;
  the driver scores each query's merged cut with
  :func:`~.ranker.score_cut`, as ``RankerEngine.search`` does.
- BM25 (:func:`distributed_bm25_topk_many`): the kernel, a cogroup with
  the range's doc lengths, runs :func:`~.bm25.block_sweep_topk`.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.xxhash import term_bucket
from ..plans.compression import DocKeyLookup, doc_key_columns
from ..plans.index_build import IndexPaths, read_meta
from ..sources.catalog import read_table, table_exists
from .bm25 import BM25_B, _TermSweep, bm25_idf, bm25_terms, block_sweep_topk
from .index_reader import BlockCache, _by_term, decode_postings
from .ranker import (
    QueryPlan,
    TitleWords,
    candidates,
    empty_result,
    plan_query,
    score_cut,
    top_cut,
)


class DistributedRanker:
    def __init__(self, spark: SparkSession, paths: IndexPaths) -> None:
        self.spark = spark
        self.paths = paths
        self.meta = read_meta(paths)
        self.doc_cols: list[str] = self.meta["doc_cols"]
        # optional static prior (Ranker.java:112-120); absent ⇒ 0
        self._has_pagerank = table_exists(spark, paths.pageranks)

    def search(self, query: str, limit: int | None = None) -> pd.DataFrame:
        """Reference-semantics search for one query: :meth:`search_many`
        over a batch of one, without the ``query_id`` column."""
        return self.search_many([query], limit).drop(columns="query_id")

    def search_many(
        self, queries: list[str], limit: int | None = None
    ) -> pd.DataFrame:
        """Reference-semantics search for a BATCH of queries: one pruned
        wmetric read for the idfs of the batch's words, and one collect
        of every query's per-range cuts (:func:`_ranker_range_cuts`) with
        their ntf, title and rank left-joined on the stored ``doc_key``.
        The driver merges each query's range cuts, cuts them with
        :func:`~.ranker.top_cut` and scores the cut with
        :func:`~.ranker.score_cut`, so each query's rows equal its
        single-node answer exactly.

        Output adds a leading ``query_id`` (position in ``queries``);
        ``limit`` applies per query.  Queries with no candidates
        contribute zero rows.
        """
        plans = {qid: plan_query(q) for qid, q in enumerate(queries)}
        plans = {qid: p for qid, p in plans.items() if p is not None}
        docs = read_table(self.spark, self.paths.doc_stats)
        cuts = _ranker_range_cuts(self.spark, self.paths, plans, docs, meta=self.meta)
        if cuts is None:
            return self._no_rows()
        wm_pdf = (
            read_table(self.spark, self.paths.wmetric)
            .where(F.col("term").isin(sorted(
                {w for p in plans.values() for w in p.word_count}
            )))
            .select("term", "idf")
            .toPandas()
        )
        idf = {t: float(i) for t, i in zip(wm_pdf["term"], wm_pdf["idf"])}
        rows = (
            cuts.join(docs.select("doc_key", "ntf"), "doc_key", "left")
            .join(self._doc_table(self.paths.doc_meta, "title"), "doc_key", "left")
        )
        if self._has_pagerank:
            rows = rows.join(
                self._doc_table(self.paths.pageranks, "rank"), "doc_key", "left"
            )
        pdf = rows.toPandas()

        groups = dict(iter(pdf.groupby(["query_id", "expanded"], sort=False)))
        parts = []
        for qid, plan in plans.items():
            g = groups.get((qid, False))
            order = plan.first_order
            # every range emits min(TOP_CUT, its candidates) rows, and
            # TOP_CUT ≥ EXPAND_THRESHOLD: a first pass emitted fewer rows
            # than EXPAND_THRESHOLD exactly when it had fewer candidates
            if plan.expands(0 if g is None else len(g)):
                g = groups.get((qid, True))
                order = plan.words_set_order
            if g is None:
                continue
            keys = g["doc_key"].to_numpy(dtype=np.int64)
            occ = g["occurrence"].to_numpy(dtype=np.int64)
            cut = top_cut(keys, occ)
            g, keys = g.iloc[cut], keys[cut]
            tf = np.array(g["tfs"].tolist(), dtype=np.float64)
            if self._has_pagerank:
                rank = g["rank"].to_numpy(dtype=np.float64)
                page_rank = np.where(np.isnan(rank), 0.0, rank)
            else:
                page_rank = np.zeros(len(keys), dtype=np.float64)
            titles = [t if isinstance(t, str) else "" for t in g["title"]]
            part = score_cut(
                plan,
                keys,
                occ[cut],
                {t: tf[:, i] for i, t in enumerate(order)},
                idf,
                g["ntf"].to_numpy(dtype=np.float64),
                titles,
                TitleWords(keys, titles),
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


def _ranker_range_cuts(
    spark: SparkSession,
    paths: IndexPaths,
    plans: dict[int, QueryPlan],
    docs: DataFrame,
    n_ranges: int | None = None,
    meta: dict | None = None,
) -> DataFrame | None:
    """The Spark side of :meth:`DistributedRanker.search_many`: per query
    (keyed by query id) and doc-key range, the range's :func:`top_cut` of
    the first pass and, when the query's two lookup orders differ, of the
    expansion pass, as rows ``(query_id, expanded, doc_key, occurrence,
    tfs)``, ``tfs`` holding the doc's tf per lookup term in the pass's
    order (NaN where the term misses the doc or Q5 dropped it).  None
    when no query has a lookup term or the corpus is empty.  Exposed
    separately so the plan audit can assert the job's physical shape."""
    if meta is None:
        meta = read_meta(paths)
    # the expansion pass of every query that expands on a short first pass
    passes = {
        qid: [(False, p.first_order)] + ([(True, p.words_set_order)] if p.expands(0) else [])
        for qid, p in plans.items()
    }
    terms = sorted({t for ps in passes.values() for _, order in ps for t in order})
    if not terms:
        return None
    scan = _range_scan(spark, paths, docs, terms, n_ranges, meta["buckets"])
    if scan is None:
        return None
    _, blocks = scan
    no_postings = (np.empty(0, np.int64), np.empty(0, np.float64))

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        lo, hi = int(pdf["lo"].iloc[0]), int(pdf["hi"].iloc[0])
        # decode each term's blocks once per task; a block can overlap
        # two ranges, so keep only this range's keys
        postings = {}
        for t, g in _by_term(pdf).items():
            keys, tfs = decode_postings(g)
            inside = (keys >= lo) & (keys <= hi)
            postings[t] = keys[inside], tfs[inside]
        cols: dict[str, list] = {c: [] for c in ("query_id", "expanded", "doc_key",
                                                 "occurrence", "tfs")}
        for qid, qpasses in passes.items():
            for expanded, order in qpasses:
                keys, occ, tfs = candidates(
                    order, lambda t: postings.get(t, no_postings)
                )
                cut = top_cut(keys, occ)
                nan_col = np.full(len(cut), np.nan)
                cols["query_id"].append(np.full(len(cut), qid, dtype=np.int32))
                cols["expanded"].append(np.full(len(cut), expanded))
                cols["doc_key"].append(keys[cut])
                cols["occurrence"].append(occ[cut].astype(np.int64))
                cols["tfs"].extend(np.column_stack(
                    [tfs[t][cut] if t in tfs else nan_col for t in order]
                ))
        return pd.DataFrame({
            c: pd.Series(v, dtype=object) if c == "tfs" else np.concatenate(v)
            for c, v in cols.items()
        })

    return blocks.groupBy("range_id").applyInPandas(
        kernel,
        "query_id int, expanded boolean, doc_key long, occurrence long, tfs array<double>",
    )


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


def _range_scan(
    spark: SparkSession,
    paths: IndexPaths,
    docs: DataFrame,
    terms: list[str],
    n_ranges: int | None,
    buckets: int,
) -> tuple[list[tuple[int, int, int]], DataFrame] | None:
    """The scan under both distributed plans: ``n_ranges`` (default: the
    session's parallelism) quantile doc-key ranges of ``docs`` (the
    doc_stats table, read once by the caller), and the block rows of
    ``terms`` joined to every range they overlap, carrying its
    ``range_id``, ``lo`` and ``hi``.  Returns ``(bounds, blocks)``, or
    None for an empty corpus (the build writes meta but no doc rows)."""
    r = n_ranges or spark.sparkContext.defaultParallelism
    bounds = doc_range_bounds(docs, r)
    if not bounds:
        return None
    rdf = spark.createDataFrame(bounds, "range_id int, lo long, hi long")
    # the block table is PARTITIONED by bucket: the driver-computed
    # term->bucket set (pure-Python xxhash64, no job) makes the scan list
    # only the query terms' bucket directories; the term IN-filter then
    # pushes into those partitions' row groups.  key_min/key_max are
    # plain columns, so the tiny range table joins broadcast on the
    # overlap predicate.
    tb = sorted({term_bucket(t, buckets) for t in terms})
    blocks = (
        read_table(spark, paths.blocks)
        .where(F.col("bucket").isin(tb))
        .where(F.col("term").isin(terms))
        .select("term", "block_no", "key_min", "key_max", "ub_bm25",
                "doc_bytes", "tf_bytes")
        .join(
            F.broadcast(rdf),
            (F.col("key_max") >= F.col("lo")) & (F.col("key_min") <= F.col("hi")),
        )
    )
    return bounds, blocks


def _bm25_scan_frames(
    spark: SparkSession,
    paths: IndexPaths,
    terms: list[str],
    n_ranges: int | None,
    meta: dict,
):
    """The local-topk plan's inputs: the df-1 idf-quirk undo, then
    :func:`_range_scan` and each range's slice of the doc-length table.
    Returns ``(w_by_term, blocks, dl_r)`` or None when nothing can score
    (no indexed terms / empty corpus)."""
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
    scan = _range_scan(spark, paths, dl, list(w_by_term), n_ranges, meta["buckets"])
    if scan is None:
        return None
    bounds, blocks = scan
    # a second range frame: reusing the scan's lineage on both cogroup
    # sides trips Spark's ambiguous-self-join check
    rdf_dl = spark.createDataFrame(bounds, "range_id int, lo long, hi long")
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
    reads the same scored blocks: a block is decoded and scored by the
    first sweep that does not skip it, and sliced by every later one.

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
        # slice each term's blocks ONCE, and score each block at most
        # once: a term's weight is the same for every query of the batch,
        # so every query's sweep over that term reads one BlockCache
        caches = {t: BlockCache(g) for t, g in _by_term(blocks_pdf).items()}
        qids, keys, scores = [], [], []
        for qid, weights in b_qweights.items():
            sweeps = [
                _TermSweep(caches[t], w, norms)
                for t, w in weights.items()
                if t in caches
            ]
            if not sweeps:
                continue
            top_keys, top_scores = block_sweep_topk(sweeps, b_k, lo=lo, hi=hi)
            qids.append(np.full(len(top_keys), qid, dtype=np.int32))
            keys.append(top_keys)
            scores.append(top_scores)
        if not qids:
            return _empty
        return pd.DataFrame(
            {
                "query_id": np.concatenate(qids),
                "doc_key": np.concatenate(keys),
                "score": np.concatenate(scores),
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

    Each range task runs :func:`~.bm25.block_sweep_topk` per query over
    the blocks overlapping its range, and a driver merge of ≤
    |queries|·r·k local top-k rows finishes exactly (scores AND doc-asc
    tie-breaks identical to ``BM25Engine.search``).  Past ``_DRIVER_MERGE_ROWS`` candidate rows
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

    if k < 1:
        raise ValueError(f"k must be at least 1, got {k}")
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
    pdf = local.toPandas()
    if not len(pdf):
        return empty
    # a doc lies in one range, so (query_id, doc_key) is unique and the
    # sort is total
    top = (
        pdf.sort_values(
            ["query_id", "score", "doc_key"], ascending=[True, False, True],
            kind="stable",
        )
        .groupby("query_id")
        .head(k)
    )
    return pd.DataFrame(
        {
            "query_id": top["query_id"].to_numpy(dtype=np.int32),
            **doc_key_columns(top["doc_key"].to_numpy(dtype=np.int64), doc_cols),
            "score": top["score"].to_numpy(dtype=np.float64),
        }
    )

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
