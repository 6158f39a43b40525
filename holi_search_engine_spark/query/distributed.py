"""Distributed reference-semantics and BM25 search: the same Ranker steps
1-11 as ``query/ranker.py``, and the same block-max sweep as
``query/bm25.py``, executed as Spark jobs over the block index — the path
a 10^12-turn corpus needs when a Zipf-head term's posting list cannot sit
in driver memory.

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
- scoring joins against broadcast idf + doc-keyed ntf/doc_meta.

BM25 plan (:func:`distributed_bm25_topk_many`): one doc-key-range cogroup
whose kernel sweeps every query's blocks per range, then a driver merge
of the per-range local top-ks.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.javacompat import (
    JAVA_TRIM_PATTERN,
    RE_QUERY_PUNCT as _RE_PUNCT,
    java_hashset_order,
    java_query_tokens,
)
from ..functions.xxhash import term_bucket
import numpy as np

from ..plans.compression import DocKeyLookup, decode_block, doc_key_to_cols
from ..plans.index_build import IndexPaths, read_meta
from ..sources.catalog import read_table, table_exists
from .ranker import EXPAND_THRESHOLD, TOP_CUT
from .stopwords import STOPWORDS

#: the canonical pattern string, reused verbatim as a Java regex in
#: regexp_replace (character class only — identical semantics)
_PUNCT_PATTERN = _RE_PUNCT.pattern

_DECODE_SCHEMA = "term string, doc_key long, tf double"


def _query_meta(query: str) -> dict | None:
    """The reference's query preamble for one query of a
    :meth:`~DistributedRanker.search_many` batch: the quirk ordering
    (COLLECTION-constructor HashSet order for the expansion pass, add-loop
    order for the first pass — Q11).  None ⇔ no tokens (Java's
    ``words.length < 1`` guard)."""
    words = java_query_tokens(query)  # Java trim + ASCII-\s split
    if not words:
        return None
    words_set_order = java_hashset_order(words, initial_from_collection=True)
    words_sw = [w for w in words_set_order if w not in STOPWORDS]
    removed = [w for w in words_set_order if w in STOPWORDS]
    if not words_sw:
        words_sw = removed
    word_count: dict[str, int] = {}
    for w in words:
        word_count[w] = word_count.get(w, 0) + 1
    return {
        "query": query,
        "words": words,
        "words_set_order": words_set_order,
        "first_order": java_hashset_order(words_sw),
        "sw_set": list(dict.fromkeys(words_sw)),
        "word_count": word_count,
    }


def _keyword_bonus_expr(qraw, sw_set, n_sw):
    """The reference's title keyword bonus (``Ranker.java:223-232``) over
    per-query COLUMN operands: full-substring 10.0, else overlap ≥ 0.6 →
    overlap·10, else 0.  ``array_intersect`` dedups, so no
    array_distinct is needed."""
    n_overlap = F.size(F.array_intersect(_title_tokens_expr(), sw_set))
    overlap = F.when(
        n_sw > F.lit(0), n_overlap.cast("double") / n_sw
    ).otherwise(F.lit(0.0))
    return (
        F.when(F.col("title").contains(qraw), F.lit(10.0))
        .when(overlap >= 0.6, overlap * 10)
        .otherwise(F.lit(0.0))
    )


def _final_score_expr(kw):
    """``Ranker.java:255``: 3·tf-idf + 0.75·pagerank + keyword bonus."""
    return 3 * F.col("weight") + 0.75 * F.col("page_rank") + kw


def _title_tokens_expr():
    """Token-set of the ``title`` column under the REFERENCE's
    tokenization (``Ranker.java:223``): punctuation → space, Java trim
    (chars <= U+0020), split on Java ``\\s+`` (ASCII-only —
    regexp_replace/split run Java regex on the JVM, so ``\\s+`` and the
    trim class are exact).  ς→σ folds the final-sigma forms like
    ``java_query_tokens`` does on the query side (see
    ``functions/javacompat.py`` — Spark's lower() and Java's toLowerCase
    disagree on the contextual rule)."""
    return F.split(
        F.regexp_replace(
            F.lower(
                F.regexp_replace(
                    F.regexp_replace("title", _PUNCT_PATTERN, " "),
                    JAVA_TRIM_PATTERN,
                    "",
                )
            ),
            "ς",
            "σ",
        ),
        r"\s+",
    )


def _decode_blocks(batches):
    import numpy as np

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

    def _empty(self) -> pd.DataFrame:
        cols = [*self.doc_cols, "doc_key", "occurrence", "tf_idf_weight",
                "page_rank", "keyword_match", "score"]
        out = pd.DataFrame(columns=cols)
        out.insert(0, "query_id", pd.Series([], dtype="int32"))
        return out

    def _with_pagerank(self, base: DataFrame) -> DataFrame:
        """Static prior 0.75·pagerank (``Ranker.java:255``): per-candidate
        join against the doc-keyed pageranks artifact when built, else 0."""
        if self._has_pagerank:
            pr = read_table(self.spark, self.paths.pageranks).select(
                "doc_key", F.col("rank").alias("page_rank")
            )
            return base.join(pr, "doc_key", "left").na.fill({"page_rank": 0.0})
        return base.withColumn("page_rank", F.lit(0.0))

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
        wmetric read for the union of the batch's words, and one
        scoring/collect job, which also re-scans the blocks for just the
        queries the reference's ``numResults < 50`` branch re-runs.

        Semantics per query follow ``Ranker.java`` (expansion control
        flow, Q5 first-term drop per query, Q8 absent-idf zero, the Java
        NaN-poisoning quirk, title keyword bonus on the RAW query string,
        0.75·pagerank prior) — pinned against the oracle and the
        single-node engine in ``tests/test_distributed.py``, including
        NaN-set equality.  The per-query score-sum order is
        Spark-aggregation order (ulp-level vs the HashMap-order
        single-node engine, Q12).  Output adds a leading ``query_id``
        (position in ``queries``); rows per query are in (score desc,
        doc_key asc) order with NaN scores first, as Spark's desc sort
        places them, and ``limit`` applies per query.  Queries with no
        tokens or no candidates contribute zero rows.  The cached
        postings are released on every exit.
        """
        from pyspark.sql import Window

        metas: dict[int, dict] = {}
        for qid, query in enumerate(queries):
            qm = _query_meta(query)
            if qm is not None:
                metas[qid] = qm
        if not metas:
            return self._empty()

        def candidates(hits: DataFrame) -> DataFrame:
            return hits.groupBy("query_id", "doc_key").agg(
                F.count(F.lit(1)).alias("occurrence"),
                F.min("ord").alias("first_ord"),
            )

        hits1 = self._postings_df_many(
            {qid: m["first_order"] for qid, m in metas.items()}
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
                for qid, m in metas.items()
                if counts.get(qid, 0) < EXPAND_THRESHOLD
                and m["first_order"] != m["words_set_order"]
            }
            # a query with no first-pass candidates that does not expand
            # has no rows (the reference's numResults == 0 return)
            metas = {
                qid: m for qid, m in metas.items() if qid in counts or qid in expand
            }
            if not metas:
                return self._empty()
            if expand:
                hits2 = self._postings_df_many(
                    {qid: metas[qid]["words_set_order"] for qid in expand}
                ).cache()
                keep1 = [qid for qid in metas if qid not in expand]
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

            # idfs resolved driver-side in ONE pruned read so the Java NaN
            # quirk below is decidable per query before the plan is built
            union_words = sorted(
                {w for m in metas.values() for w in m["word_count"]}
            )
            wm_pdf = (
                read_table(self.spark, self.paths.wmetric)
                .where(F.col("term").isin(union_words))
                .select("term", "idf")
                .toPandas()
            )
            idf_map = dict(zip(wm_pdf["term"], wm_pdf["idf"]))
            # Ranker.java:249 accumulates qtf·pow(idf,1.5)·wf over EVERY
            # query word for EVERY candidate, with wf = 0 when the word
            # misses the doc — and Java's NaN·0.0 = NaN, so one
            # negative-idf word (Q3: df == n gives ln(n/(n+1)) < 0)
            # poisons every candidate's weight, including ones the scoring
            # join would lose to an absent ntf row; those queries skip the
            # scoring joins entirely
            poisoned = {
                qid
                for qid, m in metas.items()
                if any(float(idf_map.get(t, 0.0)) < 0.0 for t in m["word_count"])
            }
            healthy = [qid for qid in metas if qid not in poisoned]
            parts = []
            if poisoned:
                parts.append(
                    cut.where(F.col("query_id").isin(sorted(poisoned))).select(
                        "query_id",
                        "doc_key",
                        "occurrence",
                        F.lit(float("nan")).alias("weight"),
                    )
                )
            if healthy:
                ntf = read_table(self.spark, self.paths.doc_stats).select(
                    "doc_key", "ntf"
                )
                qdf = self.spark.createDataFrame(
                    [
                        (qid, t, c, float(idf_map.get(t, 0.0)))  # Q8: absent → 0
                        for qid in healthy
                        for t, c in metas[qid]["word_count"].items()
                    ],
                    "query_id int, term string, qtf int, idf double",
                )
                # Q5: rows whose ord == first_ord contribute 0 (tf dropped)
                weight_sum = F.sum(
                    F.when(F.col("ord") == F.col("first_ord"), F.lit(0.0)).otherwise(
                        F.col("qtf") * F.pow("idf", 1.5) * F.col("tf") / F.col("ntf")
                    )
                )
                # one aggregation over the cut's hits; a doc without an
                # ntf row keeps weight 0 (the sum of nulls is filled)
                parts.append(
                    cut.where(F.col("query_id").isin(healthy))
                    .join(hits, ["query_id", "doc_key"])
                    .join(F.broadcast(qdf), ["query_id", "term"])
                    .join(ntf, "doc_key", "left")
                    .groupBy("query_id", "doc_key", "occurrence")
                    .agg(weight_sum.alias("weight"))
                    .na.fill({"weight": 0.0})
                )
            base = parts[0]
            for p in parts[1:]:
                base = base.unionByName(p)

            meta_df = read_table(self.spark, self.paths.doc_meta).select(
                "doc_key", "title"
            )
            qmeta = self.spark.createDataFrame(
                [
                    (qid, m["query"], m["sw_set"], len(m["sw_set"]))
                    for qid, m in metas.items()
                ],
                "query_id int, qraw string, sw_set array<string>, n_sw int",
            )
            # sw_set is never empty (the stopword fallback guarantees it)
            kw = _keyword_bonus_expr(F.col("qraw"), F.col("sw_set"), F.col("n_sw"))
            base = self._with_pagerank(
                base.join(meta_df, "doc_key", "left").join(
                    F.broadcast(qmeta), "query_id"
                )
            )
            pdf = base.select(
                "query_id",
                "doc_key",
                "occurrence",
                F.col("weight").alias("tf_idf_weight"),
                "page_rank",
                kw.alias("keyword_match"),
                _final_score_expr(kw).alias("score"),
            ).toPandas()
        finally:
            hits1.unpersist()
            if hits2 is not None:
                hits2.unpersist()
        # ≤ TOP_CUT rows per query: rank driver-side (score desc with NaN
        # first, as Spark's desc sort places it; doc_key asc)
        pdf = pdf.sort_values(
            ["query_id", "score", "doc_key"],
            ascending=[True, False, True],
            na_position="first",
            kind="mergesort",
        )
        if limit is not None:
            pdf = pdf.groupby("query_id", sort=False).head(limit)
        keys = pdf["doc_key"].to_numpy(dtype=np.int64)
        out = doc_key_to_cols(keys, self.doc_cols)
        qcol = pdf.pop("query_id").astype("int32")
        out = pd.concat([out.reset_index(drop=True), pdf.reset_index(drop=True)], axis=1)
        out.insert(0, "query_id", qcol.reset_index(drop=True))
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
    from .bm25 import bm25_idf

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
    from .bm25 import BM25_B, _TermSweep, block_sweep_topk

    if meta is None:
        meta = read_meta(paths)
    avgdl = meta.get("avgdl") or 1.0
    per_q_terms: dict[int, list[str]] = {}
    for qid, q in enumerate(queries):
        terms = list(dict.fromkeys(_RE_PUNCT.sub(" ", q).strip().lower().split()))
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
    empty = doc_key_to_cols(np.array([], dtype=np.int64), doc_cols)
    empty.insert(0, "query_id", pd.Series([], dtype="int32"))
    empty["score"] = pd.Series([], dtype="float64")
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
        part = doc_key_to_cols(top["doc_key"].to_numpy(dtype=np.int64), doc_cols)
        part.insert(0, "query_id", np.full(len(part), qid, dtype=np.int32))
        part["score"] = top["score"].to_numpy(dtype=np.float64)
        out_parts.append(part)
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
