"""Query-time ranker: reproduces ``ranker/Ranker.java:146-279`` steps 1-11
rank-identically (quirks Q4/Q5/Q8; Q2/Q10 normalized per SURVEY.md §7) over
the compressed block index.

Two execution modes:

- ``driver`` (default, low latency): posting blocks of the query's terms
  are fetched via a term-pruned (and bucket-partition-pruned) parquet read,
  decoded and scored with numpy; the answer is one DataFrame built at the
  end.  With ``preload`` the per-term block bytes live in an in-process
  dict and the per-doc ntf, title and pagerank sit in sorted doc-key
  arrays (what the reference's single ranker node does with its KVS
  point-gets, minus the per-candidate HTTP round trips —
  ``Ranker.java:231-251`` issues O(250·|q|) gets).
- ``distributed``: candidate generation and scoring run as a Spark job —
  the path a 10^12-turn corpus needs when a Zipf-head term's posting list
  exceeds driver memory (see ``search_distributed``).

Candidates are cut to the top 250 by occurrence with the normalized
tie-break (doc key asc) before scoring, as in the reference
(``Ranker.java:204-205``).
"""

from __future__ import annotations

import math
import os
from collections import OrderedDict
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession, functions as F

from ..functions.javacompat import java_hashmap_value_order, java_hashset_order
from ..functions.javacompat import java_query_tokens
from ..plans.compression import (
    DocKeyLookup,
    decode_block,
    doc_key_columns,
    doc_key_expr,
    doc_key_to_cols,
)
from ..plans.index_build import IndexPaths, artifact_nbytes, read_meta
from ..sources.catalog import read_table, table_exists
from .stopwords import STOPWORDS

TOP_CUT = 250  # Ranker.java:205
EXPAND_THRESHOLD = 50  # Ranker.java:179,190
PAGE_SIZE = 10  # Ranker.java:257

# Auto-degrade threshold: preloading the block table into the driver is the
# single-ranker-node serving model (lowest p95) and is right while the index
# fits comfortably in driver memory; past this many bytes the engines fall
# back to pruned per-term parquet reads with NO caller change — the 100×
# corpus path.  Unknown sizes (non-local FS) also degrade.
PRELOAD_MAX_BYTES = int(
    os.environ.get("SPARK_GRAFT_PRELOAD_MAX_BYTES", str(2 << 30))
)


def _should_preload(paths: IndexPaths, preload: bool | None, limit: int | None) -> bool:
    if preload is not None:
        return preload
    cap = PRELOAD_MAX_BYTES if limit is None else limit
    nbytes = artifact_nbytes(paths.blocks)
    return 0 <= nbytes <= cap


@dataclass
class SearchResultRow:
    doc_key: int
    occurrence: int
    tf_idf_weight: float
    page_rank: float
    keyword_match: float
    score: float


class RankerEngine:
    """Loads index artifacts lazily; optionally preloads for p95 latency."""

    def __init__(
        self,
        spark: SparkSession,
        paths: IndexPaths,
        preload: bool | None = None,
        preload_max_bytes: int | None = None,
    ) -> None:
        """``preload=None`` (default) decides automatically: preload while
        the block table is under ``preload_max_bytes`` (default
        ``PRELOAD_MAX_BYTES``), else degrade to pruned per-term reads.
        Explicit True/False forces a mode (tests; callers that know)."""
        self.spark = spark
        self.paths = paths
        meta = read_meta(paths)
        self.doc_cols: list[str] = meta["doc_cols"]
        self.buckets: int = meta["buckets"]
        # True only when the build VALIDATED the conv-%08d round-trip (or
        # the key is a single stored column): exactly the cases where
        # doc_key_to_cols reconstruction is lossless and the degraded-mode
        # lead-column prefilter is sound
        self._reconstructible_key: bool = bool(
            meta.get("packed_doc_key")
        ) or len(self.doc_cols) == 1
        self._blocks: dict[str, pd.DataFrame] | None = None
        self._wmetric: dict[str, float] | None = None
        # preloaded per-doc lookups: ntf, and doc_meta's (title, snippet)
        self._ntf: DocKeyLookup | None = None
        self._meta: DocKeyLookup | None = None
        self._postings_cache: OrderedDict[str, tuple[np.ndarray, np.ndarray]] = (
            OrderedDict()
        )
        self._postings_cache_bytes = 0
        # optional static prior (the reference's pageranks table,
        # Ranker.java:112-120); absent ⇒ every doc's prior is 0
        self._pagerank: DocKeyLookup | None = None
        self._has_pagerank = table_exists(spark, paths.pageranks)
        self.preloaded = _should_preload(paths, preload, preload_max_bytes)
        if self.preloaded:
            self._preload()

    # ---------------------------------------------------------- loading

    def _preload(self) -> None:
        blocks = read_table(self.spark, self.paths.blocks).toPandas()
        self._blocks = {
            t: g.sort_values("block_no").reset_index(drop=True)
            for t, g in blocks.groupby("term", sort=False)
        }
        wm = read_table(self.spark, self.paths.wmetric).toPandas()
        self._wmetric = dict(zip(wm["term"], wm["idf"]))
        key = doc_key_expr(self.doc_cols)
        ntf = (
            read_table(self.spark, self.paths.ntf)
            .select(key.alias("doc_key"), "ntf")
            .toPandas()
        )
        self._ntf = _lookup(ntf, "ntf")
        dm = (
            read_table(self.spark, self.paths.doc_meta)
            .select(key.alias("doc_key"), "title", "snippet")
            .toPandas()
        )
        self._meta = _lookup(dm, ["title", "snippet"])
        if self._has_pagerank:
            pr = read_table(self.spark, self.paths.pageranks).toPandas()
            self._pagerank = _lookup(pr, "rank")

    #: decoded-postings LRU caps.  Zipf-head terms (stopword fallback
    #: queries) dominate decode cost and repeat across queries; a small
    #: cache of decoded lists is the standard ranker-node move (cf.
    #: Lucene's LRUQueryCache).  The cap is in BYTES, not terms: a
    #: decoded hot-term list is O(corpus) (16 B/posting), so a term-count
    #: cap would scale driver memory with the corpus and defeat the
    #: preload_max_bytes degraded-mode gate.
    POSTINGS_CACHE_TERMS = 256
    POSTINGS_CACHE_BYTES = 256 << 20

    def _term_postings(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        """Doc-ordered (keys, tfs) for a term; empty arrays if absent.
        Decoded lists are LRU-cached (byte-capped) per engine instance."""
        cached = self._postings_cache.get(term)
        if cached is not None:
            self._postings_cache.move_to_end(term)
            return cached
        out = self._term_postings_uncached(term)
        nbytes = out[0].nbytes + out[1].nbytes
        if nbytes <= self.POSTINGS_CACHE_BYTES // 8:
            self._postings_cache[term] = out
            self._postings_cache_bytes += nbytes
            while (
                len(self._postings_cache) > self.POSTINGS_CACHE_TERMS
                or self._postings_cache_bytes > self.POSTINGS_CACHE_BYTES
            ):
                _, old = self._postings_cache.popitem(last=False)
                self._postings_cache_bytes -= old[0].nbytes + old[1].nbytes
        return out

    def _term_postings_uncached(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        if self._blocks is not None:
            g = self._blocks.get(term)
            if g is None:
                return np.empty(0, np.uint64), np.empty(0, np.uint64)
            parts = [decode_block(d, t) for d, t in zip(g["doc_bytes"], g["tf_bytes"])]
            return (
                np.concatenate([p[0] for p in parts]),
                np.concatenate([p[1] for p in parts]),
            )
        pdf = (
            read_table(self.spark, self.paths.blocks)
            .where(F.col("term") == term)
            .orderBy("block_no")
            .toPandas()
        )
        if not len(pdf):
            return np.empty(0, np.uint64), np.empty(0, np.uint64)
        parts = [decode_block(d, t) for d, t in zip(pdf["doc_bytes"], pdf["tf_bytes"])]
        return (
            np.concatenate([p[0] for p in parts]),
            np.concatenate([p[1] for p in parts]),
        )

    def _idfs(self, terms: list[str]) -> dict[str, float]:
        """idf per term, Q8 (absent → 0).  Degraded (non-preloaded) mode
        batches ALL query terms into ONE term-pruned wmetric read — a
        per-term read paid one ~100 ms Spark job per query word per query
        inside the scoring loop (``BM25Engine._ensure_terms`` batches for
        the same reason)."""
        if self._wmetric is not None:
            return {t: float(self._wmetric.get(t, 0.0)) for t in terms}
        pdf = (
            read_table(self.spark, self.paths.wmetric)
            .where(F.col("term").isin(terms))
            .toPandas()
        )
        got = dict(zip(pdf["term"], pdf["idf"]))
        return {t: float(got.get(t, 0.0)) for t in terms}

    def _keyed_rows(self, path: str, keys: np.ndarray, *cols: str) -> pd.DataFrame:
        """Pruned per-candidate read: filter on the leading doc column (a
        plain stored column, so the predicate reaches the parquet scan)
        then on the exact packed key.  keys is ≤ TOP_CUT=250, so the isin
        lists stay tiny."""
        key = doc_key_expr(self.doc_cols)
        df = read_table(self.spark, path)
        if self._reconstructible_key:
            # reconstructing 'conv-%08d' from the packed key only matches
            # stored rows when the build validated the round-trip; a
            # legacy/string-keyed index must not prefilter on it
            lead = self.doc_cols[0]
            lead_vals = doc_key_to_cols(
                np.asarray(keys, dtype=np.int64), self.doc_cols
            )[lead].unique().tolist()
            df = df.where(F.col(lead).isin(lead_vals))
        return (
            df.select(key.alias("doc_key"), *cols)
            .where(F.col("doc_key").isin([int(k) for k in keys]))
            .toPandas()
        )

    def _doc_values(
        self, preloaded: DocKeyLookup | None, path: str, keys: np.ndarray,
        cols: str | list[str], default,
    ) -> np.ndarray:
        """Per-candidate values of ``cols`` in key order, ``default`` for
        keys the artifact has no row for: from the preloaded lookup, or
        (degraded mode) from a pruned read of just these keys' rows."""
        if preloaded is None:
            names = [cols] if isinstance(cols, str) else cols
            preloaded = _lookup(self._keyed_rows(path, keys, *names), cols)
        return preloaded.get(keys, default)

    def _ntf_for(self, keys: np.ndarray) -> np.ndarray:
        ntf = self._doc_values(self._ntf, self.paths.ntf, keys, "ntf", np.nan)
        return ntf.astype(np.float64, copy=False)

    def _pagerank_for(self, keys: np.ndarray) -> np.ndarray:
        """Static prior per candidate: 0 when the artifact is absent, the
        doc has no rank row (reference default) or its stored rank is
        NaN.  The pageranks table stores doc_key directly, so the
        degraded-mode read prunes on it."""
        if not self._has_pagerank:
            return np.zeros(len(keys), dtype=np.float64)
        ranks = self._pagerank
        if ranks is None:
            pdf = (
                read_table(self.spark, self.paths.pageranks)
                .where(F.col("doc_key").isin([int(k) for k in keys]))
                .toPandas()
            )
            ranks = _lookup(pdf, "rank")
        rank = ranks.get(keys, 0.0).astype(np.float64, copy=False)
        return np.where(np.isnan(rank), 0.0, rank)

    def _titles_for(self, keys: np.ndarray) -> list[str]:
        """Title per candidate; a missing row or a null title is ``""``."""
        titles = self._doc_values(
            self._meta, self.paths.doc_meta, keys, ["title"], None
        )[:, 0]
        return [t if isinstance(t, str) else "" for t in titles]

    def _meta_for(self, keys: np.ndarray) -> np.ndarray:
        """(title, snippet) rows per candidate key, preserving key order;
        rows absent from doc_meta come back as None (serialized like Gson
        serializes a null field: omitted)."""
        return self._doc_values(
            self._meta, self.paths.doc_meta, keys, ["title", "snippet"], None
        )

    # ---------------------------------------------------------- search

    def _candidates(
        self, lookup_terms: list[str]
    ) -> tuple[np.ndarray, np.ndarray, dict[str, np.ndarray]]:
        """Union of postings in the order GIVEN; implements Q5 (the first
        term hitting a doc does not record its tf).  The caller supplies
        the reference's iteration order — these differ per call site: the
        first pass iterates a ``new HashSet<>()`` built by per-element
        adds (default capacity 16), the expansion pass iterates
        ``words_set``, a collection-constructed HashSet whose capacity is
        sized from the RAW token count including duplicates
        (``Ranker.java:156,176,192``) — so the same term set can iterate
        differently in the two passes, shifting which term Q5-drops.

        Returns ``(doc_key, occurrence, tfs)``: doc-key-ordered arrays, and
        per matched term its tf per doc (NaN where unmatched or
        Q5-dropped).
        """
        key_arrays: list[np.ndarray] = []
        tf_arrays: list[np.ndarray] = []
        orders: list[int] = []
        terms_present: list[str] = []
        for order, term in enumerate(lookup_terms):
            keys, tfs = self._term_postings(term)
            if len(keys) == 0:
                continue
            key_arrays.append(keys.astype(np.int64))
            tf_arrays.append(tfs.astype(np.float64))
            orders.append(order)
            terms_present.append(term)
        if not key_arrays:
            return np.empty(0, np.int64), np.empty(0, np.int64), {}
        lens = [len(k) for k in key_arrays]
        uniq, inv = np.unique(np.concatenate(key_arrays), return_inverse=True)
        occ = np.bincount(inv, minlength=len(uniq))
        # first_order[d] = order of the first (HashSet-order) term hitting d
        first = np.full(len(uniq), -1, dtype=np.int64)
        off = 0
        for n, o in zip(lens, orders):
            idx = inv[off : off + n]
            unseen = first[idx] == -1
            first[idx[unseen]] = o
            off += n
        tf_cols: dict[str, np.ndarray] = {}
        off = 0
        for term, n, o, tfs in zip(terms_present, lens, orders, tf_arrays):
            col = np.full(len(uniq), np.nan)
            col[inv[off : off + n]] = tfs
            # Q5: the earliest term (HashSet order) to hit a doc drops its tf
            col[first == o] = np.nan
            tf_cols[term] = col
            off += n
        return uniq.astype(np.int64), occ, tf_cols

    def search(self, query: str, limit: int | None = None) -> pd.DataFrame:
        """Full ranked results (reference steps 1-11); ``limit`` truncates
        after ranking (pagination is a driver-side slice, as in the
        reference)."""
        words = java_query_tokens(query)  # Java trim + ASCII-\s split
        if not words:  # unreachable, like Java's words.length < 1 guard
            return self._empty_result()
        words_set_order = java_hashset_order(words, initial_from_collection=True)
        words_sw = [w for w in words_set_order if w not in STOPWORDS]
        removed = [w for w in words_set_order if w in STOPWORDS]
        if not words_sw:
            words_sw = removed
        first_order = java_hashset_order(words_sw)
        keys, occ, tfs = self._candidates(first_order)
        # expansion (Q4 makes the stemmed branch a no-op).  The reference
        # re-runs candidate generation over words_set whose ITERATION
        # ORDER is the collection-constructor bucket order (capacity sized
        # from the raw token count INCLUDING duplicates) — not the
        # add-loop order the first pass used.  Skipping the re-run is
        # sound only when the two orders coincide (the rebuilt map is then
        # identical); a query whose duplicates push the raw length across
        # a capacity boundary (e.g. 13+ raw tokens, <=12 distinct)
        # iterates the re-run differently and shifts the Q5 tf-drops even
        # when no stopword was removed.
        if len(keys) < EXPAND_THRESHOLD and first_order != words_set_order:
            keys, occ, tfs = self._candidates(words_set_order)
        if not len(keys):
            return self._empty_result()
        # pre-rank: occurrence desc, doc key asc (normalized tie-break), cut 250
        cut = np.lexsort((keys, -occ))[:TOP_CUT]
        keys, occ = keys[cut], occ[cut]
        ntf = self._ntf_for(keys)
        # qtf over ALL raw query words incl. stopwords (Ranker.java:207-210)
        word_count: dict[str, int] = {}
        for w in words:
            word_count[w] = word_count.get(w, 0) + 1
        weight = np.zeros(len(keys), dtype=np.float64)
        idfs = self._idfs(list(word_count))
        # Java accumulates over wordCount.entrySet() in HashMap bucket
        # order (Ranker.java:232-249); float addition is non-associative,
        # so the iteration order is part of bit-exactness (pinned against
        # the compiled reference in tests/test_javadiff_scoring.py)
        for w in java_hashmap_value_order(list(word_count)):
            qtf = word_count[w]
            idf = idfs[w]
            # Java Math.pow semantics (Ranker.java:249 / the distributed
            # twin's F.pow): negative base with fractional exponent is NaN.
            # Python float ** returns a complex here, which crashed the
            # weight accumulation for any corpus-ubiquitous term (Q3's
            # df+1 makes idf = ln(n/(n+1)) < 0 when df == n).
            idf_pow = idf ** 1.5 if idf >= 0.0 else float("nan")
            tf = tfs[w][cut] if w in tfs else np.full(len(keys), np.nan)
            wf = np.where(np.isnan(tf) | (ntf == 0) | np.isnan(ntf), 0.0, tf / np.where(ntf == 0, 1, ntf))
            weight += qtf * idf_pow * wf
        # title bonus (Ranker.java:211-230); words_sw is never empty here
        # (the all-stopword query falls back to the removed words above)
        sw_set = set(words_sw)
        kw = np.zeros(len(keys), dtype=np.float64)
        for i, title in enumerate(self._titles_for(keys)):
            if query in title:
                kw[i] = 10.0
                continue
            # Ranker.java:223 normalizes each title like the query
            overlap = len(sw_set.intersection(java_query_tokens(title))) / len(sw_set)
            if overlap >= 0.6:
                kw[i] = overlap * 10
        # static prior: 0.75·pagerank (Ranker.java:255); zeros unless the
        # optional pageranks artifact was built (build_reply_pagerank)
        page_rank = self._pagerank_for(keys)
        score = 3 * weight + 0.75 * page_rank + kw
        rank = np.lexsort((keys, -score))[:limit]
        return pd.DataFrame(
            {
                **doc_key_columns(keys[rank], self.doc_cols),
                "doc_key": keys[rank],
                "occurrence": occ[rank],
                "tf_idf_weight": weight[rank],
                "page_rank": page_rank[rank],
                "keyword_match": kw[rank],
                "score": score[rank],
            }
        )

    def _empty_result(self) -> pd.DataFrame:
        cols = [*self.doc_cols, "doc_key", "occurrence", "tf_idf_weight",
                "page_rank", "keyword_match", "score"]
        return pd.DataFrame(columns=cols)

    def search_page(self, query: str, page: int = 1) -> pd.DataFrame:
        """Reference pagination: 10 results/page (``Ranker.java:256-279``)."""
        full = self.search(query)
        start = (page - 1) * PAGE_SIZE
        return full.iloc[start : start + PAGE_SIZE].reset_index(drop=True)

    # ------------------------------------------- serving envelope (step 11)

    def paginate(self, results: pd.DataFrame, page: int = 1) -> dict | str:
        """The reference's response envelope (``Ranker.java:256-279``):
        ranked rows are chunked into pages of 10 numbered from 1, and the
        requested page is wrapped as ``{"results": [{title, url,
        page_head}...], "page": p, "totalPages": ceil(n/10)}``.

        Page-count rounding follows the Java chunk loop exactly:
        ``totalPages = ceil(n/10)`` (a 25-row result has 3 pages, the last
        with 5 rows; an empty result has 0 pages).  A page outside
        ``1..totalPages`` — including EVERY page of an empty result —
        returns the empty string, not JSON (``paginatedURLs.get(page) ==
        null → return ""``).  ``url`` carries the transcript doc identity
        ``conv_id:turn_idx`` (SURVEY §2: doc ID replaces url); ``title``/
        ``page_head`` are the 60/300-char doc_meta fields
        (``CrawlProcess.java:49-56``).  Fields that are null are omitted,
        as Gson omits null fields by default."""
        n = len(results)
        total_pages = (n + PAGE_SIZE - 1) // PAGE_SIZE
        if page < 1 or page > total_pages:
            return ""
        chunk = results.iloc[(page - 1) * PAGE_SIZE : page * PAGE_SIZE]
        keys = chunk["doc_key"].to_numpy(dtype=np.int64)
        meta = self._meta_for(keys)
        urls = chunk[self.doc_cols[0]].astype(str)
        for c in self.doc_cols[1:]:
            urls = urls + ":" + chunk[c].astype(str)
        out = []
        for url, (title, snippet) in zip(urls, meta):
            row: dict = {}
            # Gson field-declaration order: title, url, page_head
            if isinstance(title, str):
                row["title"] = title
            row["url"] = url
            if isinstance(snippet, str):
                row["page_head"] = snippet
            out.append(row)
        return {"results": out, "page": page, "totalPages": total_pages}

    def search_page_json(self, query: str, page: int = 1) -> str:
        """GET /search?q=...&page=... response body: the paginated
        envelope as the exact string Gson would emit, or ``""`` for an
        out-of-range page (``Ranker.java:263-265``, ``README.md:43-53``)."""
        env = self.paginate(self.search(query), page)
        return env if isinstance(env, str) else gson_dumps(env)


def _lookup(pdf: pd.DataFrame, cols: str | list[str]) -> DocKeyLookup:
    """Sorted doc-key lookup over a ``doc_key`` + ``cols`` frame: 1-D
    values for one column name, one value column per name for a list."""
    return DocKeyLookup(pdf["doc_key"].to_numpy(dtype=np.int64), pdf[cols].to_numpy())


def gson_dumps(obj) -> str:
    """``new Gson().toJson(obj)`` twin: compact separators, insertion
    (field-declaration) order, UTF-8 passthrough for non-ASCII, and
    Gson's default HTML-safe escaping of ``< > & = '`` as ``\\u003c``
    etc. (gson JsonWriter.HTML_SAFE_REPLACEMENT_CHARS), plus the
    JS-line-separator escapes U+2028/U+2029 JsonWriter always emits."""
    import json

    s = json.dumps(obj, separators=(",", ":"), ensure_ascii=False)
    out = []
    in_str = False
    esc = False
    repl = {"<": "\\u003c", ">": "\\u003e", "&": "\\u0026",
            "=": "\\u003d", "'": "\\u0027",
            " ": "\\u2028", " ": "\\u2029"}
    for ch in s:
        if in_str:
            if esc:
                esc = False
            elif ch == "\\":
                esc = True
            elif ch == '"':
                in_str = False
            elif ch in repl:
                out.append(repl[ch])
                continue
        elif ch == '"':
            in_str = True
        out.append(ch)
    return "".join(out)
