"""Query-time ranker: reproduces ``ranker/Ranker.java:146-279`` steps 1-11
rank-identically (quirks Q4/Q5/Q8; Q2/Q10 normalized per SURVEY.md §7) over
the compressed block index.

Two execution modes:

- ``driver`` (default, low latency): the query's terms and candidates
  come from an :class:`~.index_reader.IndexReader` — the block table,
  wmetric and the per-doc ntf, title and pagerank preloaded into the
  driver while they fit (what the reference's single ranker node does
  with its KVS point-gets, minus the per-candidate HTTP round trips —
  ``Ranker.java:231-251`` issues O(250·|q|) gets), else term- and
  key-pruned parquet reads per query.  Either way the reader reads the
  files it listed at open with Arrow, so no Spark job runs.  Postings
  are decoded and scored with numpy; the answer is one DataFrame built
  at the end.
- ``distributed``: Spark runs :func:`candidates` and :func:`top_cut` per
  doc-key range, over a block scan split by range — the path a
  10^12-turn corpus needs when a Zipf-head term's posting list exceeds
  driver memory (``query/distributed.py``).

The reference ranker splits at the cut: candidates are cut to the top 250
by occurrence with the normalized tie-break (doc key asc) before scoring,
as in the reference (``Ranker.java:204-205``).  Only candidate generation
grows with the corpus.  Both tiers run the same functions for every step:
:func:`plan_query` is the query preamble, :func:`candidates` the union
with Q5, :meth:`QueryPlan.expands` the expansion rule, :func:`top_cut` the
cut, and :func:`score_cut` scores and ranks a cut, so the two tiers'
answers are bit-identical.

The title bonus reads each cut doc's title words from a
:class:`TitleWords` index (word → sorted doc keys).  The reference
re-tokenizes every cut title per query (``Ranker.java:223``); a title
depends only on its doc, so the preloaded engine tokenizes each title
once, at open.  The degraded engine and the distributed ranker build the
same index per query from the ≤ 250 cut titles they fetch.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from ..functions.javacompat import java_hashmap_value_order, java_hashset_order
from ..functions.javacompat import java_query_tokens
from ..plans.compression import doc_key_columns
from ..plans.index_build import IndexPaths
from .index_reader import IndexReader
from .stopwords import STOPWORDS

TOP_CUT = 250  # Ranker.java:205
EXPAND_THRESHOLD = 50  # Ranker.java:179,190
PAGE_SIZE = 10  # Ranker.java:257


class QueryPlan(NamedTuple):
    """The reference's query preamble (``Ranker.java:152-176,207-210``)."""

    query: str  # raw, for the title-substring bonus
    #: the expansion pass's order: a COLLECTION-constructed HashSet sized
    #: from the raw token count (Q11)
    words_set_order: list[str]
    #: the first pass's order: an add-loop HashSet of the non-stopwords
    #: (all words when every word is a stopword)
    first_order: list[str]
    sw_set: set[str]  # the title bonus's word set; never empty
    word_count: dict[str, int]  # qtf over ALL raw words incl. stopwords

    def expands(self, n_first: int) -> bool:
        """Whether the reference re-runs candidate generation over
        ``words_set_order`` after a first pass of ``n_first`` candidates
        (``Ranker.java:177-200``; Q4 makes the stemmed branch a no-op).
        Skipping the re-run is sound only when the two orders coincide
        (the rebuilt map is then identical); a query whose duplicates
        push the raw length across a capacity boundary (e.g. 13+ raw
        tokens, <=12 distinct) iterates the re-run differently and
        shifts the Q5 tf-drops even when no stopword was removed."""
        return n_first < EXPAND_THRESHOLD and self.first_order != self.words_set_order


def plan_query(query: str) -> QueryPlan | None:
    """The preamble of one query; None ⇔ no tokens (Java's
    ``words.length < 1`` guard — unreachable, as ``split`` never returns
    an empty array)."""
    words = java_query_tokens(query)
    if not words:
        return None
    words_set_order = java_hashset_order(words, initial_from_collection=True)
    words_sw = [w for w in words_set_order if w not in STOPWORDS]
    if not words_sw:
        words_sw = [w for w in words_set_order if w in STOPWORDS]
    word_count: dict[str, int] = {}
    for w in words:
        word_count[w] = word_count.get(w, 0) + 1
    return QueryPlan(
        query,
        words_set_order,
        java_hashset_order(words_sw),
        set(words_sw),
        word_count,
    )


def candidates(
    lookup_terms: list[str], postings
) -> tuple[np.ndarray, np.ndarray, dict[str, np.ndarray]]:
    """Union of the postings of ``lookup_terms`` in the order GIVEN;
    implements Q5 (the first term hitting a doc does not record its tf).
    ``postings(term)`` returns the term's doc-ordered ``(keys, tfs)``.
    The caller supplies the reference's iteration order — these differ
    per call site: the first pass iterates a ``new HashSet<>()`` built by
    per-element adds (default capacity 16), the expansion pass iterates
    ``words_set``, a collection-constructed HashSet whose capacity is
    sized from the RAW token count including duplicates
    (``Ranker.java:156,176,192``) — so the same term set can iterate
    differently in the two passes, shifting which term Q5-drops.

    Returns ``(doc_key, occurrence, tfs)``: doc-key-ordered arrays, and
    per matched term its tf per doc (NaN where unmatched or Q5-dropped).
    """
    key_arrays: list[np.ndarray] = []
    tf_arrays: list[np.ndarray] = []
    orders: list[int] = []
    terms_present: list[str] = []
    for order, term in enumerate(lookup_terms):
        keys, tfs = postings(term)
        if len(keys) == 0:
            continue
        key_arrays.append(keys)
        tf_arrays.append(tfs)
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


def top_cut(keys: np.ndarray, occ: np.ndarray) -> np.ndarray:
    """Positions of the cut: the top 250 candidates by occurrence desc,
    doc key asc (the normalized tie-break, ``Ranker.java:204-205``)."""
    return np.lexsort((keys, -occ))[:TOP_CUT]


class TitleWords:
    """The title bonus's index: per title word, the sorted keys of the
    docs whose title holds it, each title split by
    :func:`java_query_tokens` (``Ranker.java:223``).  The keys of all
    words sit in one array, grouped by word.  Blank titles (a null title
    is one) are left out: :func:`score_cut` gives a blank title, like a
    key without a doc_meta row, the words ``[""]``."""

    __slots__ = ("_ids", "_starts", "_keys")

    def __init__(self, keys: np.ndarray, titles) -> None:
        words: list[str] = []
        counts: list[int] = []
        for title in titles:
            split = set(java_query_tokens(title)) if isinstance(title, str) and title else ()
            words.extend(split)
            counts.append(len(split))
        self._ids: dict[str, int] = {}
        word_id = np.fromiter(
            (self._ids.setdefault(w, len(self._ids)) for w in words), np.int64, len(words)
        )
        owner = np.repeat(keys, counts)
        order = np.lexsort((owner, word_id))
        self._keys = owner[order]
        self._starts = np.searchsorted(word_id[order], np.arange(len(self._ids) + 1))

    def hits(self, words, keys: np.ndarray) -> np.ndarray:
        """Per key of ``keys``, how many of ``words`` its title holds."""
        hits = np.zeros(len(keys), dtype=np.int64)
        for w in words:
            i = self._ids.get(w)
            if i is None:
                continue
            have = self._keys[self._starts[i] : self._starts[i + 1]]
            at = np.minimum(np.searchsorted(have, keys), len(have) - 1)
            hits += have[at] == keys
        return hits


def empty_result(doc_cols: list[str]) -> pd.DataFrame:
    """The answer of a query without candidates."""
    return pd.DataFrame(columns=[*doc_cols, "doc_key", "occurrence", "tf_idf_weight",
                                 "page_rank", "keyword_match", "score"])


def score_cut(
    plan: QueryPlan,
    keys: np.ndarray,
    occ: np.ndarray,
    tfs: dict[str, np.ndarray],
    idf: dict[str, float],
    ntf: np.ndarray,
    titles: list[str],
    title_words: TitleWords,
    page_rank: np.ndarray,
    doc_cols: list[str],
    limit: int | None = None,
) -> pd.DataFrame:
    """Score one query's ≤ 250-doc cut (``Ranker.java:207-255``) and rank
    it: the one scorer of both tiers.  Per cut doc (any order): ``keys``
    and ``occ``; per matched term its tf (NaN where the term misses the
    doc or Q5 dropped it); ``ntf`` (NaN without a row); ``titles`` (``""``
    for a missing row or null title); ``page_rank`` (0 without a prior).
    ``title_words`` indexes the words of every non-blank title among
    ``keys``: the preloaded engine's holds the whole doc_meta table,
    tokenized once at open; the degraded engine and the distributed
    ranker build one per query over the cut's titles.  Only the raw
    query-in-title check reads ``titles``.  ``idf`` holds the query
    words' idfs; an absent word scores idf 0 (Q8).  Rows come back by
    score desc, doc key asc, NaN scores last in doc-key order; ``limit``
    truncates after ranking."""
    weight = np.zeros(len(keys), dtype=np.float64)
    nan_col = np.full(len(keys), np.nan)
    # Java accumulates over wordCount.entrySet() in HashMap bucket
    # order (Ranker.java:232-249); float addition is non-associative,
    # so the iteration order is part of bit-exactness (pinned against
    # the compiled reference in tests/test_javadiff_scoring.py)
    for w in java_hashmap_value_order(list(plan.word_count)):
        qtf = plan.word_count[w]
        w_idf = idf.get(w, 0.0)
        # Java Math.pow semantics (Ranker.java:249): negative base with
        # fractional exponent is NaN.  Python float ** returns a complex
        # here, which crashed the weight accumulation for any
        # corpus-ubiquitous term (Q3's df+1 makes idf = ln(n/(n+1)) < 0
        # when df == n); Java's NaN·0.0 = NaN then poisons every doc.
        idf_pow = w_idf ** 1.5 if w_idf >= 0.0 else float("nan")
        tf = tfs.get(w, nan_col)
        wf = np.where(np.isnan(tf) | (ntf == 0) | np.isnan(ntf), 0.0, tf / np.where(ntf == 0, 1, ntf))
        weight += qtf * idf_pow * wf
    # title bonus (Ranker.java:211-230): 10 if the title holds the raw
    # query, else 10·overlap when the overlap, the share of the query's
    # words the title holds, is ≥ 0.6 (Ranker.java:223 splits each title
    # like the query)
    hits = title_words.hits(plan.sw_set, keys)
    if "" in plan.sw_set:
        # a blank title splits to [""]
        hits += np.fromiter((not t for t in titles), np.int64, len(titles))
    overlap = hits / len(plan.sw_set)
    kw = np.where(overlap >= 0.6, overlap * 10, 0.0)
    kw[np.fromiter((plan.query in t for t in titles), bool, len(titles))] = 10.0
    # static prior: 0.75·pagerank (Ranker.java:255)
    score = 3 * weight + 0.75 * page_rank + kw
    rank = np.lexsort((keys, -score))[:limit]
    return pd.DataFrame(
        {
            **doc_key_columns(keys[rank], doc_cols),
            "doc_key": keys[rank],
            "occurrence": occ[rank],
            "tf_idf_weight": weight[rank],
            "page_rank": page_rank[rank],
            "keyword_match": kw[rank],
            "score": score[rank],
        }
    )


class RankerEngine:
    """The reference scorer over an :class:`IndexReader`; preloads the
    index for p95 latency while it fits."""

    def __init__(
        self,
        spark: SparkSession,
        paths: IndexPaths,
        preload: bool | None = None,
        preload_max_bytes: int | None = None,
    ) -> None:
        """``preload=None`` (default) decides automatically: preload while
        the block table is under ``preload_max_bytes`` (default
        ``index_reader.PRELOAD_MAX_BYTES``), else degrade to pruned
        per-query reads.  Explicit True/False forces a mode (tests;
        callers that know)."""
        self.spark = spark
        self.paths = paths
        self.reader = IndexReader(spark, paths, preload, preload_max_bytes)
        self.preloaded = self.reader.preloaded
        self.doc_cols: list[str] = self.reader.doc_cols
        # optional static prior (the reference's pageranks table,
        # Ranker.java:112-120); absent ⇒ every doc's prior is 0
        self._has_pagerank = self.reader.tables[paths.pageranks] is not None
        #: every doc_meta title's words, while preloaded; degraded
        #: queries index their cut's titles
        self._title_words: TitleWords | None = None
        if self.preloaded:
            self.reader.load_docs(paths.doc_stats, ("ntf",))
            meta = self.reader.load_docs(paths.doc_meta, ("title", "snippet"))
            self._title_words = TitleWords(meta.keys, meta.vals[:, 0])
            if self._has_pagerank:
                self.reader.load_docs(paths.pageranks, ("rank",))

    # ------------------------------------------------------- doc lookups

    def _ntf_for(self, keys: np.ndarray) -> np.ndarray:
        """ntf per candidate; NaN for a doc without a row."""
        ntf = self.reader.doc_values(self.paths.doc_stats, ("ntf",), keys, np.nan)
        return ntf.astype(np.float64, copy=False)

    def _pagerank_for(self, keys: np.ndarray) -> np.ndarray:
        """Static prior per candidate: 0 when the artifact is absent, the
        doc has no rank row (reference default) or its stored rank is
        NaN."""
        if not self._has_pagerank:
            return np.zeros(len(keys), dtype=np.float64)
        rank = self.reader.doc_values(self.paths.pageranks, ("rank",), keys, 0.0)
        rank = rank.astype(np.float64, copy=False)
        return np.where(np.isnan(rank), 0.0, rank)

    def _titles_for(self, keys: np.ndarray) -> list[str]:
        """Title per candidate; a missing row or a null title is ``""``."""
        titles = self.reader.doc_values(self.paths.doc_meta, ("title",), keys, None)
        return [t if isinstance(t, str) else "" for t in titles]

    def _meta_for(self, keys: np.ndarray) -> np.ndarray:
        """(title, snippet) rows per candidate key, preserving key order;
        rows absent from doc_meta come back as None (serialized like Gson
        serializes a null field: omitted)."""
        return self.reader.doc_values(
            self.paths.doc_meta, ("title", "snippet"), keys, None
        )

    # ---------------------------------------------------------- search

    def search(self, query: str, limit: int | None = None) -> pd.DataFrame:
        """Full ranked results (reference steps 1-11); ``limit`` truncates
        after ranking (pagination is a driver-side slice, as in the
        reference)."""
        plan = plan_query(query)
        if plan is None:
            return empty_result(self.doc_cols)
        # the idfs of every query word ride the first pass's fetch
        self.reader.fetch(plan.first_order, stats_only=plan.words_set_order)
        keys, occ, tfs = candidates(plan.first_order, self.reader.postings)
        if plan.expands(len(keys)):
            self.reader.fetch(plan.words_set_order)
            keys, occ, tfs = candidates(plan.words_set_order, self.reader.postings)
        if not len(keys):
            return empty_result(self.doc_cols)
        cut = top_cut(keys, occ)
        keys = keys[cut]
        titles = self._titles_for(keys)
        return score_cut(
            plan,
            keys,
            occ[cut],
            {t: col[cut] for t, col in tfs.items()},
            {w: self.reader.idf(w) for w in plan.word_count},
            self._ntf_for(keys),
            titles,
            self._title_words or TitleWords(keys, titles),
            self._pagerank_for(keys),
            self.doc_cols,
            limit,
        )

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
