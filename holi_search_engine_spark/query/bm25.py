"""BM25 top-k with block-max WAND over the compressed block index.

This is the scale-mode query path the north rule asks for on top of the
reference-semantics ranker: proper Robertson BM25 with k1/b knobs (pinned
at index build — see ``plans/compression.py``) and document-at-a-time WAND
with per-block upper bounds, so hot terms' posting lists are skipped in
block units rather than decoded in full.

The skipping scorer is a block-RANGE sweep (document-at-a-time at block
granularity): the key space is consumed in ranges bounded by the earliest
current-block end across the query's terms; a range whose summed
block-max bounds cannot reach θ is skipped without decoding, otherwise
its blocks decode once and score vectorized.  Python work is O(blocks),
not O(postings).  Pruning uses ``< θ`` (not ``≤``) so exact score ties
still resolve by the doc-asc tie-break, making the top-k exactly equal
to brute force — ``tests/test_bm25.py`` asserts doc-and-score equality.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from ..plans.compression import (
    BM25_B,
    BM25_K1,
    DocKeyLookup,
    decode_block,
    doc_key_columns,
)
from ..functions.javacompat import RE_QUERY_PUNCT as _RE_PUNCT  # ONE alphabet
from ..plans.index_build import IndexPaths
from .index_reader import IndexReader


def bm25_terms(query: str) -> list[str]:
    """The BM25 query terms: punctuation → space, lowercased, split on
    whitespace, duplicates dropped in first-seen order."""
    return list(dict.fromkeys(_RE_PUNCT.sub(" ", query).strip().lower().split()))


def bm25_idf(n_docs: int, df: int) -> float:
    """Robertson-Sparck-Jones idf with the +1 floor (Lucene form)."""
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


class _TermSweep:
    """Per-term state for the block-range sweep: block metadata arrays,
    lazy block decode (with floor slicing for partially skipped blocks),
    and a consumption offset within the decoded block."""

    __slots__ = (
        "key_min_arr", "key_max_arr", "ub_arr", "doc_bytes", "tf_bytes",
        "weight", "dl_norm", "n_blocks", "bi", "keys", "scores", "pos",
        "floor", "decode_counter",
    )

    def __init__(
        self,
        blocks: pd.DataFrame,
        weight: float,
        dl_norm: DocKeyLookup,
        decode_counter: list[int] | None = None,
    ) -> None:
        self.key_min_arr = blocks["key_min"].to_numpy(dtype=np.int64)
        self.key_max_arr = blocks["key_max"].to_numpy(dtype=np.int64)
        self.ub_arr = blocks["ub_bm25"].to_numpy(dtype=np.float64)
        self.doc_bytes = blocks["doc_bytes"].tolist()
        self.tf_bytes = blocks["tf_bytes"].tolist()
        self.weight = weight
        self.dl_norm = dl_norm
        self.n_blocks = len(blocks)
        self.bi = 0
        self.keys: np.ndarray | None = None
        self.scores: np.ndarray | None = None
        self.pos = 0
        # keys ≤ floor of the CURRENT block were skipped while the block
        # was still encoded; applied as a slice if the block decodes later
        self.floor = -1
        self.decode_counter = decode_counter if decode_counter is not None else [0]

    def exhausted(self) -> bool:
        return self.bi >= self.n_blocks

    def block_min(self) -> int:
        return int(self.key_min_arr[self.bi])

    def block_max(self) -> int:
        return int(self.key_max_arr[self.bi])

    def block_ub(self) -> float:
        return self.weight * float(self.ub_arr[self.bi])

    def advance_block(self) -> None:
        self.bi += 1
        self.keys = None
        self.scores = None
        self.pos = 0
        self.floor = -1

    def ensure_decoded(self) -> None:
        if self.keys is not None:
            return
        self.decode_counter[0] += 1
        keys, tfs = decode_block(self.doc_bytes[self.bi], self.tf_bytes[self.bi])
        self.keys = keys.astype(np.int64)
        tf = tfs.astype(np.float64)
        norm = self.dl_norm(self.keys)
        self.scores = self.weight * tf * (BM25_K1 + 1.0) / (tf + BM25_K1 * norm)
        self.pos = (
            int(np.searchsorted(self.keys, self.floor, side="right"))
            if self.floor >= 0
            else 0
        )

    def skip_through(self, end: int) -> None:
        """Mark postings ≤ end consumed WITHOUT decoding; advance if the
        whole block is behind ``end``."""
        if self.block_max() <= end:
            self.advance_block()
        elif self.block_min() <= end:
            if self.keys is not None:
                self.pos = int(np.searchsorted(self.keys, end, side="right"))
            else:
                self.floor = max(self.floor, end)

    def take_through(self, end: int) -> tuple[np.ndarray, np.ndarray] | None:
        """Decode (if needed) and consume postings ≤ end; returns the
        (keys, scores) slice, or None when the block starts after end."""
        if self.block_min() > end:
            return None
        self.ensure_decoded()
        hi = int(np.searchsorted(self.keys, end, side="right"))
        lo = self.pos
        self.pos = hi
        out = (self.keys[lo:hi], self.scores[lo:hi])
        if self.block_max() <= end:
            self.advance_block()
        return out


def block_sweep_topk(
    sweeps: list[_TermSweep],
    k: int,
    lo: int | None = None,
    hi: int | None = None,
) -> list[tuple[int, float]]:
    """Exact top-k over a set of term sweeps via the block-range sweep
    (document-at-a-time at BLOCK granularity).

    Repeatedly take the key range [.., end] up to the earliest
    current-block end across live terms.  Every posting ≤ end lives in
    the terms' CURRENT blocks (earlier blocks are consumed, later blocks
    start after end), so the range's score bound is the sum of the
    overlapping blocks' block-max bounds — if it cannot reach θ the whole
    range is skipped WITHOUT decoding; otherwise the range is decoded and
    scored vectorized (per-doc totals via one unique+add.at, top-k via
    one lexsort).  Python work is O(total blocks), not O(total postings)
    — the per-doc WAND pivot loop this replaced cost ~8µs/posting and
    dominated query p95.  Exactness (incl. the doc-asc tie-break) is
    property-tested against brute force in ``tests/test_bm25.py``.

    ``lo``/``hi`` restrict scoring to doc keys in [lo, hi] — the
    doc-range partition contract of the distributed top-k (every posting
    of a doc shares its key, so a range sees each doc's FULL score or
    none of it; per-range top-ks union exactly).
    """
    top_keys = np.empty(0, dtype=np.int64)
    top_scores = np.empty(0, dtype=np.float64)
    theta = -math.inf
    if lo is not None and lo > 0:
        for s in sweeps:
            while not s.exhausted() and s.block_max() < lo:
                s.advance_block()
            if not s.exhausted():
                s.skip_through(lo - 1)

    while True:
        live = [s for s in sweeps if not s.exhausted()]
        if hi is not None:
            live = [s for s in live if s.block_min() <= hi]
        if not live:
            break
        end = min(s.block_max() for s in live)
        final = hi is not None and end >= hi
        if final:
            end = hi
        bound = sum(s.block_ub() for s in live if s.block_min() <= end)
        if len(top_keys) == k and bound < theta:
            # < θ strictly: ranges that could TIE still decode, so the
            # doc-asc tie-break stays exactly equal to brute force
            for s in live:
                s.skip_through(end)
        else:
            pieces = [
                p for s in live for p in (s.take_through(end),) if p is not None
            ]
            kparts = [p[0] for p in pieces if len(p[0])]
            if kparts:
                if len(kparts) == 1:
                    uk, agg = kparts[0], [p[1] for p in pieces if len(p[0])][0]
                else:
                    keys_cat = np.concatenate(kparts)
                    sc_cat = np.concatenate([p[1] for p in pieces if len(p[0])])
                    uk, inv = np.unique(keys_cat, return_inverse=True)
                    agg = np.zeros(len(uk), dtype=np.float64)
                    np.add.at(agg, inv, sc_cat)
                ks = np.concatenate([top_keys, uk])
                sc = np.concatenate([top_scores, agg])
                order = np.lexsort((ks, -sc))[:k]
                top_keys, top_scores = ks[order], sc[order]
                if len(top_keys) == k:
                    theta = float(top_scores[-1])
        if final:  # the range is fully consumed at hi — a block spanning
            break  # hi would otherwise pin end==hi forever
    return list(zip(top_keys.tolist(), top_scores.tolist()))


class BM25Engine:
    """Driver-side BM25 engine over an :class:`IndexReader`.

    Preloaded mode (small indexes) holds the block BYTES in-process and
    decodes lazily per touched block.  Above the block-table size
    threshold (``index_reader.PRELOAD_MAX_BYTES``) the reader
    auto-degrades: each query fetches only its own terms' blocks and df
    rows, one term-pruned read of each per query (LRU-cached) — identical
    results, no caller change.  Doc-length norms stay preloaded in both
    modes: at 16 B/doc they are orders of magnitude smaller than the
    block table, and WAND consults them per decoded posting; the corpus
    size where *they* no longer fit is the documented hand-off to
    ``query/distributed.py``."""

    def __init__(
        self,
        spark: SparkSession,
        paths: IndexPaths,
        preload: bool | None = None,
        preload_max_bytes: int | None = None,
    ) -> None:
        self.spark = spark
        self.paths = paths
        self.reader = IndexReader(spark, paths, preload, preload_max_bytes)
        self.preloaded = self.reader.preloaded
        meta = self.reader.meta
        self.doc_cols: list[str] = meta["doc_cols"]
        self.n_docs: int = meta["n_docs"]
        self.avgdl: float = meta.get("avgdl") or 1.0
        dl = self.reader.read_docs(paths.doc_stats, ("dl",))
        self._dl_norm = DocKeyLookup(
            dl.keys,
            1.0 - BM25_B + BM25_B * dl.vals.astype(np.float64) / self.avgdl,
        )
        # instrumentation for skip-rate tests: count of blocks actually
        # decoded by WAND cursors (shared mutable cell, summed per search)
        self._decode_counter: list[int] = [0]
        self._score_cache: dict[str, tuple[np.ndarray, np.ndarray]] = {}

    @property
    def blocks_decoded(self) -> int:
        return self._decode_counter[0]

    def total_blocks(self, query: str) -> int:
        """Number of index blocks the query's terms hold in total (the
        decode count a skip-free scorer would pay)."""
        terms = bm25_terms(query)
        self.reader.fetch(terms)
        return sum(
            len(g) for g in (self.reader.blocks(t) for t in terms) if g is not None
        )

    def _weight(self, term: str) -> float:
        return bm25_idf(self.n_docs, self.reader.df(term))

    def search_and(self, query: str, k: int = 10) -> pd.DataFrame:
        """Conjunctive (AND) exact BM25 top-k: only docs containing EVERY
        query term.  Uses :func:`block_sweep_topk_and`, whose gap prune
        skips hot terms' blocks between the rarest term's docs without
        decoding; dense conjunctions route to the vectorized path."""
        terms = bm25_terms(query)
        self.reader.fetch(terms)
        term_blocks = [(t, self.reader.blocks(t)) for t in terms]
        if any(g is None for _, g in term_blocks) or not term_blocks:
            return self._to_frame([])  # a missing term empties the AND
        # candidate mass is bounded by the RAREST term's list.  Route to
        # the gap-pruned sweep when the rarest list is small in absolute
        # terms OR small RELATIVE to the union: for "rare-ish AND
        # enormous" (df 10k vs 10M) the sweep still wins by jumping the
        # huge list in block units between the rare docs, while brute
        # force pays the full union decode.  Brute-force only when the
        # lists are comparably sized (no gap to exploit) or single-term.
        dfs = [self.reader.df(t) for t, _ in term_blocks]
        rarest, total = min(dfs), sum(dfs)
        if len(term_blocks) == 1 or (
            rarest > self.TAAT_THRESHOLD and total < self.AND_ASYM_RATIO * rarest
        ):
            return self.search_bruteforce_and(query, k)
        sweeps = [
            _TermSweep(g, self._weight(t), self._dl_norm, self._decode_counter)
            for t, g in term_blocks
        ]
        if any(s.exhausted() for s in sweeps):
            return self._to_frame([])
        return self._to_frame(block_sweep_topk_and(sweeps, k, len(sweeps)))

    def search_bruteforce_and(self, query: str, k: int = 10) -> pd.DataFrame:
        """Exhaustive conjunctive scoring: per-doc sums kept only where
        every term matched (each term contributes one posting per doc, so
        the match count equals the term count exactly there)."""
        terms = bm25_terms(query)
        self.reader.fetch(terms)
        key_parts: list[np.ndarray] = []
        score_parts: list[np.ndarray] = []
        for t in terms:
            if self.reader.blocks(t) is None:
                return self._to_frame([])
            keys, scores = self._term_scores(t)
            key_parts.append(keys)
            score_parts.append(scores)
        if not key_parts:
            return self._to_frame([])
        uniq, inv, cnt = np.unique(
            np.concatenate(key_parts), return_inverse=True, return_counts=True
        )
        acc = np.bincount(inv, weights=np.concatenate(score_parts))
        full = np.flatnonzero(cnt == len(terms))
        if not len(full):
            return self._to_frame([])
        order = full[np.lexsort((uniq[full], -acc[full]))][:k]
        return self._to_frame([(int(uniq[i]), float(acc[i])) for i in order])

    def search_bruteforce(self, query: str, k: int = 10) -> pd.DataFrame:
        """Exhaustive vectorized term-at-a-time scoring — exact, and faster
        than WAND when the query's posting mass is dense (stopword-heavy
        queries score nearly every document, so skipping buys nothing and
        the per-pivot loop loses to array math)."""
        terms = bm25_terms(query)
        self.reader.fetch(terms)
        key_parts: list[np.ndarray] = []
        score_parts: list[np.ndarray] = []
        for t in terms:
            if self.reader.blocks(t) is None:
                continue
            keys, scores = self._term_scores(t)
            key_parts.append(keys)
            score_parts.append(scores)
        if not key_parts:
            return self._to_frame([])
        uniq, inv = np.unique(np.concatenate(key_parts), return_inverse=True)
        acc = np.bincount(inv, weights=np.concatenate(score_parts))
        if len(acc) > k:
            thr = np.partition(acc, len(acc) - k)[len(acc) - k]
            cand = np.flatnonzero(acc >= thr)  # ≥ keeps score ties for the
        else:  # doc-asc tie-break below
            cand = np.arange(len(acc))
        order = cand[np.lexsort((uniq[cand], -acc[cand]))][:k]
        return self._to_frame([(int(uniq[i]), float(acc[i])) for i in order])

    #: per-term scores over the reader's decoded postings: Zipf-head
    #: terms recur across queries, and their length-norm lookup costs
    #: more than the decode the reader already caches
    SCORE_CACHE_TERMS = 64

    def _term_scores(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        """(doc_keys, bm25_scores) for one term; small LRU."""
        hit = self._score_cache.get(term)
        if hit is not None:
            self._score_cache[term] = self._score_cache.pop(term)  # refresh
            return hit
        keys, tf = self.reader.postings(term)
        norm = self._dl_norm(keys)
        w = self._weight(term)
        scores = w * tf * (BM25_K1 + 1.0) / (tf + BM25_K1 * norm)
        if len(self._score_cache) >= self.SCORE_CACHE_TERMS:
            self._score_cache.pop(next(iter(self._score_cache)))
        self._score_cache[term] = (keys, scores)
        return keys, scores

    # Above this many total postings across the query's terms, the
    # vectorized exhaustive path beats the per-pivot WAND loop: when the
    # block-max bounds cannot prune (uniform score mass), WAND degenerates
    # to per-document Python over the posting union (~8µs/doc) while the
    # numpy path costs ~50ns/posting — the crossover is a few thousand.
    TAAT_THRESHOLD = 5_000

    # Conjunctive asymmetry ratio: when the posting-union exceeds this
    # multiple of the rarest list, the AND sweep's gap jumps amortize the
    # per-block Python even for a large rarest list (it touches O(union
    # blocks) at worst but usually far fewer; brute force always decodes
    # the full union).
    AND_ASYM_RATIO = 8

    def search(self, query: str, k: int = 10) -> pd.DataFrame:
        """Exact BM25 top-k: block-max WAND with block-granular skipping,
        switching to the vectorized exhaustive path for dense queries
        (both are exact with the same doc-asc tie-break)."""
        terms = bm25_terms(query)
        self.reader.fetch(terms)
        term_blocks = [(t, self.reader.blocks(t)) for t in terms]
        total = sum(self.reader.df(t) for t, g in term_blocks if g is not None)
        n_live = sum(1 for _, g in term_blocks if g is not None)
        # single-term queries: block-max bounds cannot prune (every block
        # of the one list is a candidate until the heap fills with ITS own
        # scores), so WAND degenerates to a per-posting Python loop; the
        # vectorized exhaustive path is exact and ~100x cheaper per posting
        if total > self.TAAT_THRESHOLD or n_live <= 1:
            return self.search_bruteforce(query, k)
        sweeps = [
            _TermSweep(g, self._weight(t), self._dl_norm, self._decode_counter)
            for t, g in term_blocks
            if g is not None
        ]
        sweeps = [s for s in sweeps if not s.exhausted()]
        if not sweeps:
            return self._to_frame([])
        return self._to_frame(block_sweep_topk(sweeps, k))

    def _to_frame(self, pairs: list[tuple[int, float]]) -> pd.DataFrame:
        keys = np.array([d for d, _ in pairs], dtype=np.int64)
        return pd.DataFrame(
            {
                **doc_key_columns(keys, self.doc_cols),
                "score": np.array([s for _, s in pairs], dtype=np.float64),
            }
        )


def block_sweep_topk_and(
    sweeps: list[_TermSweep], k: int, m: int
) -> list[tuple[int, float]]:
    """Conjunctive (AND) exact top-k: only docs matched by ALL ``m`` terms
    score.  Same range sweep as :func:`block_sweep_topk`, with two extra
    prunes the conjunction makes sound:

    - if ANY term is exhausted, no further doc can match — stop;
    - if ANY term's current block starts after the range end, no doc in
      the range has that term — skip the whole range WITHOUT decoding
      (this is the next_geq-style gap jump; with one rare term the hot
      terms' lists are skipped in block units between the rare docs).
    """
    top_keys = np.empty(0, dtype=np.int64)
    top_scores = np.empty(0, dtype=np.float64)
    theta = -math.inf

    while True:
        if any(s.exhausted() for s in sweeps):
            break
        end = min(s.block_max() for s in sweeps)
        gap = any(s.block_min() > end for s in sweeps)
        bound = sum(s.block_ub() for s in sweeps)
        if gap or (len(top_keys) == k and bound < theta):
            for s in sweeps:
                s.skip_through(end)
            continue
        pieces = [s.take_through(end) for s in sweeps]
        kparts = [p[0] for p in pieces if p is not None and len(p[0])]
        if len(kparts) < m:
            continue
        keys_cat = np.concatenate(kparts)
        sc_cat = np.concatenate(
            [p[1] for p in pieces if p is not None and len(p[0])]
        )
        uk, inv, cnt = np.unique(keys_cat, return_inverse=True, return_counts=True)
        agg = np.zeros(len(uk), dtype=np.float64)
        np.add.at(agg, inv, sc_cat)
        full = cnt == m  # doc matched by every term (one posting per term)
        uk, agg = uk[full], agg[full]
        if not len(uk):
            continue
        ks = np.concatenate([top_keys, uk])
        sc = np.concatenate([top_scores, agg])
        order = np.lexsort((ks, -sc))[:k]
        top_keys, top_scores = ks[order], sc[order]
        if len(top_keys) == k:
            theta = float(top_scores[-1])
    return list(zip(top_keys.tolist(), top_scores.tolist()))
