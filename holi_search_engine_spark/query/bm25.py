"""BM25 top-k with block-max WAND over the compressed block index.

This is the scale-mode query path the north rule asks for on top of the
reference-semantics ranker: proper Robertson BM25 with k1/b knobs (pinned
at index build — see ``plans/compression.py``) and document-at-a-time WAND
with per-block upper bounds, so hot terms' posting lists are skipped in
block units rather than decoded in full.

One scorer serves disjunction (OR) and conjunction (AND): both score the
docs that at least ``need`` of the query's ``n`` terms match, ``need`` = 1
for OR and ``n`` for AND (WAND's weighted threshold over the query terms,
Broder et al., CIKM 2003).  :func:`block_sweep_topk` is the skipping
scorer, a block-RANGE sweep (document-at-a-time at block granularity):
the key space is consumed in ranges bounded by the earliest current-block
end across the live terms; a range that fewer than ``need`` terms' blocks
overlap, or whose summed block-max bounds cannot reach θ, is skipped
without decoding, otherwise its blocks decode once and score vectorized.
With ``need`` = ``n`` the first skip is the conjunction's gap jump: a hot
term's blocks are passed over between the rare term's docs.  Python work
is O(blocks), not O(postings).  Pruning uses ``< θ`` (not ``≤``) so exact
score ties still resolve by the doc-asc tie-break, making the top-k
exactly equal to brute force — ``tests/test_bm25.py`` asserts
doc-and-score equality.

One rule routes a query between the sweep and the exhaustive scorer.
Let ``mass`` be the summed df of the ``n − need + 1`` rarest terms: by
pigeonhole a doc that ``need`` of the ``n`` terms match is in at least one
of those lists, so ``mass`` bounds the candidates.  The exhaustive path
is taken for a single term (block-max bounds cannot prune one list), and
when ``mass`` exceeds ``TAAT_THRESHOLD`` while the union's postings stay
under ``AND_ASYM_RATIO · mass`` (dense, with no gap for the sweep to
jump).  For OR, ``mass`` is the union itself.

Each block is decoded and scored at most once per open engine: the first
read of a block, by either path, fills its slot in the term's
:class:`~.index_reader.BlockCache` with ``(doc keys, BM25 scores)``, and
every later read is a slice.  The sweep fills only the blocks it does
not skip; the exhaustive path reads every block of its terms.  Every
path returns ``(int64 doc keys, float64 scores)`` in rank order.
"""

from __future__ import annotations

import math
from collections.abc import Iterable

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
from .index_reader import BlockCache, IndexReader

_NO_ROWS = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))


def bm25_terms(query: str) -> list[str]:
    """The BM25 query terms: punctuation → space, lowercased, split on
    whitespace, duplicates dropped in first-seen order."""
    return list(dict.fromkeys(_RE_PUNCT.sub(" ", query).strip().lower().split()))


def bm25_idf(n_docs: int, df: int) -> float:
    """Robertson-Sparck-Jones idf with the +1 floor (Lucene form)."""
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def _scored_block(
    cache: BlockCache, bi: int, weight: float, dl_norm: DocKeyLookup
) -> tuple[np.ndarray, np.ndarray]:
    """Block ``bi`` of a term as (int64 doc keys, float64 BM25 scores):
    decoded and scored on its first read, the cached slot after."""
    slot = cache.slots[bi]
    if slot is None:
        g = cache.blocks
        keys, tfs = decode_block(g.doc_bytes[bi], g.tf_bytes[bi])
        keys = keys.astype(np.int64)
        tf = tfs.astype(np.float64)
        scores = weight * tf * (BM25_K1 + 1.0) / (tf + BM25_K1 * dl_norm(keys))
        slot = cache.fill(bi, keys, scores)
    return slot


class _TermSweep:
    """Per-term state for the block-range sweep over a term's
    :class:`BlockCache`: lazy block reads (with floor slicing for
    partially skipped blocks) and a consumption offset within the read
    block.  ``decode_counter`` counts the blocks the sweep reads, from
    the cache or not."""

    __slots__ = (
        "key_min_arr", "key_max_arr", "ub_arr", "cache", "weight", "dl_norm",
        "n_blocks", "bi", "keys", "scores", "pos", "floor", "decode_counter",
    )

    def __init__(
        self,
        cache: BlockCache,
        weight: float,
        dl_norm: DocKeyLookup,
        decode_counter: list[int] | None = None,
    ) -> None:
        blocks = cache.blocks
        self.key_min_arr = blocks.key_min
        self.key_max_arr = blocks.key_max
        self.ub_arr = blocks.ub_bm25
        self.cache = cache
        self.weight = weight
        self.dl_norm = dl_norm
        self.n_blocks = len(blocks)
        self.bi = 0
        self.keys: np.ndarray | None = None
        self.scores: np.ndarray | None = None
        self.pos = 0
        # keys ≤ floor of the CURRENT block were skipped while the block
        # was still unread; applied as a slice if the block is read later
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
        self.keys, self.scores = _scored_block(
            self.cache, self.bi, self.weight, self.dl_norm
        )
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

    def take_through(self, end: int) -> tuple[np.ndarray, np.ndarray]:
        """Decode (if needed) and consume postings ≤ end of a block that
        starts at or before ``end``; returns the (keys, scores) slice."""
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
    need: int = 1,
) -> tuple[np.ndarray, np.ndarray]:
    """Exact top-k, as (int64 doc keys, float64 scores) in rank order,
    of the docs that at least ``need`` of the term sweeps match, via the
    block-range sweep (document-at-a-time at BLOCK granularity).

    Repeatedly take the key range [.., end] up to the earliest
    current-block end across live terms.  Every posting ≤ end lives in
    the terms' CURRENT blocks (earlier blocks are consumed, later blocks
    start after end), so only the terms whose current block starts at or
    before end can match a doc of the range.  If fewer than ``need`` of
    them do, or the sum of their block-max bounds cannot reach θ, the
    whole range is skipped WITHOUT decoding; otherwise the range is
    decoded and scored vectorized (per-doc totals via one unique+add.at,
    docs with fewer than ``need`` postings dropped, top-k via one
    lexsort).  The sweep stops once fewer than ``need`` terms are live.
    Python work is O(total blocks), not O(total postings) — the per-doc
    WAND pivot loop this replaced cost ~8µs/posting and dominated query
    p95.  Exactness (incl. the doc-asc tie-break) is property-tested
    against brute force in ``tests/test_bm25.py``.

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
        if len(live) < need:
            break
        end = min(s.block_max() for s in live)
        final = hi is not None and end >= hi
        if final:
            end = hi
        over = [s for s in live if s.block_min() <= end]
        if len(over) < need or (
            len(top_keys) == k and sum(s.block_ub() for s in over) < theta
        ):
            # < θ strictly: ranges that could TIE still decode, so the
            # doc-asc tie-break stays exactly equal to brute force
            for s in over:
                s.skip_through(end)
        else:
            pieces = [p for p in (s.take_through(end) for s in over) if len(p[0])]
            if len(pieces) >= need:
                if len(pieces) == 1:
                    uk, agg = pieces[0]
                else:
                    # a doc has one posting per term; counted only when
                    # a doc needs more than one
                    uk, inv, *cnt = np.unique(
                        np.concatenate([p[0] for p in pieces]),
                        return_inverse=True,
                        return_counts=need > 1,
                    )
                    agg = np.zeros(len(uk), dtype=np.float64)
                    np.add.at(agg, inv, np.concatenate([p[1] for p in pieces]))
                    if need > 1:
                        matched = cnt[0] >= need
                        uk, agg = uk[matched], agg[matched]
                if len(uk):
                    ks = np.concatenate([top_keys, uk])
                    sc = np.concatenate([top_scores, agg])
                    order = np.lexsort((ks, -sc))[:k]
                    top_keys, top_scores = ks[order], sc[order]
                    if len(top_keys) == k:
                        theta = float(top_scores[-1])
        if final:  # the range is fully consumed at hi — a block spanning
            break  # hi would otherwise pin end==hi forever
    return top_keys, top_scores


class BM25Engine:
    """Driver-side BM25 engine over an :class:`IndexReader`.

    The engine starts no Spark job: the reader reads the files of the
    snapshot it took at open with Arrow.  Preloaded mode (small indexes)
    holds the block BYTES in-process and decodes lazily per touched block,
    once per open: a block's doc keys and scores stay in the reader's LRU
    (``IndexReader.block_cache``, capped in terms and bytes) for every
    later query that reads it.  Above the block-table size threshold
    (``index_reader.PRELOAD_MAX_BYTES``) the reader auto-degrades: each
    query reads only its own terms' blocks (from the files of their
    buckets) and df rows, one term-filtered read of each per query
    (LRU-cached) — identical results, no caller change; the blocks it
    reads are scored once as long as its entry stays in the LRU.
    Doc-length norms stay preloaded in both modes: at 16 B/doc they are
    orders of magnitude smaller than the block table, and WAND consults
    them per decoded posting; the corpus size where *they* no longer fit
    is the documented hand-off to ``query/distributed.py``."""

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
        # instrumentation for skip-rate tests: count of blocks the WAND
        # cursors read, from the cache or not (shared mutable cell)
        self._decode_counter: list[int] = [0]

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

    # Above this many postings in the candidate lists (``mass``, see the
    # module docstring), the vectorized exhaustive path beats the sweep:
    # when the block-max bounds cannot prune (uniform score mass), WAND
    # degenerates to per-document Python over the posting union (~8µs/doc)
    # while the numpy path costs ~50ns/posting — the crossover is a few
    # thousand.
    TAAT_THRESHOLD = 5_000

    # Asymmetry ratio: when the posting union exceeds this multiple of
    # ``mass``, the sweep's gap jumps amortize the per-block Python even
    # for a large ``mass`` (it touches O(union blocks) at worst but
    # usually far fewer; brute force always decodes the full union).
    AND_ASYM_RATIO = 8

    def search(self, query: str, k: int = 10) -> pd.DataFrame:
        """Exact BM25 top-k (OR): block-max WAND with block-granular
        skipping, switching to the vectorized exhaustive path for dense
        queries (both are exact with the same doc-asc tie-break)."""
        return self._search(query, k, conjunctive=False, exhaustive=False)

    def search_and(self, query: str, k: int = 10) -> pd.DataFrame:
        """Conjunctive (AND) exact BM25 top-k: only docs containing EVERY
        query term.  The sweep's gap prune skips hot terms' blocks between
        the rarest term's docs without decoding; dense conjunctions route
        to the vectorized path."""
        return self._search(query, k, conjunctive=True, exhaustive=False)

    def search_bruteforce(self, query: str, k: int = 10) -> pd.DataFrame:
        """Exhaustive vectorized term-at-a-time scoring — exact, and faster
        than WAND when the query's posting mass is dense (stopword-heavy
        queries score nearly every document, so skipping buys nothing and
        the per-pivot loop loses to array math)."""
        return self._search(query, k, conjunctive=False, exhaustive=True)

    def search_bruteforce_and(self, query: str, k: int = 10) -> pd.DataFrame:
        """Exhaustive conjunctive scoring: per-doc sums kept only where
        every term matched."""
        return self._search(query, k, conjunctive=True, exhaustive=True)

    def _search(
        self, query: str, k: int, conjunctive: bool, exhaustive: bool
    ) -> pd.DataFrame:
        """The body of the four searches: one fetch of the query's terms,
        ``need`` = every term (AND) or 1 (OR), then the sweep or the
        exhaustive scorer by the routing rule of the module docstring,
        unless ``exhaustive`` forces the latter."""
        if k < 1:
            raise ValueError(f"k must be at least 1, got {k}")
        terms = bm25_terms(query)
        self.reader.fetch(terms)
        caches = {t: c for t in terms if (c := self.reader.block_cache(t)) is not None}
        need = len(terms) if conjunctive else 1
        if not caches or len(caches) < need:  # AND: a missing term empties it
            return self._to_frame(*_NO_ROWS)
        dfs = [self.reader.df(t) for t in caches]
        weights = [bm25_idf(self.n_docs, df) for df in dfs]
        mass = sum(sorted(dfs)[: len(dfs) - need + 1])
        if exhaustive or len(dfs) <= 1 or (
            mass > self.TAAT_THRESHOLD and sum(dfs) < self.AND_ASYM_RATIO * mass
        ):
            return self._to_frame(*self._exhaustive(caches.values(), weights, k, need))
        sweeps = [
            _TermSweep(c, w, self._dl_norm, self._decode_counter)
            for c, w in zip(caches.values(), weights)
        ]
        return self._to_frame(*block_sweep_topk(sweeps, k, need=need))

    def _exhaustive(
        self, caches: Iterable[BlockCache], weights: list[float], k: int, need: int
    ) -> tuple[np.ndarray, np.ndarray]:
        """Every block of every term, summed per doc; docs with fewer than
        ``need`` postings dropped (one posting per term and doc, counted
        only when ``need`` > 1), then the top k by partition and sort."""
        parts = [
            _scored_block(c, i, w, self._dl_norm)
            for c, w in zip(caches, weights)
            for i in range(len(c.slots))
        ]
        uniq, inv, *cnt = np.unique(
            np.concatenate([p[0] for p in parts]),
            return_inverse=True,
            return_counts=need > 1,
        )
        acc = np.bincount(inv, weights=np.concatenate([p[1] for p in parts]))
        if need > 1:
            matched = cnt[0] >= need
            uniq, acc = uniq[matched], acc[matched]
        if len(acc) > k:
            thr = np.partition(acc, len(acc) - k)[len(acc) - k]
            cand = np.flatnonzero(acc >= thr)  # ≥ keeps score ties for the
        else:  # doc-asc tie-break below
            cand = np.arange(len(acc))
        order = cand[np.lexsort((uniq[cand], -acc[cand]))][:k]
        return uniq[order], acc[order]

    def _to_frame(self, keys: np.ndarray, scores: np.ndarray) -> pd.DataFrame:
        return pd.DataFrame({**doc_key_columns(keys, self.doc_cols), "score": scores})
