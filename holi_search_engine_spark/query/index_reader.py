"""One reader of a built index under both single-node engines.

``RankerEngine`` and ``BM25Engine`` score on top of an :class:`IndexReader`,
which does every read of the index the engines make.  Like the
reference's single ranker node, which reads its tables directly
(SURVEY §1), it starts no Spark job: at open it takes a snapshot of each
table's data files (``sources.catalog.snapshot``) and reads those files
with ``pyarrow.dataset``, projecting only the columns it uses.

- the preload decision: the block table and wmetric are read into the
  driver while the block table's files fit ``preload_max_bytes`` (the
  single ranker-node serving model, lowest latency); past it the reader
  degrades to term-pruned reads with no caller change;
- per term, the block rows and the df/idf of its wmetric row.  The block
  rows of a read are sorted once by ``(term, block_no)`` and each term
  holds a :class:`TermBlocks`: array slices (views) of that table's
  ``key_min``, ``key_max``, ``ub_bm25``, ``doc_bytes`` and ``tf_bytes``
  columns, so neither the open nor a query builds a per-term DataFrame.
  Degraded mode fetches a whole query's missing terms at once: one read
  of the block files of the terms' ``bucket`` partitions, filtered to the
  terms, and one term-filtered read of wmetric, however many terms the
  query has;
- one LRU of per-term entries, capped in terms and in bytes: the block
  rows a degraded read fetched, the ranker's decoded postings and BM25's
  scored blocks (a :class:`BlockCache` per term, filled block by block);
- the per-doc lookups (ntf, title/snippet, pagerank, doc length) as
  sorted doc-key arrays: a whole table read once, or a pruned read of
  just the candidates' rows.

An open reader is a snapshot of the index it opened: a preloaded reader
never rereads, and a degraded one reads only the files it listed at open.
After an ingest, callers open the engines again; a degraded reader whose
files a rebuild replaced raises ``StaleSnapshot`` rather than mix the old
open's statistics with new blocks.
"""

from __future__ import annotations

from collections import OrderedDict
from functools import partial

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import SparkSession

from ..functions.xxhash import term_bucket
from ..plans.compression import DocKeyLookup, decode_block
from ..plans.index_build import IndexPaths, read_meta
from ..sources.catalog import TableFiles, snapshot

#: Default preload budget: the summed size of the block table's data files
#: in the open's snapshot.  Preloading is right while the index fits
#: comfortably in driver memory; past this the reader falls back to pruned
#: per-query reads — the 100× corpus path.  Callers that need another
#: budget pass ``preload_max_bytes``.
PRELOAD_MAX_BYTES = 2 << 30

#: The columns the reader reads of the block table and of wmetric.
BLOCK_COLS = ["term", "block_no", "key_min", "key_max", "ub_bm25", "doc_bytes", "tf_bytes"]
STAT_COLS = ["term", "df", "idf"]

_UNREAD = object()  # an entry whose block rows were not fetched yet


def _read_only(*arrays: np.ndarray) -> tuple[np.ndarray, ...]:
    """Cached postings are shared by every later caller: freeze them."""
    for a in arrays:
        a.flags.writeable = False
    return arrays


_EMPTY = _read_only(np.empty(0, np.int64), np.empty(0, np.float64))


class TermBlocks:
    """One term's block rows in block_no order: read-only slices of the
    term-sorted block table's columns.  ``len()`` is the block count."""

    __slots__ = ("key_min", "key_max", "ub_bm25", "doc_bytes", "tf_bytes")

    def __init__(self, key_min, key_max, ub_bm25, doc_bytes, tf_bytes) -> None:
        self.key_min: np.ndarray = key_min  # int64
        self.key_max: np.ndarray = key_max  # int64
        self.ub_bm25: np.ndarray = ub_bm25  # float64
        self.doc_bytes: np.ndarray = doc_bytes  # object: bytes per block
        self.tf_bytes: np.ndarray = tf_bytes  # object: bytes per block

    def __len__(self) -> int:
        return len(self.key_min)

    @property
    def nbytes(self) -> int:
        """Driver bytes the rows hold: the column slices plus the encoded
        block bytes they point to."""
        cols = (self.key_min, self.key_max, self.ub_bm25, self.doc_bytes, self.tf_bytes)
        return sum(c.nbytes for c in cols) + sum(
            len(b) for c in (self.doc_bytes, self.tf_bytes) for b in c
        )


def decode_postings(blocks: TermBlocks) -> tuple[np.ndarray, np.ndarray]:
    """A term's blocks decoded into doc-ordered (int64 doc keys, float64
    tfs)."""
    parts = [decode_block(d, t) for d, t in zip(blocks.doc_bytes, blocks.tf_bytes)]
    return (
        np.concatenate([p[0] for p in parts]).astype(np.int64),
        np.concatenate([p[1] for p in parts]).astype(np.float64),
    )


class BlockCache:
    """What a scorer derives from one term's blocks, kept per block:
    ``slots[i]`` is None until block i is first read, then holds the arrays
    computed from it, frozen.  ``fill`` charges their bytes through
    ``charge``: the reader's LRU while the cache's entry is in it, nothing
    for a cache that lives only as long as one task or one query."""

    __slots__ = ("blocks", "slots", "charge")

    def __init__(self, blocks: TermBlocks, charge=None) -> None:
        self.blocks = blocks
        self.slots: list[tuple[np.ndarray, ...] | None] = [None] * len(blocks)
        self.charge = charge

    def fill(self, i: int, *arrays: np.ndarray) -> tuple[np.ndarray, ...]:
        slot = self.slots[i] = _read_only(*arrays)
        if self.charge is not None:
            self.charge(sum(a.nbytes for a in arrays))
        return slot


class _Term:
    """One term's resident slice of the index: its block rows (None when
    the index lacks the term), df (postings count, 0 when absent), idf (0
    when absent, quirk Q8), once decoded its doc-ordered postings, and its
    scorer's :class:`BlockCache`."""

    __slots__ = ("blocks", "df", "idf", "postings", "block_cache", "nbytes")

    def __init__(self, df: int, idf: float) -> None:
        self.blocks = _UNREAD
        self.df = df
        self.idf = idf
        self.postings: tuple[np.ndarray, np.ndarray] | None = None
        self.block_cache: BlockCache | None = None
        self.nbytes = 0


class IndexReader:
    """Reads a built index for one engine; see the module docstring."""

    #: LRU caps.  Zipf-head terms dominate decode cost and repeat across
    #: queries; a small cache of decoded lists and scored blocks is the
    #: standard ranker-node move (cf. Lucene's LRUQueryCache).  The cap is
    #: in BYTES as well as terms: a decoded hot-term list is O(corpus)
    #: (16 B/posting), so a term-count cap alone would scale driver memory
    #: with the corpus and defeat the preload_max_bytes gate.  A decoded
    #: list over 1/8 of the byte cap is decoded per use, not kept.
    CACHE_TERMS = 256
    CACHE_BYTES = 256 << 20

    def __init__(
        self,
        spark: SparkSession,
        paths: IndexPaths,
        preload: bool | None = None,
        preload_max_bytes: int | None = None,
    ) -> None:
        """Snapshots every table's data files, then ``preload=None``
        preloads while the block table's files sum to at most
        ``preload_max_bytes`` (default ``PRELOAD_MAX_BYTES``) and degrades
        otherwise.  True/False forces a mode.  ``spark`` lists an Iceberg
        table's files; a parquet index is listed and read without it."""
        self.paths = paths
        self.meta = read_meta(paths)
        self.doc_cols: list[str] = self.meta["doc_cols"]
        #: each table's data files at open, None for a table without any
        self.tables: dict[str, TableFiles | None] = {
            p: snapshot(spark, p)
            for p in (paths.blocks, paths.wmetric, paths.doc_stats, paths.doc_meta, paths.pageranks)
        }
        if preload is None:
            cap = PRELOAD_MAX_BYTES if preload_max_bytes is None else preload_max_bytes
            blocks = self.tables[paths.blocks]
            preload = (blocks.nbytes if blocks is not None else 0) <= cap
        self.preloaded: bool = preload
        self._blocks: dict[str, TermBlocks] | None = None
        self._stats: dict[str, tuple[int, float]] | None = None
        self._cache: OrderedDict[str, _Term] = OrderedDict()
        self._cache_bytes = 0
        self._query_terms: frozenset[str] = frozenset()  # never evicted
        self._docs: dict[str, tuple[tuple[str, ...], DocKeyLookup]] = {}
        if preload:
            self._blocks = _by_term(self._read(paths.blocks, BLOCK_COLS))
            self._stats = _by_term_stats(self._read(paths.wmetric, STAT_COLS))

    def _read(self, path: str, columns: list[str], where=None, buckets=None) -> pd.DataFrame:
        """``columns`` of the snapshot's rows of ``path`` that match
        ``where``, from the files of ``buckets`` or from all."""
        files = self.tables[path]
        if files is None:
            return pd.DataFrame(columns=columns)
        return files.read(columns, where, buckets).to_pandas()

    # ------------------------------------------------------------ terms

    def terms(self) -> list[str]:
        """Every term of a preloaded index, sorted."""
        if self._blocks is None:
            raise ValueError("terms() needs a preloaded index")
        return list(self._blocks)

    def fetch(self, terms, stats_only=()) -> None:
        """Make one query's terms resident: block rows and stats of
        ``terms``, stats of ``stats_only``.  None of them is evicted
        before the next fetch; a degraded read of the missing ones costs
        one read of the block table and one of wmetric."""
        terms = list(dict.fromkeys(terms))
        self._query_terms = frozenset([*terms, *stats_only])
        if self.preloaded:  # every term is resident: only drop what the
            self._evict()  # last query's terms held past the caps
        else:
            self._load(terms, [t for t in stats_only if t not in terms])

    def blocks(self, term: str) -> TermBlocks | None:
        """The term's block rows in block_no order, None if absent."""
        if self._blocks is not None:
            return self._blocks.get(term)
        return self._entry(term, blocks=True).blocks

    def df(self, term: str) -> int:
        if self._stats is not None:
            return self._stats.get(term, (0, 0.0))[0]
        return self._entry(term).df

    def idf(self, term: str) -> float:
        if self._stats is not None:
            return self._stats.get(term, (0, 0.0))[1]
        return self._entry(term).idf

    def postings(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        """Doc-ordered (int64 doc keys, float64 tfs); empty if absent."""
        entry = self._entry(term, blocks=True)
        if entry.postings is not None:
            return entry.postings
        if entry.blocks is None:
            return _EMPTY
        out = _read_only(*decode_postings(entry.blocks))
        nbytes = out[0].nbytes + out[1].nbytes
        if nbytes <= self.CACHE_BYTES // 8:
            entry.postings = out
            self._charge(entry, nbytes)
        return out

    def block_cache(self, term: str) -> BlockCache | None:
        """The term's :class:`BlockCache` on its LRU entry, None if the
        index lacks the term.  Its slots are charged to the LRU while the
        entry is cached, and go with the entry when it is evicted."""
        entry = self._entry(term, blocks=True)
        if entry.blocks is None:
            return None
        if entry.block_cache is None:
            entry.block_cache = BlockCache(entry.blocks, partial(self._charge, entry))
        return entry.block_cache

    def _entry(self, term: str, blocks: bool = False) -> _Term:
        entry = self._cache.get(term)
        if entry is not None and not (blocks and entry.blocks is _UNREAD):
            self._cache.move_to_end(term)
        elif self.preloaded:
            entry = self._cache[term] = _Term(*self._stats.get(term, (0, 0.0)))
            entry.blocks = self._blocks.get(term)
            self._evict()
        else:
            self._query_terms |= {term}  # a term being read is in the query
            self._load([term] if blocks else [], [] if blocks else [term])
            entry = self._cache[term]
        return entry

    def _load(self, block_terms: list[str], stat_terms: list[str]) -> None:
        """Degraded mode: one read of each table for the missing terms."""
        need_blocks = [
            t for t in block_terms
            if t not in self._cache or self._cache[t].blocks is _UNREAD
        ]
        need_stats = [t for t in [*block_terms, *stat_terms] if t not in self._cache]
        stats = self._read_stats(need_stats) if need_stats else {}
        for t in need_stats:
            self._cache[t] = _Term(*stats.get(t, (0, 0.0)))
        if need_blocks:
            found = self._read_blocks(need_blocks)
            for t in need_blocks:
                entry = self._cache[t]
                entry.blocks = found.get(t)
                if entry.blocks is not None:
                    self._charge(entry, entry.blocks.nbytes)
        for t in [*block_terms, *stat_terms]:
            self._cache.move_to_end(t)
        self._evict()

    def _read_blocks(self, terms: list[str]) -> dict[str, TermBlocks]:
        buckets = {term_bucket(t, self.meta["buckets"]) for t in terms}
        where = pc.field("term").isin(terms)
        return _by_term(self._read(self.paths.blocks, BLOCK_COLS, where, buckets))

    def _read_stats(self, terms: list[str]) -> dict[str, tuple[int, float]]:
        where = pc.field("term").isin(terms)
        return _by_term_stats(self._read(self.paths.wmetric, STAT_COLS, where))

    def _charge(self, entry: _Term, nbytes: int) -> None:
        entry.nbytes += nbytes
        self._cache_bytes += nbytes
        self._evict()

    def _evict(self) -> None:
        """Drop least-recently-used entries past either cap, never one of
        the current query's terms: evicting those would re-read them one
        read per term, exactly the round trips batching avoids."""
        while len(self._cache) > self.CACHE_TERMS or self._cache_bytes > self.CACHE_BYTES:
            victim = next((t for t in self._cache if t not in self._query_terms), None)
            if victim is None:
                return
            entry = self._cache.pop(victim)
            self._cache_bytes -= entry.nbytes
            if entry.block_cache is not None:
                # a sweep still holding it (a term read without a fetch)
                # fills slots the LRU no longer counts
                entry.block_cache.charge = None

    # ------------------------------------------------------------- docs

    def read_docs(
        self, path: str, cols: tuple[str, ...], keys: np.ndarray | None = None
    ) -> DocKeyLookup:
        """One read of the snapshot's files: the per-doc table at ``path``
        as a sorted lookup of ``cols`` on its stored ``doc_key`` (1-D
        values for one column, else one value column per name), whole or
        filtered to ``keys``.  keys is ≤ TOP_CUT=250, so the isin list
        stays tiny."""
        where = None if keys is None else pc.field("doc_key").isin(pa.array(keys, pa.int64()))
        pdf = self._read(path, ["doc_key", *cols], where)
        vals = pdf[cols[0] if len(cols) == 1 else list(cols)].to_numpy()
        return DocKeyLookup(pdf["doc_key"].to_numpy(dtype=np.int64), vals)

    def load_docs(self, path: str, cols: tuple[str, ...]) -> DocKeyLookup:
        """Read the whole table once; :meth:`doc_values` then answers
        every lookup of ``path`` from memory."""
        loaded = self._docs.get(path)
        if loaded is None or loaded[0] != cols:
            loaded = self._docs[path] = (cols, self.read_docs(path, cols))
        return loaded[1]

    def doc_values(
        self, path: str, cols: tuple[str, ...], keys: np.ndarray, default
    ) -> np.ndarray:
        """``cols`` per key (1-D for one column), in key order, ``default``
        for keys the table has no row for: from the loaded table, or from
        a pruned read of just these keys' rows."""
        have, lookup = self._docs.get(path, ((), None))
        if have != cols and not (have and set(cols) <= set(have)):
            have, lookup = cols, self.read_docs(path, cols, keys)
        vals = lookup.get(keys, default)
        if have == cols:
            return vals
        idx = [have.index(c) for c in cols]
        return vals[:, idx[0]] if len(idx) == 1 else vals[:, idx]


def _by_term(blocks: pd.DataFrame) -> dict[str, TermBlocks]:
    """Block rows as one :class:`TermBlocks` per term, in term order: one
    sort by ``(term, block_no)``, then every term's row range from one
    comparison of neighbouring terms."""
    if not len(blocks):
        return {}
    blocks = blocks.sort_values(["term", "block_no"])
    term = blocks["term"].to_numpy()
    cols = _read_only(
        blocks["key_min"].to_numpy(dtype=np.int64),
        blocks["key_max"].to_numpy(dtype=np.int64),
        blocks["ub_bm25"].to_numpy(dtype=np.float64),
        blocks["doc_bytes"].to_numpy(dtype=object),
        blocks["tf_bytes"].to_numpy(dtype=object),
    )
    edges = [0, *(np.flatnonzero(term[1:] != term[:-1]) + 1).tolist(), len(term)]
    return {
        term[lo]: TermBlocks(*(c[lo:hi] for c in cols))
        for lo, hi in zip(edges[:-1], edges[1:])
    }


def _by_term_stats(wm: pd.DataFrame) -> dict[str, tuple[int, float]]:
    # the stored df carries the reference's +1 quirk (Q3); undo it
    return {t: (int(d) - 1, float(i)) for t, d, i in zip(wm["term"], wm["df"], wm["idf"])}
