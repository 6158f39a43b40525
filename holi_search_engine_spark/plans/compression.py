"""Posting-list compression: delta-gap + varbyte + block-max metadata.

The scale path of the index (SURVEY.md §4 custom work #2): instead of one
potentially-huge ``array<struct>`` row per term (a Zipf-head term at
10^12-turn scale has ~10^11 postings — no single row/task may hold it),
posting lists are stored as fixed-size **blocks**: one row per (term,
block_no) with varbyte-compressed doc-key gaps and tfs plus skip metadata
(min/max doc key and the block's BM25 partial-score bound for WAND).

All encode/decode is numpy array math over Arrow batches — no per-row
Python.  The reference has no compression at all (postings are ASCII
``"url:tf,..."`` strings, ``jobs/Indexer.java:142-176``); this is the part
the north rule adds on top.

Doc keys: a 64-bit orderable key per document, ``doc_key = conv_num * 64
+ turn_idx`` (conv ids are ``conv-%08d`` of their index; turn_idx < 64), a
pure-expression mapping that needs no global sort at any scale.  This
module is the only place that packs or unpacks it: the build stores it in
every per-doc table, and no reader derives it again.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.xxhash import term_bucket_expr
from ..sources.catalog import read_table, write_table

BLOCK_SIZE = 128
TURN_BITS = 6  # doc_key = conv_num << TURN_BITS | turn_idx


def doc_key_expr():
    """The packed doc key of a (conv_id, turn_idx) row as a Catalyst
    expression (no UDF).  Lossless only where :func:`doc_key_valid_expr`
    holds."""
    conv_num = F.regexp_extract(F.col("conv_id"), r"(\d+)", 1).cast("long")
    return F.shiftleft(conv_num, TURN_BITS) + F.col("turn_idx")


def doc_key_valid_expr():
    """True where a (conv_id, turn_idx) row packs losslessly: conv_id is
    exactly ``conv-%08d`` of its first digit run (``a7``/``b7`` would
    collide) and turn_idx fits TURN_BITS (a larger one would corrupt keys
    silently).  try_cast, not cast: under Spark 4's default ANSI mode a
    digit-less conv_id makes a plain cast of the extracted "" throw, and
    this check must survive exactly the input it exists to detect (a
    null here means invalid)."""
    conv_num = F.regexp_extract(F.col("conv_id"), r"(\d+)", 1).try_cast("long")
    return (
        (F.col("conv_id") == F.format_string("conv-%08d", conv_num))
        & (F.col("turn_idx") >= 0)
        & (F.col("turn_idx") < (1 << TURN_BITS))
    )


def pack_doc_keys(pdf: pd.DataFrame) -> np.ndarray:
    """:func:`doc_key_expr` over a pandas batch (the tokenize kernel packs
    the key before the Python→JVM transfer, so the conv_id strings never
    cross it).  Raises instead of corrupting keys on a row that breaks the
    packing contract, behind build_index's corpus-wide check."""
    conv = pdf["conv_id"].str.extract(r"(\d+)", expand=False)
    ti = pdf["turn_idx"].to_numpy(dtype=np.int64)
    if conv.isna().any() or (ti < 0).any() or (ti >= (1 << TURN_BITS)).any():
        raise ValueError(
            "doc_key packing violated: conv_id must embed digits and "
            f"0 <= turn_idx < {1 << TURN_BITS}"
        )
    return (conv.astype("int64").to_numpy() << TURN_BITS) | ti


def doc_cols_from_key_exprs():
    """Inverse of :func:`doc_key_expr` as Catalyst expressions — lets hot
    stages carry the 8-byte ``doc_key`` instead of the ~13-byte conv_id
    string (the single widest column of the token stream; on a
    bandwidth-bound host the narrower rows are a direct throughput win)
    and reconstruct the user-facing columns only at the small table
    boundaries."""
    conv_num = F.shiftright(F.col("doc_key"), TURN_BITS)
    turn = F.col("doc_key").bitwiseAND(F.lit((1 << TURN_BITS) - 1))
    return [
        F.format_string("conv-%08d", conv_num).alias("conv_id"),
        turn.cast("int").alias("turn_idx"),
    ]


def doc_key_columns(keys: np.ndarray, doc_cols: list[str]) -> dict:
    """Inverse of :func:`doc_key_expr` as ``{column: values}``, ready to
    open a result frame's constructor (one ``pd.DataFrame`` call per
    answer; column inserts cost more than scoring a small query)."""
    if doc_cols == ["conv_id", "turn_idx"]:
        conv = keys >> TURN_BITS
        turn = keys & ((1 << TURN_BITS) - 1)
        return {
            "conv_id": ["conv-%08d" % c for c in conv.tolist()],
            "turn_idx": turn.astype("int32"),
        }
    return {doc_cols[0]: keys}


class DocKeyLookup:
    """doc_key → per-doc values via sorted-array binary search (a pandas
    reindex costs ~1µs/key in hash lookups; searchsorted is ~20ns).
    ``vals`` is 1-D, or 2-D with one column per stored field."""

    __slots__ = ("keys", "vals")

    def __init__(self, keys: np.ndarray, vals: np.ndarray) -> None:
        order = np.argsort(keys, kind="stable")
        self.keys = keys[order]
        self.vals = vals[order]

    def __call__(self, want: np.ndarray) -> np.ndarray:
        """Values for keys known to be in a non-empty table; an absent key
        gets a neighbour's value (the BM25 sweeps decode whole blocks, and
        keys outside the scored doc range are never read)."""
        idx = np.searchsorted(self.keys, want)
        return self.vals[np.minimum(idx, len(self.vals) - 1)]

    def get(self, want: np.ndarray, default) -> np.ndarray:
        """Values for ``want``, ``default`` wherever a key is absent."""
        if not len(self.keys):
            return np.full((len(want), *self.vals.shape[1:]), default, self.vals.dtype)
        idx = np.minimum(np.searchsorted(self.keys, want), len(self.keys) - 1)
        out = self.vals[idx]
        out[self.keys[idx] != want] = default
        return out


# ---------------------------------------------------------------- varbyte

def varbyte_encode(values: np.ndarray) -> bytes:
    """Vectorized LEB128-style encoding of a uint64 array."""
    return _varbyte_encode_all(values)[0]


def varbyte_decode(buf: bytes) -> np.ndarray:
    """Vectorized decode; inverse of :func:`varbyte_encode`."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if len(b) == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    group_start = np.concatenate(([0], np.flatnonzero(is_last)[:-1] + 1))
    grp = np.zeros(len(b), dtype=np.int64)
    grp[group_start[1:]] = 1
    grp = np.cumsum(grp)
    pos = np.arange(len(b), dtype=np.int64) - group_start[grp]
    shifted = (b & np.uint8(0x7F)).astype(np.uint64) << (
        pos.astype(np.uint64) * np.uint64(7)
    )
    return np.bitwise_or.reduceat(shifted, group_start)


def encode_block(doc_keys: np.ndarray, tfs: np.ndarray) -> tuple[bytes, bytes]:
    """Delta-gap doc keys (first stored absolute) + tfs, both varbyte."""
    keys = np.ascontiguousarray(doc_keys, dtype=np.uint64)
    gaps = np.empty_like(keys)
    gaps[0] = keys[0]
    np.subtract(keys[1:], keys[:-1], out=gaps[1:])
    return varbyte_encode(gaps), varbyte_encode(tfs.astype(np.uint64))


def decode_block(doc_bytes: bytes, tf_bytes: bytes) -> tuple[np.ndarray, np.ndarray]:
    gaps = varbyte_decode(doc_bytes)
    return np.cumsum(gaps, dtype=np.uint64), varbyte_decode(tf_bytes)


# ------------------------------------------------------------ block build

BLOCK_SCHEMA = (
    "term string, block_no int, n int, key_min long, key_max long, "
    "ub_bm25 double, doc_bytes binary, tf_bytes binary"
)

# BM25 knobs pinned at build time — the stored per-block upper bound
# ``ub_bm25`` = max over the block of tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))
# is only valid for these values (different knobs ⇒ rebuild or exhaustive
# scoring; the reference-mode scorer is unaffected).
BM25_K1 = 1.2
BM25_B = 0.75


def _varbyte_encode_all(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Encode a uint64 array; returns (buffer, bytes-per-value) so callers
    can slice per-group ranges out of one contiguous encode."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if len(v) == 0:
        return b"", np.zeros(0, dtype=np.int64)
    n = np.ones(len(v), dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        n += tmp > 0
        tmp >>= np.uint64(7)
    ends = np.cumsum(n)
    total = int(ends[-1])
    starts = ends - n
    idx = np.arange(total, dtype=np.int64)
    pos = idx - np.repeat(starts, n)
    vals = np.repeat(v, n)
    chunk = (vals >> (pos.astype(np.uint64) * np.uint64(7))) & np.uint64(0x7F)
    is_last = pos == np.repeat(n - 1, n)
    out = chunk.astype(np.uint8) | np.where(is_last, 0, 0x80).astype(np.uint8)
    return out.tobytes(), n


def _encode_frame(pdf: pd.DataFrame, bno0: int) -> pd.DataFrame:
    """Vectorized block encode of a (term, doc_key)-sorted frame: ONE pass
    of boundary detection + ``np.maximum.reduceat`` + a single grouped
    varbyte encode — no per-term Python loop (a partition holds tens of
    thousands of terms; looping per term was the block build's hot spot).

    ``bno0`` is the starting block number for the FIRST term group (carry
    continuation); all other groups start at block 0.
    """
    n = len(pdf)
    terms = pdf["term"].to_numpy()
    keys = pdf["doc_key"].to_numpy(dtype=np.int64)
    tfs = pdf["tf"].to_numpy(dtype=np.int64)
    tf_f = tfs.astype(np.float64)
    bm25 = tf_f * (BM25_K1 + 1.0) / (
        tf_f + BM25_K1 * pdf["bm25_norm"].to_numpy(dtype=np.float64)
    )

    term_change = np.empty(n, dtype=bool)
    term_change[0] = True
    term_change[1:] = terms[1:] != terms[:-1]
    g = np.cumsum(term_change) - 1
    ts = np.flatnonzero(term_change)
    offset = np.arange(n, dtype=np.int64) - ts[g]
    bno = offset // BLOCK_SIZE
    if bno0:
        bno[g == 0] += bno0
    boundary = (offset % BLOCK_SIZE) == 0
    bs = np.flatnonzero(boundary)  # block start rows
    be = np.append(bs[1:], n)  # block end rows (exclusive)
    counts = be - bs

    gaps = keys.astype(np.uint64).copy()
    gaps[1:] = (keys[1:] - keys[:-1]).astype(np.uint64)
    gaps[bs] = keys[bs].astype(np.uint64)  # block-first key stored absolute
    buf_d, nb_d = _varbyte_encode_all(gaps)
    off_d = np.concatenate(([0], np.cumsum(nb_d)))
    buf_t, nb_t = _varbyte_encode_all(tfs.astype(np.uint64))
    off_t = np.concatenate(([0], np.cumsum(nb_t)))

    return pd.DataFrame(
        {
            "term": terms[bs],
            "block_no": bno[bs].astype(np.int32),
            "n": counts.astype(np.int32),
            "key_min": keys[bs],
            "key_max": keys[be - 1],
            "ub_bm25": np.maximum.reduceat(bm25, bs),
            "doc_bytes": [buf_d[s:e] for s, e in zip(off_d[bs], off_d[be])],
            "tf_bytes": [buf_t[s:e] for s, e in zip(off_t[bs], off_t[be])],
        }
    )


def _blocks_from_sorted(pdf_iter):
    """mapInPandas kernel: consumes (term, doc_key, tf, bm25_norm)
    rows sorted by (term, doc_key) within the partition and emits block
    rows.

    Terms never span partitions (partitioned by term hash), but may span
    Arrow batches — the last term's unfinished rows carry over between
    batches (bounded by BLOCK_SIZE + batch size); everything else encodes
    vectorized via :func:`_encode_frame`.

    ``pending_term``/``carry_bno`` must survive an EMPTY carry: when a
    batch boundary lands exactly on a block boundary (``len(tail)`` a
    multiple of BLOCK_SIZE) there are no leftover rows, but the term can
    still continue in the next batch — resetting the block offset there
    restarted that term's numbering at 0, producing duplicate
    ``(term, block_no)`` labels that scrambled every reader's
    block_no posting order (hit in production at
    sf0.1 under local[32]: a ~95k-posting term crossed the 10,000-row
    Arrow boundary at exactly 80,000 = 625·128 rows; regression pinned
    in ``tests/test_compression.py``).
    """
    carry: pd.DataFrame | None = None
    carry_bno = 0
    pending_term = None  # term the (possibly row-less) carry continues

    for pdf in pdf_iter:
        if not len(pdf):
            continue
        if carry is not None:
            head_bno0 = carry_bno  # carry rows always form group 0
            pdf = pd.concat([carry, pdf], ignore_index=True)
            carry = None
        elif pending_term is not None and pdf["term"].iloc[0] == pending_term:
            head_bno0 = carry_bno  # block-aligned continuation, no rows
        else:
            head_bno0 = 0
        terms = pdf["term"].to_numpy()
        last_start = int(np.flatnonzero(terms != terms[-1])[-1] + 1) if terms[0] != terms[-1] else 0
        head = pdf.iloc[:last_start]
        tail = pdf.iloc[last_start:].reset_index(drop=True)
        if len(head):
            yield _encode_frame(head.reset_index(drop=True), head_bno0)
            tail_bno0 = 0
        else:
            tail_bno0 = head_bno0
        # emit only the tail's FULL blocks; remainder carries to next batch
        full = (len(tail) // BLOCK_SIZE) * BLOCK_SIZE
        if full:
            yield _encode_frame(tail.iloc[:full].reset_index(drop=True), tail_bno0)
        carry = tail.iloc[full:].reset_index(drop=True)
        carry_bno = tail_bno0 + full // BLOCK_SIZE
        pending_term = terms[-1]
        if not len(carry):
            carry = None  # keep carry_bno + pending_term: the term may
            # continue in the next batch exactly block-aligned
    if carry is not None and len(carry):
        yield _encode_frame(carry, carry_bno)


def build_block_index(
    spark: SparkSession,
    paths,
    bucket: int | list[int] | None,
    buckets: int | None = None,
    partitions: int | None = None,
    term_stream: DataFrame | None = None,
    avgdl: float | None = None,
) -> None:
    """Build the compressed block index (``bucket=None`` → all buckets in
    one job, a list/int → only those, pruned to their term_tf partitions).

    Plan shape: bucket-pruned parquet scan of the (term, doc_key, tf, dl)
    stream (or a caller's in-memory ``term_stream`` of the same columns) →
    repartition by term →
    sortWithinPartitions(term, doc_key) → mapInPandas block encoder →
    parquet partitioned by bucket.  No stage materializes a whole posting
    list in memory; the sort is Spark's spillable external sort.
    """
    if term_stream is not None:
        term_tf = term_stream
    else:
        term_tf = read_table(spark, paths.term_tf)
    if bucket is not None:
        wanted = [bucket] if isinstance(bucket, int) else list(bucket)
        term_tf = term_tf.where(F.col("bucket").isin(wanted))
    if avgdl is None:
        from .index_build import read_meta as _read_meta

        avgdl = _read_meta(paths).get("avgdl") or 1.0
    # bm25_norm = 1 − b + b·dl/avgdl, precomputed per doc (pinned knobs)
    norm = (
        F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl").cast("double") / F.lit(avgdl)
    ).alias("bm25_norm")
    # per-doc stats ride on the token stream (tokenize emits them) — no
    # doc-keyed join, the term repartition is the ONLY shuffle
    joined = term_tf.select("term", "doc_key", "tf", norm)
    # 4 tasks per core: term-hash partitions are Zipf-skewed, so finer
    # granularity lets the scheduler even out the tail (a partition that
    # drew a head term finishes late; with 4× tasks the other cores keep
    # pulling work instead of idling — the single-key agg analog of AQE's
    # skew-join splitting, which does not cover this shape)
    parts = partitions or max(8, 4 * spark.sparkContext.defaultParallelism)
    sorted_stream = joined.repartition(parts, "term").sortWithinPartitions(
        "term", "doc_key"
    )
    blocks = sorted_stream.mapInPandas(_blocks_from_sorted, schema=BLOCK_SCHEMA)
    if buckets is None:
        from .index_build import read_meta

        buckets = read_meta(paths)["buckets"]
    blocks = blocks.withColumn("bucket", term_bucket_expr(buckets))
    write_table(blocks, paths.blocks, partition_by=["bucket"], dynamic=True)
