"""Seeded inputs: the transcripts corpus, the drops and the query streams.

``--seed`` shifts the conversation indices the corpus is generated from
(``corpus.generate_conversations_pdf``, ``conv-%08d`` ids) and seeds the
query stream.  The same seed gives the same inputs; the program receives
only the generated parquet files and query strings.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: conversations in the base corpus (~3.2k turns) and in each drop (1/20)
BASE_CONVS = 500
DROP_CONVS = 25


def conv_offset(seed: int) -> int:
    """First conversation index for a seed; keeps ids within conv-%08d."""
    return 1_000_000 + (seed % 9_000) * 10_000


def conversations(seed: int, start: int, n: int):
    from holi_search_engine_spark.corpus import generate_conversations_pdf, make_vocabulary

    off = conv_offset(seed) + start
    pdf = generate_conversations_pdf(np.arange(off, off + n), make_vocabulary())
    pdf["ts"] = pdf["ts"].dt.tz_localize(None)
    return pdf


def write_parquet(pdf, out_dir: str, prefix: str = "part") -> int:
    """Write ``pdf`` as 4 parquet files, so a scan has a split per core;
    returns the bytes written.  Each file appears atomically."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for i, rows in enumerate(np.array_split(np.arange(len(pdf)), 4)):
        path = os.path.join(out_dir, f"{prefix}-{i:03d}.parquet")
        tmp = os.path.join(os.path.dirname(out_dir), f".{prefix}-{i:03d}.tmp")
        pq.write_table(
            pa.Table.from_pandas(pdf.iloc[rows], preserve_index=False),
            tmp,
            coerce_timestamps="us",
        )
        os.replace(tmp, path)
        total += os.path.getsize(path)
    return total


def query_stream(seed: int, n: int) -> list[str]:
    """``n`` queries: one in eight a uniformly chosen branch-coverage
    fixture (``make_query_fixtures``), the rest fresh draws of 1-4 terms,
    Zipf-weighted over ``make_vocabulary()``, so head terms recur across
    queries as they would in traffic."""
    from holi_search_engine_spark.corpus import make_query_fixtures, make_vocabulary, zipf_weights

    vocab = make_vocabulary()
    fixtures = [q for _, q in make_query_fixtures(vocab)]
    rng = np.random.default_rng(seed)
    cdf = np.cumsum(zipf_weights(len(vocab)))
    out = []
    for _ in range(n):
        if rng.random() < 0.125:
            out.append(fixtures[int(rng.integers(0, len(fixtures)))])
        else:
            words = np.searchsorted(cdf, rng.random(int(rng.integers(1, 5))), side="right")
            out.append(" ".join(vocab[min(int(i), len(vocab) - 1)] for i in words))
    return out


def tail_stream(seed: int, n: int) -> list[str]:
    """``n`` two-term queries over the tail of the vocabulary (Zipf ranks
    1,000-5,000, a handful of postings each, the regime of the ``q_gen_*``
    fixtures), terms drawn uniformly.  A term recurs about once in 2,000
    queries, so the engines' per-term caches (64 and 256 terms) seldom
    hit, and with few postings BM25 takes its WAND path."""
    from holi_search_engine_spark.corpus import make_vocabulary

    tail = make_vocabulary()[1000:5000]
    rng = np.random.default_rng(seed + 1)
    out = []
    for _ in range(n):
        a, b = rng.choice(len(tail), size=2, replace=False)
        out.append(f"{tail[a]} {tail[b]}")
    return out


def query_properties(queries: list[str], scorer) -> dict:
    """Recorded input properties of a query list against an index: the
    share of queries holding one of the 100 highest-df terms and the mean
    postings a query's terms hold (``scorer`` is a ``check.ExhaustiveBM25``)."""
    from .check import query_terms

    top = set(sorted(scorer.postings, key=scorer.df, reverse=True)[:100])
    head = 0
    postings = 0
    for q in queries:
        terms = query_terms(q)
        head += any(t in top for t in terms)
        postings += sum(scorer.df(t) for t in terms)
    n = max(len(queries), 1)
    return {
        "queries": len(queries),
        "head_term_share": head / n,
        "mean_postings_per_query": postings / n,
    }
