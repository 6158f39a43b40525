"""Answer checks: the rank contract, written once, and the two
independent scorers the answers are checked against.

The rank contract between an answer and its expected ranking:

- the same set of documents (for a top-k answer, documents tied with the
  k-th expected score to within ``atol`` may stand in for each other);
- every document's score within ``atol`` of its expected score, with a
  NaN expected score matched only by NaN;
- the answer's order non-increasing in the expected scores up to
  ``atol``, ignoring NaN-scored documents, whose order is unspecified.

Order up to ``atol`` rather than exact order, because paths that sum a
document's score terms in a different order can swap two documents whose
scores differ in the last bit.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pyarrow.dataset as ds

ATOL = 1e-9


def rank_check(
    expected: list[tuple[object, float]],
    got: list[tuple[object, float]],
    k: int | None = None,
    atol: float = ATOL,
) -> str | None:
    """Check ``got`` against ``expected`` (both ``(doc, score)`` lists,
    ``expected`` in rank order and, for a top-k answer, longer than ``k``
    where more documents scored).  Returns None when the contract holds,
    else a short reason."""
    exp = dict(expected)
    if len(exp) != len(expected):
        return "duplicate doc in expected"
    docs = [d for d, _ in got]
    if len(set(docs)) != len(docs):
        return "duplicate doc in answer"
    want_n = len(expected) if k is None else min(k, len(expected))
    if len(got) != want_n:
        return f"length {len(got)} != {want_n}"
    if k is not None and len(expected) > k:
        cut = expected[k - 1][1]
        # every doc scoring clearly above the cut must be present; docs at
        # the cut (within atol) may be interchanged
        must = {d for d, s in expected if s > cut + atol}
        if not must <= set(docs):
            return "missing a doc above the top-k cut"
        allowed = {d for d, s in expected if s >= cut - atol}
    else:
        allowed = set(exp)
    for d, s in got:
        if d not in allowed:
            return f"unexpected doc {d!r}"
        e = exp[d]
        if math.isnan(e) or math.isnan(s):
            if not (math.isnan(e) and math.isnan(s)):
                return f"NaN mismatch on {d!r}"
            continue
        if abs(s - e) > atol:
            return f"score {s!r} != {e!r} on {d!r}"
    prev = math.inf
    for d, _ in got:
        e = exp[d]
        if math.isnan(e):
            continue
        if e > prev + atol:
            return f"order: {d!r} ranks below a lower score"
        prev = e
    return None


def doc_key(conv_id: str, turn_idx: int) -> int:
    """The packed (conv-%08d, turn) key the block index uses."""
    return (int(conv_id[5:]) << 6) | int(turn_idx)


def frame_pairs(pdf) -> list[tuple[int, float]]:
    """(doc_key, score) pairs of an engine answer, in answer order."""
    return [
        (doc_key(c, t), float(s))
        for c, t, s in zip(pdf["conv_id"], pdf["turn_idx"], pdf["score"])
    ]


# ------------------------------------------------------------ BM25 oracle


def query_terms(query: str) -> list[str]:
    from holi_search_engine_spark.functions.javacompat import RE_QUERY_PUNCT

    out: list[str] = []
    for w in RE_QUERY_PUNCT.sub(" ", query).strip().lower().split():
        if w not in out:
            out.append(w)
    return out


class ExhaustiveBM25:
    """Scores every posting of every query term, read straight from the
    index's ``term_tf`` and ``doc_stats`` parquet files (no Spark), with
    the corpus statistics N and avgdl the index's ``_meta.json`` records.
    The BM25 formula is written out here, not imported."""

    def __init__(self, index_root: str) -> None:
        from holi_search_engine_spark.plans.compression import BM25_B, BM25_K1

        self.k1, self.b = BM25_K1, BM25_B
        with open(os.path.join(index_root, "_meta.json")) as f:
            meta = json.load(f)
        self.n_docs = int(meta["n_docs"])
        self.avgdl = float(meta.get("avgdl") or 1.0)
        tf = (
            ds.dataset(os.path.join(index_root, "term_tf"), format="parquet", partitioning="hive")
            .to_table(columns=["term", "doc_key", "tf"])
            .to_pandas()
        )
        dl = (
            ds.dataset(os.path.join(index_root, "doc_stats"), format="parquet")
            .to_table(columns=["doc_key", "dl"])
            .to_pandas()
        )
        order = np.argsort(dl["doc_key"].to_numpy(np.int64))
        self._dl_keys = dl["doc_key"].to_numpy(np.int64)[order]
        self._dl = dl["dl"].to_numpy(np.float64)[order]
        self.postings: dict[str, tuple[np.ndarray, np.ndarray]] = {
            t: (g["doc_key"].to_numpy(np.int64), g["tf"].to_numpy(np.float64))
            for t, g in tf.groupby("term", sort=False)
        }

    def df(self, term: str) -> int:
        p = self.postings.get(term)
        return 0 if p is None else len(p[0])

    def ranking(self, query: str, k: int) -> list[tuple[int, float]]:
        """Matching docs by score descending then doc key ascending: the
        top ``k`` and every further doc within 1e-6 of the k-th score."""
        keys, scores = [], []
        for t in query_terms(query):
            p = self.postings.get(t)
            if p is None:
                continue
            docs, tf = p
            df = len(docs)
            idf = math.log(1.0 + (self.n_docs - df + 0.5) / (df + 0.5))
            dl = self._dl[np.searchsorted(self._dl_keys, docs)]
            norm = 1.0 - self.b + self.b * dl / self.avgdl
            keys.append(docs)
            scores.append(idf * tf * (self.k1 + 1.0) / (tf + self.k1 * norm))
        if not keys:
            return []
        uniq, inv = np.unique(np.concatenate(keys), return_inverse=True)
        acc = np.zeros(len(uniq))
        # per-term accumulation in query-term order
        start = 0
        for sc in scores:
            np.add.at(acc, inv[start : start + len(sc)], sc)
            start += len(sc)
        order = np.lexsort((uniq, -acc))
        if len(order) > k:
            cut = acc[order[k - 1]] - 1e-6
            order = order[acc[order] >= cut]
        return [(int(uniq[i]), float(acc[i])) for i in order]


# ---------------------------------------------------------- ranker oracle


class RankerOracle:
    """The reference ranker's pure-Python transliteration
    (``oracle.pandas_oracle``) over the corpus as given to the program."""

    def __init__(self, corpus_pdf, dictionary: frozenset[str], pageranks: dict | None = None):
        from holi_search_engine_spark.oracle import pandas_oracle as O

        self._o = O
        docs = [
            ((c, int(t)), x)
            for c, t, x in zip(corpus_pdf["conv_id"], corpus_pdf["turn_idx"], corpus_pdf["text"])
        ]
        self.index = O.build_index(docs, dictionary)
        if pageranks:
            self.index.static_rank.update(pageranks)

    def ranking(self, query: str) -> list[tuple[int, float]]:
        return [(doc_key(*c.doc), float(c.score())) for c in self._o.search(self.index, query)]
