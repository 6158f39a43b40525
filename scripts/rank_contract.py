"""The rank contract of the Spark query paths against the single-node
engines, written once for pytest (``tests/test_distributed.py``) and the
soak (``scripts/soak_distributed.py``)."""


def rank_check(exp, got, key="doc_key", atol=1e-9):
    """Compare one query's Spark rows ``got`` with the engine's ``exp``:
    same doc set, per-doc scores within ``atol``, and the Spark sequence
    non-increasing in the ENGINE's scores up to ``atol``.

    Exact sequence equality is STRONGER than the documented contract —
    the Spark aggregation sums score terms in partition order, not the
    engine's HashMap order (quirk Q12), so two docs whose engine scores
    differ by 1 ulp can legitimately swap (first seen at soak seed 119:
    engine 0.06386309394396882 vs ...88, Spark computed them equal and
    broke the tie doc-asc).  A genuinely misplaced doc still fails: its
    engine score is out of non-increasing order by more than atol.

    A NaN-poisoned query (a negative idf, Q3) scores every candidate NaN
    on both sides; its order is unspecified in the reference too (Q10),
    so only the doc set is compared.

    ``key`` names the doc-identity column, or a list of them (the BM25
    paths return the doc columns without ``doc_key``).  Returns None or
    a short failure tag."""
    cols = [key] if isinstance(key, str) else list(key)
    exp_keys = list(zip(*(exp[c] for c in cols)))
    got_keys = list(zip(*(got[c] for c in cols)))
    if len(exp_keys) != len(got_keys):
        return "len"
    es = dict(zip(exp_keys, exp["score"].astype(float)))
    if set(es) != set(got_keys):
        return "docset"
    e_nan, g_nan = exp["score"].isna().all(), got["score"].isna().all()
    if e_nan or g_nan:
        return None if e_nan and g_nan else "nan"
    for d, s in zip(got_keys, got["score"].astype(float)):
        # NaN-safe: `abs(diff) > atol` is False for NaN and would let a
        # partially-NaN regression through; require proven closeness
        if not (abs(es[d] - s) <= atol):
            return "score"
    seq = [es[d] for d in got_keys]
    for i in range(len(seq) - 1):
        if seq[i] < seq[i + 1] - atol:
            return "order"
    return None
