"""Extended multi-corpus soak of the compiled-Java scoring differential.

Reuses the pytest kernel (tests/test_javadiff_scoring.py — the verbatim
``Ranker.java`` transliteration compiled by the container's OpenJDK) but
sweeps MANY random corpora and hundreds of adversarial queries per
corpus: random term mixes with duplicates straddling HashMap capacity
boundaries, stopword blends, Java-trim control chars (<= U+0020),
ASCII/Unicode whitespace separators (tab/VT/FF/CR, NBSP, U+3000),
punctuation alphabets inside and between tokens, raw document-text
slices (the exact-title kw=10 branch), all-punctuation queries (Java's
``split`` yields ``['']``), and the corpus's hottest term (df==n ->
negative idf -> the NaN-poison path).

Pass criteria per query: identical candidate set + occurrence, BIT-EXACT
weight/pagerank/keyword/score doubles, identical score sequence, and
equal-score runs holding the same doc set (Q10 tie normalization).
Queries containing a term whose ``Math.pow(idf,1.5)`` diverges from
libm pow (the HotSpot intrinsic's 1-ulp spec slack — measured ~0.1% of
idfs) are skipped for the bit-exact comparison and counted.

Run from the repo root (Spark workers import the package by cwd):

    python scripts/soak_javadiff.py [seed,seed,...] [queries_per_corpus]

Recorded runs (round 5): seeds 101..606 x 120 queries and 1..20 x 200
queries — 4,720 queries over 26 random corpora (91-240 docs), 0
mismatches, 1 query pow-skipped.  Exits nonzero on any mismatch.
"""
import base64
import math
import random
import subprocess
import sys
import time

sys.path.insert(0, ".")

from tests.test_javadiff_scoring import (  # noqa: E402
    _JAVA_SRC_TEMPLATE, _bits, _export_payload, _reference_stopwords,
)

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

from holi_search_engine_spark.corpus import (  # noqa: E402
    generate_conversations_pdf, make_vocabulary,
)
from holi_search_engine_spark.plans.index_build import build_index  # noqa: E402
from holi_search_engine_spark.query.ranker import RankerEngine  # noqa: E402
from holi_search_engine_spark.query.stopwords import STOPWORDS  # noqa: E402
from holi_search_engine_spark.session import get_spark  # noqa: E402

WS = [" ", "\t", "\n", "\x0b", "\f", "\r", " ", "　", "  ", " \t "]
PUNCT = list(".,:;!?'\"()-") + ["--", "...", "!?"]
CTRL = ["\x00", "\x01", "\x1f", "\x20"]


def make_queries(rng, terms_by_df, pdf, n):
    hot, mid, rare = terms_by_df
    pool = hot + mid + rare
    qs = []
    for _ in range(n):
        shape = rng.randrange(10)
        if shape == 0:  # plain mix
            k = rng.randint(1, 6)
            words = [rng.choice(pool) for _ in range(k)]
        elif shape == 1:  # heavy duplicates across capacity boundary
            distinct = rng.sample(pool, rng.randint(2, 12))
            words = distinct + [rng.choice(distinct)
                                for _ in range(rng.randint(1, 14))]
            rng.shuffle(words)
        elif shape == 2:  # stopword blend
            words = [rng.choice(list(STOPWORDS)) for _ in range(rng.randint(1, 4))]
            words += [rng.choice(pool) for _ in range(rng.randint(0, 3))]
            rng.shuffle(words)
        elif shape == 3:  # absent + present
            words = ["zzzzqx%d" % rng.randrange(100)] + \
                [rng.choice(pool) for _ in range(rng.randint(0, 3))]
        elif shape == 4:  # case mangling
            words = [w.upper() if rng.random() < 0.5 else w.capitalize()
                     for w in (rng.choice(pool) for _ in range(rng.randint(1, 5)))]
        elif shape == 5:  # title substring (exact kw branch)
            t = pdf["text"].iloc[rng.randrange(len(pdf))]
            a = rng.randrange(max(1, len(t) - 45))
            qs.append(t[a:a + rng.randint(8, 44)])
            continue
        elif shape == 6:  # hottest term (possible df==n -> NaN poison)
            words = [hot[0]] + [rng.choice(pool) for _ in range(rng.randint(0, 3))]
        elif shape == 7:  # all punctuation / empty-ish
            qs.append("".join(rng.choice(PUNCT) for _ in range(rng.randint(1, 6))))
            continue
        elif shape == 8:  # unicode/control garnish on a plain mix
            words = [rng.choice(pool) for _ in range(rng.randint(1, 4))]
            q = rng.choice(WS).join(words)
            q = rng.choice(CTRL) + q + rng.choice(CTRL)
            if rng.random() < 0.5:
                q = q.replace(" ", rng.choice(WS), 1)
            qs.append(q)
            continue
        else:  # punctuation-infused terms
            words = [rng.choice(pool) + rng.choice(PUNCT)
                     for _ in range(rng.randint(1, 5))]
        sep = rng.choice(WS) if rng.random() < 0.3 else " "
        qs.append(sep.join(words))
    return qs


def run_corpus(spark, vocab, seed, workdir, n_queries):
    rng = random.Random(seed)
    n_convs = rng.randint(12, 45)
    offset = rng.randrange(100000)
    pdf = generate_conversations_pdf(
        np.arange(offset, offset + n_convs), vocab
    ).head(240).reset_index(drop=True)
    pdf_sp = pdf.copy()
    pdf_sp["ts"] = pdf_sp["ts"].dt.tz_localize(None)
    d = f"{workdir}/idx_{seed}"
    paths = build_index(spark, spark.createDataFrame(pdf_sp), d,
                        frozenset(vocab), buckets=2)
    engine = RankerEngine(spark, paths, preload=True)

    by_df = sorted(engine.reader.terms(), key=lambda t: -engine.reader.df(t))
    hot, mid, rare = by_df[:8], by_df[len(by_df)//3:len(by_df)//3+20], by_df[-20:]
    queries = make_queries(rng, (hot, mid, rare), pdf, n_queries)

    payload = _export_payload(engine, queries)
    p = subprocess.run(["java", "-cp", workdir, "RefScore"],
                       input=payload.encode(), capture_output=True,
                       timeout=600, check=True)
    all_lines = p.stdout.decode().splitlines()

    pow_div = set()
    for line in all_lines:
        if line.startswith("P "):
            term_b64, hexpow = line[2:].split("|")
            term = base64.b64decode(term_b64).decode()
            idf = engine.reader.idf(term)
            mine = idf ** 1.5 if idf >= 0.0 else float("nan")
            if _bits(mine) != _bits(float.fromhex(hexpow)):
                pow_div.add(term)
    lines = [l for l in all_lines if not l.startswith("P ")]

    results, i = [], 0
    while i < len(lines):
        assert lines[i].startswith("Q "), lines[i]
        k = int(lines[i][2:])
        rows = []
        for j in range(k):
            url_b64, occ, w, pr, kw, sc = lines[i + 1 + j].split("|")
            rows.append((int(base64.b64decode(url_b64).decode()), int(occ),
                         float.fromhex(w), float.fromhex(pr),
                         float.fromhex(kw), float.fromhex(sc)))
        results.append(rows)
        i += 1 + k
    assert len(results) == len(queries)

    from holi_search_engine_spark.functions.javacompat import java_query_tokens
    checked = skipped_pow = 0
    fails = []
    for q, jrows in zip(queries, results):
        if pow_div and (set(java_query_tokens(q)) & pow_div):
            skipped_pow += 1
            continue
        got = engine.search(q)
        if len(got) != len(jrows):
            fails.append((q, "len", len(got), len(jrows)))
            continue
        if not len(got):
            checked += 1
            continue
        gmap = {int(dk): (int(o), float(w), float(pr), float(kw), float(sc))
                for dk, o, w, pr, kw, sc in zip(
                    got["doc_key"], got["occurrence"], got["tf_idf_weight"],
                    got["page_rank"], got["keyword_match"], got["score"])}
        jmap = {r[0]: r[1:] for r in jrows}
        if set(gmap) != set(jmap):
            fails.append((q, "candset", set(gmap) ^ set(jmap), None))
            continue
        ok = True
        for dk, (jo, jw, jpr, jkw, jsc) in jmap.items():
            go, gw, gpr, gkw, gsc = gmap[dk]
            if go != jo or _bits(gw) != _bits(jw) or _bits(gpr) != _bits(jpr) \
               or _bits(gkw) != _bits(jkw) or _bits(gsc) != _bits(jsc):
                fails.append((q, "val", dk,
                              (go, gw.hex(), gkw, gsc.hex()),
                              (jo, jw.hex(), jkw, jsc.hex())))
                ok = False
                break
        if not ok:
            continue
        if not any(math.isnan(r[5]) for r in jrows):
            gseq = list(zip(got["doc_key"].astype(int), got["score"]))
            jseq = [(r[0], r[5]) for r in jrows]
            if [s for _, s in gseq] != [s for _, s in jseq]:
                fails.append((q, "scoreseq", None, None))
                continue
            start = 0
            while start < len(gseq):
                end = start
                while end < len(gseq) and gseq[end][1] == gseq[start][1]:
                    end += 1
                if {d for d, _ in gseq[start:end]} != {d for d, _ in jseq[start:end]}:
                    fails.append((q, "tierun", start, end))
                    ok = False
                    break
                start = end
            if not ok:
                continue
        checked += 1
    return dict(seed=seed, n_docs=len(pdf), n_queries=len(queries),
                checked=checked, skipped_pow=skipped_pow,
                pow_div_terms=len(pow_div), fails=fails)


def main():
    import tempfile
    workdir = tempfile.mkdtemp(prefix="soak_javadiff_")
    vocab = make_vocabulary()
    ref_stop = _reference_stopwords()
    assert set(ref_stop) == set(STOPWORDS)
    src = _JAVA_SRC_TEMPLATE.replace(
        "__STOPWORDS__", ", ".join('"%s"' % w for w in ref_stop))
    open(f"{workdir}/RefScore.java", "w").write(src)
    subprocess.run(["javac", "RefScore.java"], cwd=workdir, check=True,
                   capture_output=True, timeout=120)

    spark = get_spark("soak")
    spark.sparkContext.setLogLevel("ERROR")

    seeds = [int(s) for s in sys.argv[1].split(",")] if len(sys.argv) > 1 \
        else [101, 202, 303, 404, 505, 606]
    nq = int(sys.argv[2]) if len(sys.argv) > 2 else 120
    total_fails = 0
    for seed in seeds:
        t0 = time.time()
        r = run_corpus(spark, vocab, seed, workdir, nq)
        total_fails += len(r["fails"])
        print(f"seed={seed} docs={r['n_docs']} queries={r['n_queries']} "
              f"checked={r['checked']} skipped_pow={r['skipped_pow']} "
              f"(pow-div terms={r['pow_div_terms']}) "
              f"FAILS={len(r['fails'])} [{time.time()-t0:.1f}s]", flush=True)
        for f in r["fails"][:10]:
            print("  FAIL:", repr(f), flush=True)
    print("TOTAL FAILS:", total_fails, flush=True)
    sys.exit(1 if total_fails else 0)


if __name__ == "__main__":
    main()
