"""Multi-corpus soak of the distributed query paths against the engine.

For each random corpus (same generator as ``scripts/soak_javadiff.py``,
whose compiled-Java differential pins the single-node ``RankerEngine``
bit-exactly), this drives the two distributed plans and requires:

- ``DistributedRanker.search`` (a batch of one) and each query's slice
  of one ``search_many`` batch over ALL the corpus's queries equal to
  ``RankerEngine.search`` exactly, every column and the row order: both
  score the 250-doc cut with ``ranker.score_cut``.
- ``distributed_bm25_topk`` (a batch of one) rank-identical (docs AND
  scores to 1e-9) to
  ``BM25Engine.search`` at n_ranges in {1, 5} — the degenerate
  single-task case and a forced multi-task split.
- ``distributed_bm25_topk_many`` over ALL of the corpus's queries in one
  batch job: each query's slice rank-identical to the engine.

Run from the repo root:

    python scripts/soak_distributed.py [seed,seed,...] [queries_per_corpus]

Recorded run (round 5): seeds 11,22,33,44,55 x 12 queries (plus the
bm25 subset at both range counts) — 0 mismatches.  Re-run after the
batch-path addition with seeds 11,22,33 x 12 queries including the
all-queries bm25 batch check — 0 mismatches.  Re-run after the
reference-semantics batch replay (``search_many``) landed, seeds
13,29 and 41,57,63 x 12 queries with both batch checks — 0 mismatches.
Seeds 71,88,95,104,119 then caught the strict-order check itself being
wrong (the seed-119 near-tie swap described above, flagged on BOTH the
single and batched paths — diagnosed to 1-ulp engine scores summed
equal Spark-side); re-run with ``rank_check`` over the same five seeds
— 0 mismatches.  Re-run after the single-query entry points became
batches of one, with ``rank_check`` moved to ``scripts/rank_contract.py``
and folding in the NaN-set check: seed 137 x 12 queries (4 vCPU) — 0
mismatches.  The ranker checks became exact frame equality once the
distributed ranker scored its cut with the single-node scorer.  Exits
nonzero on any mismatch.
"""
import os
import random
import sys
import time

sys.path.insert(0, ".")
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

from holi_search_engine_spark.corpus import (  # noqa: E402
    generate_conversations_pdf, make_vocabulary,
)
from holi_search_engine_spark.plans.index_build import build_index  # noqa: E402
from holi_search_engine_spark.query.bm25 import BM25Engine  # noqa: E402
from holi_search_engine_spark.query.distributed import (  # noqa: E402
    DistributedRanker, distributed_bm25_topk, distributed_bm25_topk_many,
)
from holi_search_engine_spark.query.ranker import RankerEngine  # noqa: E402

from soak_javadiff import make_queries  # noqa: E402  (scripts/ on sys.path)


def ranker_diff(exp, got):
    """None when ``got`` (one query's rows, ``query_id`` dropped) equals
    the engine's frame exactly, else a short failure tag."""
    got = got.drop(columns="query_id", errors="ignore").reset_index(drop=True)
    if not len(exp):
        return None if got.empty else "len"
    try:
        pd.testing.assert_frame_equal(got, exp, check_exact=True)
    except AssertionError:
        return "frame"
    return None


def run_corpus(spark, vocab, seed, workdir, n_queries):
    rng = random.Random(seed)
    n_convs = rng.randint(12, 45)
    offset = rng.randrange(100000)
    pdf = generate_conversations_pdf(
        np.arange(offset, offset + n_convs), vocab
    ).head(240).reset_index(drop=True)
    pdf_sp = pdf.copy()
    pdf_sp["ts"] = pdf_sp["ts"].dt.tz_localize(None)
    paths = build_index(spark, spark.createDataFrame(pdf_sp),
                        f"{workdir}/idx_{seed}", frozenset(vocab), buckets=2)
    engine = RankerEngine(spark, paths, preload=True)
    dist = DistributedRanker(spark, paths)
    bm25 = BM25Engine(spark, paths)

    by_df = sorted(engine.reader.terms(), key=lambda t: -engine.reader.df(t))
    hot, mid, rare = (by_df[:8], by_df[len(by_df)//3:len(by_df)//3+20],
                      by_df[-20:])
    queries = make_queries(rng, (hot, mid, rare), pdf, n_queries)

    fails = []
    exp_by_qid: dict[int, object] = {}
    for qid, q in enumerate(queries):
        exp = engine.search(q)
        exp_by_qid[qid] = exp
        bad = ranker_diff(exp, dist.search(q))
        if bad:
            fails.append((q, f"ranker-{bad}", None, None))
    # BM25 distributed on a subset (each query is several Spark jobs)
    for q in queries[: max(4, n_queries // 4)]:
        exp = bm25.search(q, 10)
        for nr in (1, 5):
            got = distributed_bm25_topk(spark, paths, q, 10, n_ranges=nr)
            if list(got["conv_id"]) != list(exp["conv_id"]) or \
               list(got["turn_idx"]) != list(exp["turn_idx"]):
                fails.append((q, f"bm25-order-nr{nr}", None, None))
            elif len(exp) and not np.allclose(got["score"], exp["score"],
                                              atol=1e-9):
                fails.append((q, f"bm25-score-nr{nr}", None, None))
    # the batched reference-semantics replay: ALL queries in one job
    # chain, each query's slice held to the same check
    rbatch = dist.search_many(queries)
    for qid, q in enumerate(queries):
        exp = exp_by_qid[qid]  # same reference frame as the single check
        bad = ranker_diff(exp, rbatch[rbatch["query_id"] == qid])
        if bad:
            fails.append((q, f"ranker-batch-{bad}", None, None))
    # the batched bm25 plan: ALL of the corpus's queries in one job, each
    # query's slice rank-identical to the engine
    batch = distributed_bm25_topk_many(spark, paths, queries, 10, n_ranges=5)
    for qid, q in enumerate(queries):
        exp = bm25.search(q, 10)
        g = batch[batch["query_id"] == qid]
        if list(g["conv_id"]) != list(exp["conv_id"]) or \
           list(g["turn_idx"]) != list(exp["turn_idx"]):
            fails.append((q, "bm25-batch-order", None, None))
        elif len(exp) and not np.allclose(g["score"].to_numpy(),
                                          exp["score"].to_numpy(), atol=1e-9):
            fails.append((q, "bm25-batch-score", None, None))
    return dict(seed=seed, n_docs=len(pdf), n_queries=len(queries),
                fails=fails)


def main():
    import tempfile
    workdir = tempfile.mkdtemp(prefix="soak_dist_")
    vocab = make_vocabulary()
    spark = (SparkSession.builder.master("local[16]")
             .config("spark.sql.shuffle.partitions", "16")
             .config("spark.driver.memory", "12g")
             .appName("soak-dist").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    seeds = [int(s) for s in sys.argv[1].split(",")] if len(sys.argv) > 1 \
        else [11, 22, 33]
    nq = int(sys.argv[2]) if len(sys.argv) > 2 else 12
    total = 0
    for seed in seeds:
        t0 = time.time()
        r = run_corpus(spark, vocab, seed, workdir, nq)
        total += len(r["fails"])
        print(f"seed={seed} docs={r['n_docs']} queries={r['n_queries']} "
              f"FAILS={len(r['fails'])} [{time.time()-t0:.1f}s]", flush=True)
        for f in r["fails"][:10]:
            print("  FAIL:", repr(f), flush=True)
    print("TOTAL FAILS:", total, flush=True)
    sys.exit(1 if total else 0)


if __name__ == "__main__":
    main()
