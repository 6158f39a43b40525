"""PageRank with the reference's exact iteration semantics
(``/root/reference/src/cis5550/jobs/PageRank.java:22-177``), as an
iterative DataFrame loop:

- contribution of u to each outlink v is ``rank(u)/outdeg(u)`` with NO
  damping applied to the transfer (``PageRank.java:82``; the damped
  variant is commented out at ``:81``);
- every vertex emits a self-contribution of 0.0 so zero-indegree vertices
  survive the join (``:92-94``);
- sinks (outdeg 0) emit only the self-pair — their mass is dropped, not
  redistributed (``:75-78``);
- ``new_rank = (1 − d) + d·Σcontrib`` with d = 0.85 (``:60,111``);
- convergence when global max |Δrank| < 0.01 (``:125-140``), ranks
  initialized to 1.0 (``:44-52``).

Scale shape: each iteration is one shuffle (groupBy dst) + one join with
the rank state; ``localCheckpoint`` every few iterations cuts the lineage
chain that would otherwise grow linearly (the reference materializes every
operator to its KVS, paying that cost on purpose; we pay it only at
checkpoint intervals).

This is the static-prior hook of SURVEY.md §8: transcripts default the
prior to 0, but the operator is a first-class part of the engine and is
pytest-verified against a loop-free Python transliteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

DAMPING = 0.85  # PageRank.java:60
CONVERGENCE = 0.01  # PageRank.java:58
CHECKPOINT_EVERY = 4


def pagerank(
    edges: DataFrame,
    damping: float = DAMPING,
    convergence: float = CONVERGENCE,
    max_iter: int = 50,
) -> DataFrame:
    """edges(src, dst) → (vertex, rank).  Duplicate edges are deduped
    first, mirroring the reference's LinkedHashSet outlink dedup
    (``PageRank.java:71-73``)."""
    edges = edges.select("src", "dst").distinct().cache()
    vertices = (
        edges.select(F.col("src").alias("vertex"))
        .union(edges.select(F.col("dst").alias("vertex")))
        .distinct()
        .cache()
    )
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ranks = vertices.withColumn("rank", F.lit(1.0))  # PageRank.java:44-52

    for it in range(max_iter):
        # transfer: rank/outdeg to each outlink, undamped (PageRank.java:82)
        contribs = (
            edges.join(ranks, edges.src == ranks.vertex)
            .join(outdeg, "src")
            .select(F.col("dst").alias("vertex"), (F.col("rank") / F.col("outdeg")).alias("c"))
        )
        # self-pair 0.0 keeps zero-indegree vertices alive (PageRank.java:92-94);
        # sinks contribute nothing — mass dropped (PageRank.java:75-78)
        zero = vertices.withColumn("c", F.lit(0.0))
        summed = contribs.union(zero).groupBy("vertex").agg(F.sum("c").alias("s"))
        new_ranks = summed.select(
            "vertex", (F.lit(1.0 - damping) + F.lit(damping) * F.col("s")).alias("rank")
        )
        if (it + 1) % CHECKPOINT_EVERY == 0:
            new_ranks = new_ranks.localCheckpoint()
        delta = (
            ranks.withColumnRenamed("rank", "old")
            .join(new_ranks, "vertex")
            .agg(F.max(F.abs(F.col("rank") - F.col("old"))))
            .collect()[0][0]
        )
        ranks = new_ranks
        # None delta ⇔ empty graph: trivially converged (iterating empty
        # frames max_iter times would cost ~10 no-op jobs)
        if delta is None or delta < convergence:  # PageRank.java:125-140
            break
    # materialize the result OFF the cached inputs (localCheckpoint is
    # eager and truncates lineage), then release them: callers like
    # search_topk_prior invoke pagerank() repeatedly in long-lived
    # sessions, and leaving corpus-sized frames pinned accumulates
    # executor storage round after round
    ranks = ranks.localCheckpoint()
    edges.unpersist()
    vertices.unpersist()
    return ranks


def build_reply_pagerank(spark, paths, max_iter: int = 50) -> str:
    """Build the optional static-prior artifact (``paths.pageranks``) from
    the transcript corpus's REPLY STRUCTURE: every turn links to the turn
    it replies to (turn i → turn i−1 of the same conversation).  The
    reference serves ``0.75·pagerank`` from a pageranks table keyed by doc
    (``ranker/Ranker.java:112-120,255``); this is the conversation-graph
    analog for corpora that have one.  Engines treat the artifact as
    optional — absent ⇒ prior 0 (SURVEY.md §8's transcripts default).

    Edges derive from the doc_stats table alone: packed keys are
    ``conv_num<<TURN_BITS | turn_idx`` with turn_idx contiguous from 0,
    so ``key → key−1`` for every key with a nonzero turn component IS the
    reply edge — no second scan of the corpus.  Returns the artifact
    path.  One shuffle per iteration; same scale shape as
    :func:`pagerank`."""
    from ..sources.catalog import read_table, write_table
    from .compression import TURN_BITS

    dl = read_table(spark, paths.doc_stats).select("doc_key")
    mask = (1 << TURN_BITS) - 1
    edges = dl.where(F.col("doc_key").bitwiseAND(F.lit(mask)) > 0).select(
        F.col("doc_key").alias("src"), (F.col("doc_key") - 1).alias("dst")
    )
    ranks = pagerank(edges, max_iter=max_iter)
    write_table(
        ranks.select(F.col("vertex").cast("long").alias("doc_key"), "rank"),
        paths.pageranks,
    )
    return paths.pageranks


def pagerank_python(
    edge_list: list[tuple[str, str]],
    damping: float = DAMPING,
    convergence: float = CONVERGENCE,
    max_iter: int = 50,
) -> dict[str, float]:
    """Loop-free-of-Spark transliteration of the same semantics — the test
    oracle for :func:`pagerank`."""
    edges = list(dict.fromkeys(edge_list))
    vertices = sorted({s for s, _ in edges} | {d for _, d in edges})
    out: dict[str, list[str]] = {}
    for s, d in edges:
        out.setdefault(s, []).append(d)
    ranks = {v: 1.0 for v in vertices}
    for _ in range(max_iter):
        acc = {v: 0.0 for v in vertices}  # self-pair 0.0
        for s, targets in out.items():
            c = ranks[s] / len(targets)
            for t in targets:
                acc[t] += c
        new_ranks = {v: (1 - damping) + damping * acc[v] for v in vertices}
        delta = max(abs(new_ranks[v] - ranks[v]) for v in vertices)
        ranks = new_ranks
        if delta < convergence:
            break
    return ranks
