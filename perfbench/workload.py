"""One workload in one Spark application; run by ``perfbench/run.py``.

    python3 perfbench/workload.py --workload live --seed 1 --seconds 20 \
        --trace 0 --work perfbench/.work

Prints a ``detail`` JSON line (workload-specific numbers, input
properties, reconciliation of the traced walls) and, last, the result
line ``{"correct", "attempted", "failed", "metrics"}``.  Each workload has
one client in a closed loop on ``local[4]``.

Layers are the package's modules; every span wraps a call into a public
function of one of them, and all counters are read from outside (see
``trace.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402
from perfbench.check import (  # noqa: E402
    ExhaustiveBM25,
    RankerOracle,
    frame_pairs,
    rank_check,
)
from perfbench.trace import (  # noqa: E402
    SparkRest,
    Tracer,
    host_cpu,
    median,
    peak_rss_mb,
    percentile,
    proc_cpu,
    self_times,
    tail_percentile,
    trimmed_mean,
    widest_stage,
    window_counters,
)

CORES = 4
BUCKETS = 8
DRIVER_MEMORY = "2g"
K = 10  # BM25 top-k
#: rounds per run.  Each round is an open of the workload's engines and a
#: share of the query window, so set-up and query metrics are medians over
#: samples spread across the run: on a shared host the CPU speed can drift
#: by tens of percent within a minute.  An open of the preloaded pair costs
#: 4-7 s, so there are two rounds, not more
ROUNDS = 2
#: queries a round sends at least
MIN_ROUND = 100
#: queries after each engine open that count as cold
COLD = 20
#: distinct queries of each round whose answers are checked
CHECKED_PER_ROUND = 20
#: pruned-read queries of the traced tail run, for each engine
PRUNED_BM25 = 6
PRUNED_RANKER = 3
#: the traced tail run's batch size for the distributed batch paths
BATCH = 16
#: the traced tail run's paths that launch Spark per query
PATHS = (
    "bm25.pruned",
    "ranker.pruned",
    "distributed.bm25_batch",
    "distributed.ranker_batch",
)
#: PageRank iterations of the traced tail run's prior build
PAGERANK_ITERS = 3
#: tolerance for reconciling traced per-layer walls with end-to-end walls
RECONCILE_TOL = 0.15


def start_spark(work: str, trace: bool):
    from holi_search_engine_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.host": "localhost",
        "spark.driver.bindAddress": "127.0.0.1",
        # C1 only: a run lives ~1 min, and C2 recompiles in the background
        # of a cold JVM competed with the 4 task threads for the 4 vCPUs.
        # Serial GC: it grows the heap by the live data left after a
        # collection, where G1 grows it by the share of time spent in GC,
        # which made the JVM's peak RSS follow the host's speed
        "spark.driver.extraJavaOptions": (
            "-XX:-UsePerfData -XX:TieredStopAtLevel=1 -XX:+UseSerialGC "
            f"-Djava.io.tmpdir={work}/tmp"
        ),
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if trace else "false",
    }
    if trace:
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    return get_spark("perfbench", cores=CORES, shuffle_partitions=CORES, extra_conf=conf), conf


class Run:
    """State shared by the steps of one workload run."""

    def __init__(self, args, spark) -> None:
        from holi_search_engine_spark.corpus import make_vocabulary

        self.args = args
        self.spark = spark
        self.tr = Tracer(bool(args.trace))
        self.work = args.work
        self.dictionary = frozenset(make_vocabulary())
        self.idx = os.path.join(self.work, "index")
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.detail: dict = {}
        self.metrics: dict[str, float] = {}
        self.metrics_layer: dict[str, float] = {}

    # ---------------------------------------------------------- checks

    def check(self, what: str, reason: str | None) -> None:
        """Count one checked answer; a wrong answer counts as failed."""
        if reason is not None:
            self.failed += 1
            if len(self.failures) < 5:
                self.failures.append(f"{what}: {reason}")

    # ---------------------------------------------------------- build

    def build(self, out_dir: str):
        """``build_index`` over the base corpus, resume on, blocks on and no
        postings table, like every caller in the repo."""
        from holi_search_engine_spark.plans.index_build import build_index

        return build_index(
            self.spark, self.corpus, out_dir, self.dictionary,
            buckets=BUCKETS, build_postings_table=False,
        )

    def base_build(self) -> None:
        """Write the seeded corpus and build the base index the workload
        queries.  It is the first Spark work of the application, so its
        wall includes the JVM's and the Python workers' warm-up, as a
        one-off build in a fresh session does.  Its wall is part of
        ``setup_s``."""
        self.corpus_pdf = inputs.conversations(self.args.seed, 0, inputs.BASE_CONVS)
        corpus_dir = os.path.join(self.work, "corpus")
        corpus_bytes = inputs.write_parquet(self.corpus_pdf, corpus_dir)
        self.corpus = self.spark.read.parquet(corpus_dir)
        self.paths, wall = timed(self.build, self.idx)
        text_bytes = int(self.corpus_pdf["text"].str.len().sum())
        self.detail["inputs"] = {
            "convs": inputs.BASE_CONVS,
            "turns": len(self.corpus_pdf),  # from the input, not _meta.json
            "text_bytes": text_bytes,
            "corpus_parquet_bytes": corpus_bytes,
            "index_bytes": dir_bytes(self.idx),
        }
        self.detail["build_s"] = wall
        self.detail["build_turns_per_s"] = len(self.corpus_pdf) / wall
        if self.tr.enabled:
            self.solo_stages()
            with self.tr.span("index_build.full", cpu=True):
                self.build(os.path.join(self.work, "index_rebuild"))
        self.metrics_layer["index_build.stored_bytes_per_text_byte"] = (
            dir_bytes(self.idx) / text_bytes
        )

    def peak_rss(self) -> None:
        rss = peak_rss_mb()
        self.metrics["peak_rss_mb"] = sum(rss.values())
        self.detail["peak_rss_mb"] = rss

    def solo_stages(self) -> None:
        """Time each build stage alone: remove only that stage's
        ``_manifest`` record(s) and re-run ``build_index`` with resume on,
        the contract ``streaming/incremental.py`` relies on."""
        man = os.path.join(self.idx, "_manifest")
        for span, prefix in (
            ("index_build.stage_a", "stage_a"),
            ("index_build.doc_stats", "doc_stats"),
            ("index_build.wmetric", "wmetric"),
            ("compression.blocks", "blocks_bucket_"),
        ):
            for f in os.listdir(man):
                if f == prefix + ".json" or (prefix.endswith("_") and f.startswith(prefix)):
                    os.remove(os.path.join(man, f))
            with self.tr.span(span, cpu=True):
                self.build(self.idx)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs
    )


def file_states(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for r, _, fs in os.walk(path):
        for f in fs:
            p = os.path.join(r, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def timed(fn, *a, **kw):
    t0 = time.perf_counter()
    out = fn(*a, **kw)
    return out, time.perf_counter() - t0


# ============================================================ workloads


def serve(run: Run, stream) -> tuple:
    """The measured part both workloads share: ROUNDS rounds, each a fresh
    open of the preloaded ``BM25Engine`` and ``RankerEngine`` (no PageRank
    prior) and a closed loop of queries from ``stream`` for a share of the
    window.  Sets the end-to-end metrics and checks the answers; returns
    ``(open_engines, query_round)`` for the traced steps that follow."""
    from holi_search_engine_spark.query.bm25 import BM25Engine
    from holi_search_engine_spark.query.ranker import RankerEngine

    spark, tr, args = run.spark, run.tr, run.args
    run.base_build()
    opens: list[float] = []

    def open_engines():
        t0 = time.perf_counter()
        with tr.span("bm25.open", cpu=True):
            b = BM25Engine(spark, run.paths)
        with tr.span("ranker.open", cpu=True):
            r = RankerEngine(spark, run.paths)
        opens.append(time.perf_counter() - t0)
        return b, r

    # the first COLD answers after an open pay lazy decodes and caches
    lat = {"bm25": [], "ranker": []}
    cold = {"bm25": [], "ranker": []}
    warm = {"bm25": [], "ranker": []}
    sent: list[str] = []

    def query_round(bm25, ranker, seconds: float, rnd: str) -> dict[str, tuple]:
        """Closed loop for ``seconds`` (at least MIN_ROUND queries); returns
        the answers to the round's first CHECKED_PER_ROUND distinct queries."""
        seen: dict[str, tuple] = {}
        n = 0
        deadline = time.perf_counter() + seconds
        with tr.span("live.round", req=rnd, cpu=True):
            while n < MIN_ROUND or time.perf_counter() < deadline:
                q = next(stream)
                sent.append(q)
                with tr.span("bm25.search", req=f"{rnd}.q{n}"):
                    t0 = time.perf_counter()
                    b_ans = bm25.search(q, k=K)
                    t1 = time.perf_counter()
                with tr.span("ranker.search", req=f"{rnd}.q{n}"):
                    r_ans = ranker.search(q)
                    t2 = time.perf_counter()
                for eng, dt in (("bm25", t1 - t0), ("ranker", t2 - t1)):
                    lat[eng].append(dt)
                    (cold if n < COLD else warm)[eng].append(dt)
                if q not in seen and len(seen) < CHECKED_PER_ROUND:
                    seen[q] = (b_ans, r_ans)
                n += 1
        run.attempted += 2 * n
        return seen

    answers: dict[str, tuple] = {}
    decoded = 0
    for rep in range(ROUNDS):
        bm25 = ranker = None  # the previous round's engines are released first
        with tr.span("setup"):
            bm25, ranker = open_engines()
        dec0 = bm25.blocks_decoded
        for q, a in query_round(bm25, ranker, args.seconds / ROUNDS, f"round{rep}").items():
            answers.setdefault(q, a)
        decoded += bm25.blocks_decoded - dec0
    base_sent = list(sent)
    # before the checks: their scorers live in this process too
    run.peak_rss()
    run.scorer = ExhaustiveBM25(run.idx)

    # the set-up a user goes through: build the index, open the engines
    run.metrics["setup_s"] = run.detail["build_s"] + median(opens)
    # a trimmed mean, not the median: on the Zipf mix the median sits
    # between BM25's WAND and exhaustive modes and jumps with the seed
    run.metrics["bm25_query_ms"] = 1e3 * trimmed_mean(lat["bm25"])
    run.metrics["ranker_query_ms"] = 1e3 * trimmed_mean(lat["ranker"])
    d = run.detail
    # closed-loop throughput of the query rounds
    d["queries_per_s"] = (len(lat["bm25"]) + len(lat["ranker"])) / (
        sum(lat["bm25"]) + sum(lat["ranker"])
    )
    d["query_inputs"] = inputs.query_properties(base_sent, run.scorer)
    d["setup_walls_s"] = opens
    for eng in ("bm25", "ranker"):
        ms = [1e3 * x for x in lat[eng]]
        tp = tail_percentile(len(ms))
        d[f"{eng}_samples"] = len(ms)
        d[f"{eng}_p50_ms"] = median(ms)
        if tp is not None:
            d[f"{eng}_p{tp:g}_ms"] = percentile(ms, tp)

    # ---- answer checks, outside every timed region
    t0 = time.perf_counter()
    run.oracle = RankerOracle(run.corpus_pdf, run.dictionary)
    check_answers(run, answers, run.scorer, run.oracle)
    d["check_s"] = time.perf_counter() - t0

    if tr.enabled:
        layer = run.metrics_layer
        # blocks the WAND path decoded vs the blocks the queries' terms hold
        layer["bm25.search.blocks_decoded"] = float(decoded)
        layer["bm25.search.blocks_total"] = float(sum(bm25.total_blocks(q) for q in base_sent))
        for eng in ("bm25", "ranker"):
            layer[f"{eng}.search.warm_p50_ms"] = 1e3 * median(warm[eng])
            layer[f"{eng}.search.cold_p50_ms"] = 1e3 * median(cold[eng])
    return open_engines, query_round


def check_answers(run: Run, answers: dict, scorer: ExhaustiveBM25, oracle: RankerOracle) -> None:
    for q, (b_ans, r_ans) in answers.items():
        run.check(f"bm25 {q!r}", rank_check(scorer.ranking(q, K), frame_pairs(b_ans), k=K))
        run.check(f"ranker {q!r}", rank_check(oracle.ranking(q), frame_pairs(r_ans)))


def live(run: Run) -> None:
    """The Zipf query mix: head terms recur, so the engines' per-term
    caches and the exhaustive path for dense queries do most of the work.
    The traced run then lands a drop of new conversations, ingests it
    (stream -> refresh -> resumed build -> reopen) and runs one more round
    on the updated index."""
    args = run.args
    stream = iter(inputs.query_stream(args.seed, int(400 * (args.seconds + 10))))
    open_engines, query_round = serve(run, stream)
    if run.tr.enabled:
        # the ingest path: a drop of 1/20 of the base lands, is ingested,
        # and both engines answer on base + drop
        import pandas as pd

        drop = inputs.conversations(args.seed, inputs.BASE_CONVS, inputs.DROP_CONVS)
        bm25, ranker = ingest_drop(run, drop, open_engines, next(stream))
        after = query_round(bm25, ranker, args.seconds / ROUNDS, "after_drop")
        union = pd.concat([run.corpus_pdf, drop], ignore_index=True)
        check_answers(run, after, ExhaustiveBM25(run.idx), RankerOracle(union, run.dictionary))
        run.detail["turns_after_drop"] = len(union)


def tail(run: Run) -> None:
    """Two-term queries over the vocabulary's tail: terms seldom repeat,
    so the per-term caches miss and BM25 takes the WAND path.  The traced
    run then sends tail queries through every path that launches Spark per
    query (``spark_paths``) and times the reply-structure PageRank."""
    from holi_search_engine_spark.plans.pagerank import build_reply_pagerank

    args = run.args
    stream = iter(inputs.tail_stream(args.seed, int(400 * (args.seconds + 10))))
    serve(run, stream)
    if run.tr.enabled:
        spark_paths(run, stream)
        # the PageRank prior is a build-path layer with no query-side
        # caller here; it runs last
        with run.tr.span("pagerank.reply", cpu=True):
            build_reply_pagerank(run.spark, run.paths, max_iter=PAGERANK_ITERS)


def ingest_drop(run: Run, drop, open_engines, probe: str):
    """Land a drop, ingest it, reopen both engines and have each answer
    one query; ``ingest_fresh_s`` runs from the landing to that answer."""
    from holi_search_engine_spark.streaming.incremental import (
        refresh_global_stats,
        stream_transcript_deltas,
    )

    spark, tr = run.spark, run.tr
    drops_dir = os.path.join(run.work, "drops")
    before = file_states(run.idx)
    in_bytes = inputs.write_parquet(drop, drops_dir, prefix="drop")
    t0 = time.perf_counter()
    with tr.span("live.drop", req="drop", cpu=True):
        with tr.span("incremental.stream", cpu=True):
            stream_transcript_deltas(
                spark, drops_dir, run.paths, run.dictionary, buckets=BUCKETS
            ).awaitTermination()
        rebuilt = sum(
            not os.path.exists(os.path.join(run.idx, "_manifest", f"blocks_bucket_{b}.json"))
            for b in range(BUCKETS)
        )
        with tr.span("incremental.refresh", cpu=True):
            refresh_global_stats(spark, run.paths)
        with tr.span("index_build.resume", cpu=True):
            run.build(run.idx)
        bm25, ranker = open_engines()
        bm25.search(probe, k=K)
        ranker.search(probe)
    run.detail["ingest_fresh_s"] = time.perf_counter() - t0
    after = file_states(run.idx)
    written = sum(s for p, (s, m) in after.items() if before.get(p) != (s, m))
    run.metrics_layer["incremental.write_amp"] = written / in_bytes
    run.metrics_layer["incremental.rebuilt_bucket_share"] = rebuilt / BUCKETS
    return bm25, ranker


def spark_paths(run: Run, stream) -> None:
    """The traced ``tail`` run's paths that launch Spark per query: both
    single-node engines in pruned-read mode (the auto-degrade path of an
    index larger than the driver's preload budget: ``preload_max_bytes``
    set below the block table), and one distributed batch of each
    semantics (job launch, pruned scans, the cogroup shuffle, the driver
    collect).  Every answer is checked against the independent scorers."""
    from holi_search_engine_spark.query.bm25 import BM25Engine
    from holi_search_engine_spark.query.distributed import (
        DistributedRanker,
        distributed_bm25_topk_many,
    )
    from holi_search_engine_spark.query.ranker import RankerEngine

    spark, tr = run.spark, run.tr
    budget = max(1, dir_bytes(run.paths.blocks) // 2)
    with tr.span("bm25.open_pruned", cpu=True):
        bm25 = BM25Engine(spark, run.paths, preload_max_bytes=budget)
    with tr.span("ranker.open_pruned", cpu=True):
        ranker = RankerEngine(spark, run.paths, preload_max_bytes=budget)
    if bm25.preloaded or ranker.preloaded:
        raise RuntimeError("the pruned-read engines must not preload")
    lat: dict[str, list[float]] = {p: [] for p in PATHS}
    answers: list[tuple[str, str, object]] = []  # (path, query, answer)

    def one(path: str, fn, q):
        with tr.span(path, req=f"{path}.q{len(lat[path])}", cpu=True):
            ans, wall = timed(fn, q)
        lat[path].append(wall)
        return ans

    t0 = time.perf_counter()
    for _ in range(PRUNED_BM25):
        q = next(stream)
        answers.append(("bm25.pruned", q, one("bm25.pruned", lambda x: bm25.search(x, k=K), q)))
    for _ in range(PRUNED_RANKER):
        q = next(stream)
        answers.append(("ranker.pruned", q, one("ranker.pruned", ranker.search, q)))
    d = run.detail
    d["pruned_loop_s"] = time.perf_counter() - t0
    dranker = DistributedRanker(spark, run.paths)
    for path, fn in (
        ("distributed.bm25_batch", lambda x: distributed_bm25_topk_many(spark, run.paths, x, k=K)),
        ("distributed.ranker_batch", dranker.search_many),
    ):
        qs = [next(stream) for _ in range(BATCH)]
        ans = one(path, fn, qs)
        d[f"{path}.qps"] = BATCH / lat[path][-1]
        answers += [(path, q, ans[ans["query_id"] == i]) for i, q in enumerate(qs)]
    run.attempted += PRUNED_BM25 + PRUNED_RANKER + 2 * BATCH
    for p, xs in lat.items():
        d[f"{p}.p50_s"] = median(xs)
        d[f"{p}.calls"] = len(xs)
    for path, q, ans in answers:
        if "ranker" in path:
            expected, k = run.oracle.ranking(q), None
        else:
            expected, k = run.scorer.ranking(q, K), K
        run.check(f"{path} {q!r}", rank_check(expected, frame_pairs(ans), k=k))


WORKLOADS = {"live": live, "tail": tail}


# ============================================================ per layer


BUILD_SPANS = (
    "index_build.stage_a",
    "index_build.doc_stats",
    "index_build.wmetric",
    "compression.blocks",
    "pagerank.reply",
)
BUILD_COUNTERS = (
    "wall_s", "jobs", "executor_cpu_s", "gc_s", "python_cpu_s",
    "shuffle_write_mb", "spill_mb", "task_skew",
)
INGEST_SPANS = (
    "incremental.stream",
    "incremental.refresh",
    "index_build.resume",
    "bm25.open",
    "ranker.open",
)
INGEST_COUNTERS = ("wall_s", "jobs", "executor_cpu_s", "python_cpu_s", "shuffle_write_mb")
QUERY_COUNTERS = (
    "jobs_per_query", "driver_gap_share", "executor_cpu_s", "python_cpu_s",
    "input_mb", "shuffle_write_mb", "task_skew",
)


def per_layer_names() -> list[str]:
    """Every per-layer metric, in BENCHMARK.json order."""
    names = [f"{s}.{c}" for s in BUILD_SPANS for c in BUILD_COUNTERS]
    names += [
        "index_build.overlap_share",
        "index_build.idle_core_share",
        "index_build.stored_bytes_per_text_byte",
    ]
    names += [f"{s}.{c}" for s in INGEST_SPANS for c in INGEST_COUNTERS]
    names += ["incremental.write_amp", "incremental.rebuilt_bucket_share"]
    names += [
        "bm25.search.warm_p50_ms", "bm25.search.cold_p50_ms",
        "bm25.search.blocks_decoded", "bm25.search.blocks_total", "bm25.search.jobs",
        "ranker.search.warm_p50_ms", "ranker.search.cold_p50_ms", "ranker.search.jobs",
    ]
    names += [f"{p}.{c}" for p in PATHS for c in QUERY_COUNTERS]
    names += ["bm25.pruned.cache_hit_share", "ranker.pruned.cache_hit_share"]
    names += ["trace.overhead_share"]
    return names


def span_counters(rest: SparkRest, stages, jobs, spans) -> dict[str, float]:
    """Median per occurrence of each counter over ``spans``."""
    per: dict[str, list[float]] = {}
    for sp in spans:
        c = window_counters(stages, jobs, sp.start, sp.end)
        c["wall_s"] = sp.wall
        c["python_cpu_s"] = sp.cpu.get("python_workers", 0.0)
        w = widest_stage(stages, sp.start, sp.end)
        c["task_skew"] = rest.task_skew(w) if w is not None else 0.0
        for k, v in c.items():
            per.setdefault(k, []).append(v)
    return {k: median(v) for k, v in per.items()}


def layer_metrics(run: Run, run_wall: float) -> dict[str, float]:
    sc = run.spark.sparkContext
    rest = SparkRest(sc.uiWebUrl, sc.applicationId)
    stages, jobs = rest.stages(), rest.jobs()
    tr = run.tr
    out = {n: 0.0 for n in per_layer_names()}
    out.update(run.metrics_layer)
    for s in BUILD_SPANS + INGEST_SPANS:
        spans = tr.named(s)
        if spans:
            c = span_counters(rest, stages, jobs, spans)
            for k in BUILD_COUNTERS + INGEST_COUNTERS:
                if f"{s}.{k}" in out:
                    out[f"{s}.{k}"] = c[k]
    # build overlap: a warm full build against its stages timed alone
    full = tr.named("index_build.full")[-1]
    solo = {s: out[f"{s}.wall_s"] for s in BUILD_SPANS[:4]}
    stage2 = solo["index_build.doc_stats"] + solo["index_build.wmetric"] + solo["compression.blocks"]
    if stage2 > 0:
        out["index_build.overlap_share"] = min(
            1.0, max(0.0, 1.0 - (full.wall - solo["index_build.stage_a"]) / stage2)
        )
    cpu_total = sum(full.cpu.values())
    out["index_build.idle_core_share"] = max(0.0, 1.0 - cpu_total / (full.wall * CORES))
    lo = solo["index_build.stage_a"] + max(
        solo["index_build.doc_stats"], solo["index_build.wmetric"], solo["compression.blocks"]
    )
    hi = solo["index_build.stage_a"] + stage2
    run.detail["reconcile_build"] = {
        # the end-to-end build is the cold one: the warm build plus warm-up
        "cold_s": run.detail["build_s"], "warm_up_s": run.detail["build_s"] - full.wall,
        "full_s": full.wall, "perfect_overlap_s": lo, "no_overlap_s": hi,
        "tolerance": RECONCILE_TOL,
        "ok": lo * (1 - RECONCILE_TOL) <= full.wall <= hi * (1 + RECONCILE_TOL),
    }
    rounds = tr.named("live.round")
    if rounds:
        for eng in ("bm25", "ranker"):
            n = sum(1 for s in tr.spans if s.name == f"{eng}.search")
            j = sum(window_counters(stages, jobs, r.start, r.end)["jobs"] for r in rounds)
            out[f"{eng}.search.jobs"] = j / max(n, 1)
        # the query spans must cover their rounds: the rest is the client
        # loop's own cost
        self_t = self_times(tr.spans)
        round_s = sum(r.wall for r in rounds)
        share = sum(self_t[r.sid] for r in rounds) / round_s
        run.detail["reconcile_live"] = {
            "rounds_s": round_s, "round_self_share": share,
            "tolerance": RECONCILE_TOL, "ok": share <= RECONCILE_TOL,
        }
    if tr.named(PATHS[0]):
        for p in PATHS:
            spans = tr.named(p)
            c = span_counters(rest, stages, jobs, spans)
            nq = 1 if "pruned" in p else BATCH
            out[f"{p}.jobs_per_query"] = c["jobs"] / nq
            for k in QUERY_COUNTERS[1:]:
                out[f"{p}.{k}"] = c[k]
            if p.endswith("pruned"):
                zero = [window_counters(stages, jobs, s.start, s.end)["jobs"] == 0 for s in spans]
                out[f"{p}.cache_hit_share"] = sum(zero) / len(zero)
        covered = sum(s.wall for s in tr.spans if s.name.endswith(".pruned"))
        loop = run.detail["pruned_loop_s"]
        run.detail["reconcile_pruned"] = {
            "loop_s": loop, "spans_s": covered, "tolerance": RECONCILE_TOL,
            "ok": abs(covered - loop) <= RECONCILE_TOL * loop,
        }
    out["trace.overhead_share"] = tr.overhead_s / run_wall
    # the spans, summarised per name, are written out with the run
    self_t = self_times(tr.spans)
    summary: dict[str, dict[str, float]] = {}
    for sp in tr.spans:
        e = summary.setdefault(sp.name, {"count": 0, "wall_s": 0.0, "self_s": 0.0})
        e["count"] += 1
        e["wall_s"] += sp.wall
        e["self_s"] += self_t[sp.sid]
    run.detail["spans"] = summary
    return out


# ================================================================= main


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    args = ap.parse_args(argv)
    args.work = os.path.abspath(args.work)

    t_start = time.perf_counter()
    host0 = host_cpu()
    spark, conf = start_spark(args.work, bool(args.trace))
    t_spark = time.perf_counter() - t_start
    try:
        run = Run(args, spark)
        WORKLOADS[args.workload](run)
        run_wall = time.perf_counter() - t_start
        run.detail["spark_conf"] = {
            **conf,
            "master": spark.sparkContext.master,
            "spark.local.dir": spark.sparkContext.getConf().get("spark.local.dir"),
        }
        run.detail["process_cpu_s"] = proc_cpu()
        run.detail["host_cpu_s"] = {k: v - host0[k] for k, v in host_cpu().items()}
        metrics = layer_metrics(run, run_wall) if args.trace else run.metrics
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {
                k: {"value": float(v), "unit": UNITS[k] if k in UNITS else layer_unit(k)}
                for k, v in metrics.items()
            },
        }
        run.detail["failures"] = run.failures
        run.detail["spark_start_s"] = t_spark
        run.detail["run_s"] = time.perf_counter() - t_start
        print("detail " + json.dumps(run.detail, default=float), flush=True)
        print(json.dumps(result), flush=True)
    finally:
        spark.stop()
        shutil.rmtree(os.path.join(args.work, "index"), ignore_errors=True)
    return 0


UNITS = {
    "setup_s": "s",
    "bm25_query_ms": "ms",
    "ranker_query_ms": "ms",
    "peak_rss_mb": "MB",
}


def layer_unit(name: str) -> str:
    last = name.rsplit(".", 1)[1]
    for suffix, unit in (
        ("_s", "s"), ("_ms", "ms"), ("_mb", "MB"), ("_share", "share"),
    ):
        if last.endswith(suffix):
            return unit
    return {"jobs_per_query": "jobs/query", "task_skew": "ratio", "write_amp": "ratio"}.get(
        last, "count" if last in ("jobs", "blocks_decoded", "blocks_total") else "ratio"
    )


if __name__ == "__main__":
    sys.exit(main())
