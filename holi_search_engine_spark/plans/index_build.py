"""Distributed inverted-index build (the reference Indexer/Idf pipeline,
re-expressed Spark-first).

Reference semantics: ``jobs/Indexer.java:27-191`` (tokenize → postings →
ntf), ``jobs/Idf.java:22-87`` (df/idf), ``ranker/CrawlProcess.java:19-66``
(title/snippet metadata).  The reference's SPIMI machinery — append-only
segment writes, 8-way external sort, binary merge, same-key collapse
(``kvs/AppendOnly.java:139-155``, ``jobs/Sort.java``) — is exactly what
Spark's sort-based shuffle does natively, so the "merge" here IS the
shuffle; we add what Spark does not give us (SURVEY.md §4): per-bucket
resumable orchestration, and posting lists streamed into compressed blocks
so no head term is ever one row in one task.

Scale design (100 TB / 10^12 turns):
- ONE pass over the corpus tokenizes via ``mapInPandas`` (Arrow batches,
  vectorized pandas inside — no per-row Python); the kernel emits each
  doc's ntf/dl inline (a doc never spans a batch), so no downstream stage
  ever joins back to a doc-stats table;
- the (doc_key, term, tf, ntf, dl) stream is written partitioned by ``bucket =
  pmod(xxhash64(term), B)`` so every downstream job is partition-pruned
  per bucket and the build is resumable at bucket granularity; corpus
  globals (avgdl, doc count) are observed during that write, zero extra
  passes;
- doc_stats / df / idf are pure JVM aggregations over the columnar stream
  (whole-stage codegen, map-side partial agg);
- every table stores the packed ``doc_key`` of ``plans/compression.py``
  (term_tf, doc_stats, doc_meta, the blocks' keys), so no reader derives
  it again;
- the index both engines read is the block table
  (``compression.build_block_index``): each term's doc-sorted postings
  stream through Spark's spillable sort into 128-entry compressed blocks,
  so a Zipf-head term never materializes as one row;
- on a cluster every output table is Iceberg partitioned by
  ``bucket(B, term)``; in this sandbox plain parquet ``bucket=K/``
  directories give the same pruning via partition discovery.
"""

from __future__ import annotations

import json
import math
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.xxhash import term_bucket_expr
from ..sources.catalog import read_table, write_table

DOC_COLS = ["conv_id", "turn_idx"]
DEFAULT_BUCKETS = 8


def tokenize_terms(df: DataFrame, dictionary: frozenset[str]) -> DataFrame:
    """Corpus → one row per (doc, term): the packed ``doc_key``, term, tf
    and the per-doc ``ntf``/``dl``/``fd``.

    Vectorized two-pass tokenization (quirks Q6/Q7) runs per Arrow batch in
    ``mapInPandas``; the dictionary is shipped once per executor via a Spark
    broadcast, not per task.  The per-doc columns are computed batch-locally
    (a doc never spans batches), which is what lets the build tokenize ONCE
    and skip any doc-stats join downstream.  The kernel packs the doc key
    itself (``compression.pack_doc_keys``), so even the Python→JVM Arrow
    transfer never carries the conv_id strings.
    """
    bdict = df.sparkSession.sparkContext.broadcast(dictionary)

    def tok(batches):
        from ..functions.tokenizer import tokenize_batch
        from .compression import pack_doc_keys

        d = bdict.value
        for pdf in batches:
            if len(pdf):
                out = tokenize_batch(
                    pdf, d, DOC_COLS, with_stats=True, doc_keys=pack_doc_keys(pdf)
                )
                out["tf"] = out["tf"].astype("int32")
                yield out

    return df.select(*DOC_COLS, "text").mapInPandas(
        tok, schema="doc_key long, term string, tf int, ntf double, dl long, fd tinyint"
    )


def check_doc_keys(transcripts: DataFrame) -> int:
    """Refuse a corpus whose rows do not pack losslessly into the doc key
    (``compression.doc_key_valid_expr``: distinct docs would silently
    merge) with a ValueError; else return its row count.  One cheap
    two-column aggregation."""
    from .compression import doc_key_valid_expr

    chk = transcripts.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.coalesce(doc_key_valid_expr(), F.lit(False))).alias("ok"),
    ).first()
    if chk["n"] and not chk["ok"]:
        raise ValueError(
            "this corpus failed the doc-key round-trip check (conv_id must "
            "be conv-%08d and turn_idx must fit TURN_BITS): packing would "
            "silently merge distinct docs. Remap conv_id and turn_idx to the "
            "canonical form."
        )
    return int(chk["n"])


def build_wmetric(term_tf: DataFrame, n_docs: int) -> DataFrame:
    """Quirk Q3 (``Idf.java:46``): df = postings_count + 1; idf = ln(N/df).

    N is a parameter (the reference hard-codes 462,821 at ``Idf.java:33``;
    we pass the actual corpus size).

    DELIBERATE 1-ulp divergence: ``Idf.java:47`` calls ``Math.log``, whose
    result is JVM/arch-dependent (HotSpot intrinsic, 1-ulp spec);
    Spark's ``F.log`` is ``StrictMath.log`` (fdlibm) — bit-identical on
    EVERY platform, which is what a reproducible build on a heterogeneous
    multi-executor cluster needs (mixed-arch executors running Math.log
    would make idf partition-dependent).  Measured: they differ on ~3% of
    inputs, always by exactly 1 ulp (``tests/test_java_differential.py::
    test_spark_log_is_strictmath_not_mathlog``).
    """
    return (
        term_tf.groupBy("term")
        .agg((F.count(F.lit(1)) + F.lit(1)).alias("df"))
        .withColumn("idf", F.log(F.lit(float(n_docs)) / F.col("df")))
    )


def build_doc_meta(df: DataFrame) -> DataFrame:
    """Title/snippet per ``CrawlProcess.java:49-56`` default path (first 60 /
    300 chars of tag- and punct/control-stripped text), keyed by the doc
    columns and the packed ``doc_key``.  Spark's ``regexp_replace`` uses
    Java regex, so the patterns are byte-identical to the reference's."""
    from .compression import doc_key_expr

    stripped = F.regexp_replace(
        F.regexp_replace(F.col("text"), r"\<.*?\>", " "),
        r"[.,:;!?'\"()\-\p{Cntrl}]",
        " ",
    )
    return df.select(
        *DOC_COLS,
        F.substring(stripped, 1, 60).alias("title"),
        F.substring(stripped, 1, 300).alias("snippet"),
        doc_key_expr().alias("doc_key"),
    )


@dataclass
class IndexPaths:
    root: str

    @property
    def term_tf(self) -> str:
        return os.path.join(self.root, "term_tf")

    @property
    def wmetric(self) -> str:
        return os.path.join(self.root, "wmetric")

    @property
    def doc_meta(self) -> str:
        return os.path.join(self.root, "doc_meta")

    @property
    def doc_stats(self) -> str:
        return os.path.join(self.root, "doc_stats")

    @property
    def blocks(self) -> str:
        return os.path.join(self.root, "blocks")

    @property
    def pageranks(self) -> str:
        # optional static-prior artifact (the reference's pageranks table,
        # Ranker.java:112-120); built by plans.pagerank.build_reply_pagerank
        return os.path.join(self.root, "pageranks")

    @property
    def manifest(self) -> str:
        return os.path.join(self.root, "_manifest")

    @property
    def meta_json(self) -> str:
        return os.path.join(self.root, "_meta.json")


def _manifest_path(paths: IndexPaths, stage: str, bucket: int | None = None) -> str:
    name = f"{stage}.json" if bucket is None else f"{stage}_bucket_{bucket:04d}.json"
    return os.path.join(paths.manifest, name)


def _manifest_record(paths: IndexPaths, stage: str, bucket: int | None = None) -> dict | None:
    """The stage's (or bucket's) record if it is done, else None."""
    p = _manifest_path(paths, stage, bucket)
    if not os.path.exists(p):
        return None
    try:
        with open(p) as f:
            rec = json.load(f)
    except Exception:
        return None
    return rec if rec.get("status") == "done" else None


def _manifest_done(paths: IndexPaths, stage: str, bucket: int | None = None) -> bool:
    return _manifest_record(paths, stage, bucket) is not None


def _manifest_write(paths: IndexPaths, stage: str, record: dict, bucket: int | None = None) -> None:
    os.makedirs(paths.manifest, exist_ok=True)
    p = _manifest_path(paths, stage, bucket)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"status": "done", **record}, f)
    os.replace(tmp, p)  # atomic: a bucket is either fully done or absent


def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    dictionary: frozenset[str],
    buckets: int = DEFAULT_BUCKETS,
    n_for_idf: int | None = None,
    build_postings_table: bool = False,
    resume: bool = True,
) -> IndexPaths:
    """Full resumable build: stage A (tokenize + stats, one corpus pass),
    then doc_stats, wmetric and the per-term-hash-bucket block index.

    Restart skips completed stages/buckets via the ``_manifest`` records
    (precedent: the reference crawler's resume-from-table,
    ``jobs/Crawler.java:28-31``).  A blocks bucket also counts as not
    done when its record's avgdl differs from ``_meta.json``: its
    block-max BM25 bounds were computed with the old one.

    A corpus whose rows do not pack into the doc key is refused by
    :func:`check_doc_keys` before anything is written.

    ``build_postings_table`` is accepted only as False: the array-per-term
    postings table that no engine read is no longer built.
    """
    if build_postings_table:
        raise ValueError("the array-per-term postings table is no longer built")
    paths = IndexPaths(out_dir)
    os.makedirs(out_dir, exist_ok=True)

    # AQE's stage-coordination loop inserts multi-second idle gaps between
    # the build's (fixed-shape, explicitly-partitioned) jobs — measured ~5s
    # of zero-CPU per write under concurrent job submission.  The build
    # handles skew itself (streamed block encode, 4 tasks per core), so
    # AQE buys nothing here; restore the caller's setting afterwards.
    prev = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.enabled",
            "spark.sql.files.maxPartitionBytes",
            "spark.sql.files.openCostInBytes",
        )
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return _build_index_inner(
            spark, transcripts, paths, dictionary, buckets, n_for_idf, resume
        )
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _build_index_inner(
    spark: SparkSession,
    transcripts: DataFrame,
    paths: IndexPaths,
    dictionary: frozenset[str],
    buckets: int,
    n_for_idf: int | None,
    resume: bool,
) -> IndexPaths:
    out_dir = paths.root

    # ---- stage A: tokenize ONCE.  The tokenizer emits the per-doc stats
    # inline (ntf/dl — a doc never spans an Arrow batch), so the single
    # bucket-partitioned term_tf write carries everything downstream:
    # doc_stats and the block index both derive from the columnar parquet
    # (narrow column reads) and the block build needs NO doc-keyed join.
    # Corpus-global avgdl is collected DURING the write via Observation
    # (sum(tf) / exact non-empty-doc count via the fd flag) — zero extra
    # jobs.  doc_meta + the corpus count overlap the write.
    from concurrent.futures import ThreadPoolExecutor

    if not (resume and _manifest_done(paths, "stage_a")):
        from pyspark.sql import Observation

        t0 = time.time()
        sub: dict[str, float] = {}
        # refused before anything is written; the count is the one stage A
        # needs anyway: (conv_id, turn_idx) is the primary key, one doc
        # per turn
        n_turns = check_doc_keys(transcripts)
        term_raw = tokenize_terms(transcripts, dictionary)
        bucketed = term_raw.withColumn("bucket", term_bucket_expr(buckets))
        obs = Observation("corpus_stats")
        observed = bucketed.observe(
            obs,
            F.sum("tf").alias("total_tf"),
            F.sum("fd").alias("n_docs_ne"),
            F.count(F.lit(1)).alias("n_rows"),
        ).drop("fd")

        def big_write() -> None:
            # shuffle-free bucket-partitioned write: each task splits its
            # rows across the ≤`buckets` directories (the downstream
            # posting/block jobs shuffle by term anyway, so pre-clustering
            # by bucket here would pay a full shuffle of the largest
            # intermediate for nothing; bucket dirs exist purely for
            # resume-time partition pruning)
            write_table(observed, paths.term_tf, partition_by=["bucket"])

        def small_jobs() -> None:
            write_table(build_doc_meta(transcripts), paths.doc_meta)

        with ThreadPoolExecutor(max_workers=2) as pool:
            f_big = pool.submit(big_write)
            f_small = pool.submit(small_jobs)
            f_small.result()
            f_big.result()
        m = obs.get
        avgdl = float(m["total_tf"] or 0) / max(int(m["n_docs_ne"] or 0), 1)
        if int(m["n_rows"] or 0) == 0:
            # degenerate corpus (zero tokens anywhere): a partitioned write
            # of 0 rows leaves a schema-less directory that every
            # downstream read would choke on — rewrite each artifact as an
            # explicit empty-but-schema-full parquet instead
            from .compression import BLOCK_SCHEMA

            empty_tf = spark.createDataFrame([], observed.schema).coalesce(1)
            write_table(empty_tf, paths.term_tf)
            write_table(
                spark.createDataFrame(
                    [],
                    schema="conv_id string, turn_idx int, ntf double, dl long, doc_key long",
                ).coalesce(1),
                paths.doc_stats,
            )
            write_table(
                spark.createDataFrame([], schema=BLOCK_SCHEMA + ", bucket int").coalesce(1),
                paths.blocks,
            )
            write_table(
                spark.createDataFrame(
                    [], schema="term string, df long, idf double"
                ).coalesce(1),
                paths.wmetric,
            )
            with open(paths.meta_json, "w") as f:
                json.dump(
                    {
                        "doc_cols": DOC_COLS,
                        "n_docs": n_turns,
                        "n_for_idf": n_for_idf if n_for_idf is not None else n_turns,
                        "n_turns": n_turns,
                        "buckets": buckets,
                        "avgdl": 0.0,
                    },
                    f,
                )
            _manifest_write(paths, "stage_a", {"n_turns": n_turns, "n_docs": n_turns, "wall_sec": time.time() - t0, "turns_per_sec": None, "degenerate": True})
            _manifest_write(paths, "doc_stats", {"degenerate": True})
            _manifest_write(paths, "wmetric", {"degenerate": True})
            for b in range(buckets):
                _manifest_write(paths, "blocks", {"bucket": b, "avgdl": 0.0, "degenerate": True}, bucket=b)
            return paths
        sub["term_tf_write_meta"] = time.time() - t0
        n_docs = n_turns
        n_idf = n_for_idf if n_for_idf is not None else n_docs
        wall = time.time() - t0
        with open(paths.meta_json, "w") as f:
            json.dump(
                {
                    "doc_cols": DOC_COLS,
                    "n_docs": n_docs,
                    "n_for_idf": n_idf,
                    "n_turns": n_turns,
                    "buckets": buckets,
                    "avgdl": float(avgdl),
                },
                f,
            )
        _manifest_write(
            paths,
            "stage_a",
            {
                "n_turns": n_turns,
                "n_docs": n_docs,
                "wall_sec": wall,
                "turns_per_sec": n_turns / wall if wall else None,
                "sub_walls": {k: round(v, 2) for k, v in sub.items()},
            },
        )

    # ---- size input splits to the actual parallelism before any term_tf
    # read: the default 128MB packing (+4MB per-file open cost) can
    # collapse a few-hundred-MB bucket-partitioned table into fewer splits
    # than cores — observed: a 330MB term_tf scanned as ~5 splits, starving
    # 8-of-8 (and 27-of-32) cores in the scan stages.  Files on tmpfs /
    # object storage are cheap to open, so split by bytes/(2·cores) and
    # drop the open-cost padding; restored in build_index's finally.
    tf_bytes_total = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(paths.term_tf)
        for f in fs
        if f.endswith(".parquet")
    )
    par = max(spark.sparkContext.defaultParallelism, 1)
    split = max(4 << 20, tf_bytes_total // (2 * par))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
    spark.conf.set("spark.sql.files.openCostInBytes", str(1 << 20))

    # ---- doc_stats (the ranker's per-doc ntf/dl lookup), the block
    # index, and wmetric (df/idf, quirk Q3) are independent readers of
    # term_tf — run all three concurrently.
    need_doc_stats = not (resume and _manifest_done(paths, "doc_stats"))
    need_wmetric = not (resume and _manifest_done(paths, "wmetric"))
    # a bucket's ub_bm25 bounds hold only for the avgdl they were built
    # with; a streaming ingest + refresh_global_stats changes avgdl for
    # every bucket, not just the ones whose manifests the stream removed
    avgdl = read_meta(paths)["avgdl"]
    blocks_remaining = [
        b for b in range(buckets)
        if not resume
        or (_manifest_record(paths, "blocks", b) or {}).get("avgdl") != avgdl
    ]

    def doc_stats_job() -> None:
        from .compression import doc_cols_from_key_exprs

        t = time.time()
        # aggregate on the narrow key; reconstruct the user-facing doc
        # columns only on the ~n_docs output rows
        stats = (
            read_table(spark, paths.term_tf)
            .select("doc_key", "ntf", "dl")
            .groupBy("doc_key")
            .agg(F.first("ntf").alias("ntf"), F.first("dl").alias("dl"))
            .select(*doc_cols_from_key_exprs(), "ntf", "dl", "doc_key")
        )
        write_table(stats, paths.doc_stats)
        _manifest_write(paths, "doc_stats", {"wall_sec": time.time() - t})

    def blocks_job() -> None:
        from .compression import build_block_index

        t = time.time()
        build_block_index(
            spark,
            paths,
            bucket=None if len(blocks_remaining) == buckets else blocks_remaining,
            buckets=buckets,
        )
        wall = time.time() - t
        # per-bucket lineage metrics off the WRITTEN table (north-rule
        # checkpoint contract: row-count/term-count per partition rides
        # the manifest, so a resume can audit what each bucket holds
        # without recomputing) — one pruned scan of the small block table
        bstats = {
            int(r["bucket"]): r
            for r in read_table(spark, paths.blocks)
            .where(F.col("bucket").isin(list(blocks_remaining)))
            .groupBy("bucket")
            .agg(
                F.countDistinct("term").alias("n_terms"),
                F.count(F.lit(1)).alias("n_blocks"),
                F.sum("n").alias("n_postings"),
            )
            .collect()
        }
        for b in blocks_remaining:
            r = bstats.get(b)
            _manifest_write(
                paths,
                "blocks",
                {
                    "bucket": b,
                    "avgdl": avgdl,
                    "wall_sec": wall / len(blocks_remaining),
                    "n_terms": int(r["n_terms"]) if r else 0,
                    "n_blocks": int(r["n_blocks"]) if r else 0,
                    "n_postings": int(r["n_postings"]) if r else 0,
                },
                bucket=b,
            )

    def wmetric_job() -> None:
        # df per term straight off the term_tf stream (one row per
        # (doc, term) → count = df): a single-column pruned scan with
        # map-side partial aggregation, running concurrently under the
        # blocks encode instead of as a sequential re-read of the written
        # index afterwards
        t0 = time.time()
        n_idf = read_meta(paths)["n_for_idf"]
        write_table(build_wmetric(read_table(spark, paths.term_tf), n_idf), paths.wmetric)
        _manifest_write(paths, "wmetric", {"wall_sec": time.time() - t0})

    stage2 = (
        ([doc_stats_job] if need_doc_stats else [])
        + ([blocks_job] if blocks_remaining else [])
        + ([wmetric_job] if need_wmetric else [])
    )
    if stage2:
        with ThreadPoolExecutor(max_workers=len(stage2)) as pool:
            for f in [pool.submit(j) for j in stage2]:
                f.result()

    return paths


def read_meta(paths: IndexPaths) -> dict:
    with open(paths.meta_json) as f:
        return json.load(f)


def artifact_nbytes(path: str) -> int:
    """Total on-disk bytes of a (local) parquet artifact directory — the
    cheap input to the engines' preload-vs-pruned-read decision.  Unknown
    (non-local / unreadable) paths return -1; callers treat unknown as
    too big and degrade to pruned per-term reads."""
    total = 0
    try:
        for root, _dirs, files in os.walk(path):
            for f in files:
                total += os.path.getsize(os.path.join(root, f))
    except OSError:
        return -1
    return total if total else -1
