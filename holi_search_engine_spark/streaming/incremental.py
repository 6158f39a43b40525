"""Structured Streaming ingestion: incremental index maintenance and
windowed event aggregation.

The reference has no streaming at all (SURVEY.md §2.6) — its crawler loop
is iterative batch with resume-from-table (``jobs/Crawler.java:26-51``).
This module is the Spark-native upgrade of that pattern: new transcript
files land in a directory, each micro-batch passes the SAME doc-key check
and vectorized tokenize kernel as the batch build, and its (term, doc,
tf) delta is appended to the bucket-partitioned term stream.  The block
index of the touched buckets is then rebuilt by the ordinary resumable
build (delete the touched buckets' ``blocks`` manifests → ``build_index``
redoes only them), which is exactly the SPIMI "segments then merge" lifecycle with
Spark's shuffle as the merge.  ``refresh_global_stats`` runs between the
two: it rewrites df/idf and avgdl, and since every block's BM25 bound
depends on avgdl, a changed avgdl makes the resumed build re-encode every
bucket (the manifests record the avgdl their bounds were built with).

``stream_events_windowed`` is the watermarked windowed-agg operator over
an event stream (late data dropped beyond the watermark).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.xxhash import term_bucket_expr
from ..plans.index_build import (
    IndexPaths,
    _manifest_path,
    build_doc_meta,
    check_doc_keys,
    build_wmetric,
    read_meta,
    tokenize_terms,
)

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def stream_transcript_deltas(
    spark: SparkSession,
    input_dir: str,
    paths: IndexPaths,
    dictionary: frozenset[str],
    buckets: int,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
):
    """File-source stream → tokenize per micro-batch → append term_tf
    deltas partitioned by term-hash bucket, and invalidate the touched
    buckets' ``blocks`` manifests so the next ``build_index`` call
    rebuilds those buckets' block index.

    Returns the StreamingQuery (caller awaits termination).
    """
    checkpoint_dir = checkpoint_dir or os.path.join(paths.root, "_stream_checkpoint")
    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        from ..plans.compression import doc_cols_from_key_exprs

        batch_df = batch_df.cache()
        # the batch build's input check: a drop that does not pack into the
        # doc key stops the stream before it writes anything
        n_turns = check_doc_keys(batch_df)
        # the same kernel as the batch build, so the delta's schema is
        # term_tf's (fd dropped pre-write)
        term_tf = tokenize_terms(batch_df, dictionary).cache()
        bucketed = term_tf.drop("fd").withColumn("bucket", term_bucket_expr(buckets))
        touched = [r["bucket"] for r in bucketed.select("bucket").distinct().collect()]
        (
            bucketed.repartition(F.col("bucket"))
            .write.mode("append")
            .partitionBy("bucket")
            .parquet(paths.term_tf)
        )
        # doc-local stats append cleanly (new (conv,turn) keys never
        # overlap already-indexed docs — the doc key is the table's PK)
        doc_stats = (
            term_tf.where(F.col("fd") == 1)
            .select(*doc_cols_from_key_exprs(), "ntf", "dl", "doc_key")
            .cache()
        )
        doc_stats.write.mode("append").parquet(paths.doc_stats)
        doc_stats.unpersist()
        build_doc_meta(batch_df).write.mode("append").parquet(paths.doc_meta)
        term_tf.unpersist()
        batch_df.unpersist()
        # N counts turns, as in the build; a token-less turn has no
        # doc_stats row, so refresh_global_stats reads the count from here
        meta = read_meta(paths)
        meta["n_turns"] += n_turns
        _write_meta(paths, meta)
        # invalidate the touched buckets' block index → the next
        # resumable build_index() run re-merges these
        for b in touched:
            p = _manifest_path(paths, "blocks", b)
            if os.path.exists(p):
                os.remove(p)

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def refresh_global_stats(spark: SparkSession, paths: IndexPaths) -> None:
    """Recompute the corpus-global statistics (df/idf, n_docs, avgdl) from
    the appended term stream after a streaming ingest session.  Doc-local
    stats (ntf, dl, meta) were appended per micro-batch; only the global
    aggregates need a refresh pass.

    N is the turn count the build and each micro-batch recorded, as the
    build defines it (doc_stats has no row for a turn without tokens).
    ``n_for_idf`` follows it only when it equalled ``n_docs``: an
    explicit idf corpus size stays."""
    meta = read_meta(paths)
    if meta["n_for_idf"] == meta["n_docs"]:
        meta["n_for_idf"] = meta["n_turns"]
    meta["n_docs"] = meta["n_turns"]
    term_tf = spark.read.parquet(paths.term_tf)
    build_wmetric(term_tf, meta["n_for_idf"]).write.mode("overwrite").parquet(paths.wmetric)
    avgdl = spark.read.parquet(paths.doc_stats).agg(F.avg("dl")).collect()[0][0] or 0.0
    meta["avgdl"] = float(avgdl)
    _write_meta(paths, meta)


def _write_meta(paths: IndexPaths, meta: dict) -> None:
    with open(paths.meta_json, "w") as f:
        json.dump(meta, f)


def stream_events_windowed(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    available_now: bool = True,
):
    """Watermarked tumbling-window aggregation over a parquet event stream
    (schema of the driver's ``events`` table); append-mode sink emits each
    window once its watermark passes."""
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    stream = spark.readStream.schema(schema).parquet(input_dir)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total",
        )
    )
    writer = (
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_sessionize(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    gap_sec: int = 1800,
    available_now: bool = True,
):
    """Custom STATEFUL streaming operator via ``applyInPandasWithState``:
    per-user session assembly over an event stream, emitting one row per
    CLOSED session (closed by a later event arriving more than ``gap_sec``
    after the session's last event, or by state timeout when a user goes
    idle across batches).

    This is the streaming twin of the batch ``events_sessionize`` window
    query — the batch form is a lag/cumsum over history; the streaming
    form keeps ONE open session per user as state (4 scalars), so state
    size is O(active users), not O(events), and scales horizontally with
    the shuffle partitioning on user_id.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # Processing-time timeouts are the idle-session close mechanism for a
    # LIVE stream.  Under availableNow (batch drain) the operator must run
    # in NoTimeout mode: with ProcessingTimeTimeout the engine's
    # shouldRunAnotherBatch always requests one more state-cleanup batch
    # (processing time has always advanced), so a drained query loops
    # empty ~1s batches ("No new data but cleaning up state") forever
    # instead of terminating.  The drain's contract is "closed sessions
    # only; the last session per user stays open in state", which needs
    # no timeouts.
    register_timeouts = not available_now

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    out_schema = (
        "user_id long, session_start timestamp, session_end timestamp, "
        "n_events long, total_value double"
    )
    state_schema = "start long, last long, n long, total double"
    gap_us = gap_sec * 1_000_000

    def assemble(key, pdf_iter, state: GroupState):
        import pandas as pd

        (user_id,) = key
        if state.hasTimedOut:
            start, last, n, total = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start, unit="us")],
                    "session_end": [pd.Timestamp(last, unit="us")],
                    "n_events": [n],
                    "total_value": [total],
                }
            )
            return
        ts_list: list[int] = []
        val_list: list[float] = []
        for pdf in pdf_iter:
            ts_list.extend(int(t.value // 1000) for t in pdf["ts"])
            val_list.extend(float(v) for v in pdf["value"])
        order = sorted(range(len(ts_list)), key=ts_list.__getitem__)
        closed = {"user_id": [], "session_start": [], "session_end": [],
                  "n_events": [], "total_value": []}
        cur = list(state.get) if state.exists else None  # [start,last,n,total]
        for i in order:
            t, v = ts_list[i], val_list[i]
            if cur is None:
                cur = [t, t, 1, v]
            elif t - cur[1] > gap_us:
                closed["user_id"].append(user_id)
                closed["session_start"].append(pd.Timestamp(cur[0], unit="us"))
                closed["session_end"].append(pd.Timestamp(cur[1], unit="us"))
                closed["n_events"].append(cur[2])
                closed["total_value"].append(cur[3])
                cur = [t, t, 1, v]
            else:
                cur[1] = t
                cur[2] += 1
                cur[3] += v
        if cur is not None:
            state.update(tuple(cur))
            if register_timeouts:
                state.setTimeoutDuration(gap_sec * 1000)
        if closed["user_id"]:
            yield pd.DataFrame(closed)

    stream = spark.readStream.schema(schema).parquet(input_dir)
    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if register_timeouts
        else GroupStateTimeout.NoTimeout
    )
    sessions = stream.groupBy("user_id").applyInPandasWithState(
        assemble,
        out_schema,
        state_schema,
        "append",
        timeout_conf,
    )
    writer = (
        sessions.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_dedup(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    available_now: bool = True,
):
    """Streaming exact dedup: drop re-deliveries of the same ``event_id``
    arriving within the watermark window (``dropDuplicatesWithinWatermark``
    — the at-least-once → effectively-once repair stage in front of any
    downstream streaming aggregation).

    State is one entry per event_id seen inside the watermark horizon and
    is evicted as the watermark advances — bounded by arrival rate ×
    horizon, not by stream length; it shards across executors on the
    dedup key like any stateful operator.  The batch twin is plain
    ``distinct()`` (the driver entry's oracle).
    """
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    stream = spark.readStream.schema(schema).parquet(input_dir)
    deduped = stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    writer = (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
