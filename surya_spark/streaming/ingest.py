"""Structured Streaming surface: incremental document ingest.

The reference is batch-only (SURVEY.md §2.10); this is the optional
incremental-ingest path the engine adds: new document files land in a
directory/Iceberg table, each micro-batch runs the SAME batch extraction
dataflow via foreachBatch, and its output lands in the batch's own
partition of the out_spans table. Source progress + exactly-once
bookkeeping come from the streaming checkpoint; the heavy per-stage
resume inside a batch stays with plans/checkpoint.py.

Also provides watermarked windowed aggregation over an event stream —
the standard late-data pattern — so the engine's streaming operator
surface (window, watermark, append mode) is exercised and tested.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas, pipeline
from ..plans import checkpoint


def _batch_sink(spark: SparkSession, out_path: str):
    """A foreachBatch sink write(df, batch_id) that is idempotent under
    replay: foreachBatch side effects are at-least-once, so a batch
    replayed after a crash between the sink write and the checkpoint
    commit must replace its own output, not append it again. Each batch
    lands in out_path's batch_id=N/ partition by dynamic partition
    overwrite, and readers see a `batch_id` column.

    One-time migration guard: a stream resumed over an out_path seeded
    by an unpartitioned (append-mode) layout would mix root-level part
    files with batch_id=N/ subdirs, and partition discovery fails for
    every downstream reader ("Conflicting directory structures
    detected"). The first write fails fast with the remedy instead of
    corrupting the directory."""
    checked = []

    def write(df: DataFrame, batch_id: int) -> None:
        if not checked:
            existing = checkpoint.read_if_present(spark, out_path)
            if existing is not None and "batch_id" not in existing.columns:
                raise RuntimeError(
                    f"output path {out_path} holds an unpartitioned "
                    "(pre-batch_id) layout; writing batch_id=N/ "
                    "partitions into it would break partition "
                    "discovery. Migrate it first: read the old "
                    "files, add batch_id, rewrite partitioned — "
                    "or point out_path at a fresh directory.")
            checked.append(True)
        (df.withColumn("batch_id", F.lit(int(batch_id)))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("batch_id").parquet(out_path))

    return write


def stream_extract(
    spark: SparkSession,
    docs_dir: str,
    page_blobs: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    with_tables: bool = True,
    available_now: bool = True,
):
    """documents parquet dir (streamed) → out_spans parquet, one
    batch_id=N/ partition per micro-batch (_batch_sink: a replayed batch
    overwrites its partition, so every doc_id lands once; readers see
    out_spans' columns plus `batch_id`).

    foreachBatch reuses the batch extract() verbatim — one code path for
    batch and streaming, which is the point of Structured Streaming."""
    src = (
        spark.readStream.schema(schemas.DOCUMENTS)
        .option("maxFilesPerTrigger", "16")
        .parquet(docs_dir)
    )

    sink = _batch_sink(spark, out_path)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sink(pipeline.extract(batch_df, page_blobs, with_tables=with_tables),
             batch_id)

    writer = src.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_incremental_dedup(
    spark: SparkSession,
    docs_dir: str,
    index_dir: str,
    out_path: str,
    checkpoint_dir: str,
    docs_schema=None,
    threshold: float = 0.5,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
):
    """Rolling-crawl dedup as a STREAM: new document files land in
    docs_dir; each micro-batch is flagged novel/near-dup against the
    accumulated corpus SIGNATURE index (training/dedup.minhash_novelty
    with corpus_index= — the ~300 B/doc table; corpus text is never
    re-read), then the batch's NOVEL docs' signatures are appended to
    the index, so a duplicate arriving two batches later is caught.
    Probe and append both use minhash's one family (md5lin).

    Scale shape: per micro-batch cost = banded equi-join of the batch
    against the index + one compact parquet append — both ∝ batch, not
    corpus. Exactly-once on the source comes from the streaming
    checkpoint; the FLAGS write goes through _batch_sink, so a replayed
    batch overwrites its own batch_id partition instead of appending
    duplicate flag rows. The index append stays append-mode and is
    idempotent-enough for a crawl (a replayed batch re-appends
    signatures; bucket candidates dedup via DISTINCT, so flags are
    unaffected). In-batch duplicates are BOTH novel by definition here
    — in-batch dedup is minhash_lsh_pairs' job, run inside the batch if
    needed. Long-running crawls should compact the index dir
    periodically (one small file lands per batch; at Delta/Iceberg
    deployments the table format's OPTIMIZE does it)."""
    from ..plans import caching
    from ..training import dedup

    if docs_schema is None:
        docs_schema = ("doc_id long, text string, lang string, "
                       "source string, n_chars long")
    src = (
        spark.readStream.schema(docs_schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(docs_dir)
    )
    sink = _batch_sink(spark, out_path)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # index-existence probe through the Spark reader, not the
        # driver's local filesystem — index_dir may be HDFS/S3 where
        # os.walk always reports nothing. Only "no index yet" takes the
        # novel-batch path; a corrupt index raises instead of flagging
        # a whole batch novel.
        idx = checkpoint.read_if_present(spark, index_dir)
        if idx is not None:
            flagged = dedup.minhash_novelty(
                batch_df, corpus_index=idx,
                threshold=threshold)
        else:
            flagged = batch_df.select(
                "doc_id", F.lit(0.0).alias("max_est"),
                F.lit(True).alias("is_novel"))
        flagged = flagged.persist()
        sink(flagged, batch_id)
        novel = batch_df.join(
            flagged.filter("is_novel").select("doc_id"), "doc_id",
            "left_semi")
        dedup.minhash_index(novel).write.mode("append").parquet(index_dir)
        flagged.unpersist()
        # the batch transformed minhash_novelty's owned result, so no
        # owned action ran: the micro-batch releases its caches itself
        caching.release_all()

    writer = src.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def sessionize_stateful(events_stream: DataFrame,
                        gap_seconds: int = 1800,
                        watermark: str = "2 hours"):
    """Custom stateful streaming operator: per-user session windows via
    applyInPandasWithState — the escape hatch for semantics built-in
    windows can't express (session close emits exactly one row per
    session when the gap elapses).

    State per user: (session_start, last_seen, n_events). A micro-batch
    extends or closes sessions; timed-out state flushes on watermark.
    Returns a streaming DataFrame (user_id, session_start, session_end,
    n_events)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "user_id bigint, session_start double, session_end double, "
        "n_events int"
    )
    state_schema = "start double, last double, n int"

    def fn(key, pdfs, state):
        user_id = key[0]
        if state.hasTimedOut:
            (start, last, n) = state.get
            state.remove()
            yield pd.DataFrame({
                "user_id": [user_id], "session_start": [start],
                "session_end": [last], "n_events": [n],
            })
            return
        rows = []
        secs: list[float] = []
        for pdf in pdfs:
            secs.extend(float(v) for v in pdf["sec"])
        secs.sort()
        if state.exists:
            start, last, n = state.get
        else:
            start, last, n = None, None, 0
        for s in secs:
            if last is not None and s - last > gap_seconds:
                rows.append((user_id, start, last, n))
                start, n = s, 0
            if start is None:
                start = s
            last = s
            n += 1
        state.update((start, last, n))
        state.setTimeoutDuration(gap_seconds * 1000)
        yield pd.DataFrame(
            rows, columns=["user_id", "session_start", "session_end",
                           "n_events"])

    return (
        events_stream.withWatermark("ts", watermark)
        .selectExpr("user_id", "cast(unix_timestamp(ts) as double) as sec",
                    "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append",
            GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def windowed_event_counts(events: DataFrame, window: str = "1 hour",
                          watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window counts per event_type with a watermark for late
    data; works on both a static frame and a stream (append mode)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type", "n", "avg_value",
        )
    )
