"""Structured Streaming surface: incremental extract via foreachBatch with
exactly-once file-source bookkeeping, and watermarked windowed aggs."""

from __future__ import annotations

import pandas as pd

from surya_spark import datagen
from surya_spark.streaming import ingest


def test_stream_extract_incremental(spark, tmp_path):
    docs_dir = str(tmp_path / "docs_in")
    out_path = str(tmp_path / "out_spans")
    ckpt = str(tmp_path / "ckpt")
    blobs = datagen.gen_page_blobs(spark, 20, partitions=2)

    all_docs = datagen.gen_documents(spark, 20, partitions=2)
    first = all_docs.filter("doc_id < 'doc-000000010'")
    second = all_docs.filter("doc_id >= 'doc-000000010'")

    first.write.mode("overwrite").parquet(docs_dir)
    q = ingest.stream_extract(spark, docs_dir, blobs, out_path, ckpt)
    q.awaitTermination(120)
    n1 = spark.read.parquet(out_path).count()
    assert n1 == 10

    # second batch of files lands; restart processes ONLY the new ones
    second.write.mode("append").parquet(docs_dir)
    q = ingest.stream_extract(spark, docs_dir, blobs, out_path, ckpt)
    q.awaitTermination(120)
    out = spark.read.parquet(out_path)
    assert out.count() == 20
    assert out.select("doc_id").distinct().count() == 20


def test_stream_extract_replayed_batch_lands_once(spark, tmp_path):
    """A crash between the sink write and the checkpoint commit replays
    the batch on restart (simulated by deleting its commit file): the
    replay replaces the batch's output instead of appending it again."""
    import os

    docs_dir = str(tmp_path / "docs_in")
    out_path = str(tmp_path / "out_spans")
    ckpt = str(tmp_path / "ckpt")
    blobs = datagen.gen_page_blobs(spark, 4, partitions=1)
    datagen.gen_documents(spark, 4, partitions=1) \
        .write.mode("overwrite").parquet(docs_dir)
    q = ingest.stream_extract(spark, docs_dir, blobs, out_path, ckpt)
    q.awaitTermination(120)
    commits = os.path.join(ckpt, "commits")
    last = max((f for f in os.listdir(commits) if f.isdigit()), key=int)
    for f in (last, f".{last}.crc"):
        if os.path.exists(os.path.join(commits, f)):
            os.remove(os.path.join(commits, f))
    q = ingest.stream_extract(spark, docs_dir, blobs, out_path, ckpt)
    q.awaitTermination(120)
    out = spark.read.parquet(out_path)
    assert out.count() == 4
    assert out.select("doc_id").distinct().count() == 4
    assert "batch_id" in out.columns


def test_windowed_event_counts_static(spark):
    e = spark.createDataFrame(pd.DataFrame({
        "ts": pd.to_datetime([
            "2024-01-01 00:10:00", "2024-01-01 00:40:00",
            "2024-01-01 01:05:00",
        ]),
        "event_type": ["a", "a", "a"],
        "value": [1.0, 2.0, 3.0],
    }))
    rows = {str(r["window_start"]): r["n"]
            for r in ingest.windowed_event_counts(e).collect()}
    assert rows["2024-01-01 00:00:00"] == 2
    assert rows["2024-01-01 01:00:00"] == 1


def test_sessionize_stateful(spark, tmp_path):
    import pandas as pd

    src_dir = str(tmp_path / "ev_in")
    out_dir = str(tmp_path / "ev_out")
    ckpt = str(tmp_path / "ev_ckpt")
    # user 1: two sessions separated by a >30min gap; user 2: one session
    ev = pd.DataFrame({
        "user_id": [1, 1, 1, 2, 2],
        "ts": pd.to_datetime([
            "2024-01-01 00:00:00", "2024-01-01 00:10:00",
            "2024-01-01 02:00:00",
            "2024-01-01 00:05:00", "2024-01-01 00:06:00",
        ]),
    })
    spark.createDataFrame(ev).write.mode("overwrite").parquet(src_dir)
    stream = spark.readStream.schema("user_id bigint, ts timestamp") \
        .parquet(src_dir)
    q = (
        ingest.sessionize_stateful(stream, gap_seconds=1800)
        .writeStream.format("parquet")
        .option("path", out_dir).option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(out_dir).collect()
    # closed sessions emitted so far: user 1's FIRST session (closed by
    # the 2:00 event); open sessions stay in state until timeout
    closed = {(r["user_id"], r["n_events"]) for r in rows}
    assert (1, 2) in closed


def test_stream_incremental_dedup(spark, tmp_path):
    """Rolling-crawl dedup stream: flags come from the accumulated
    signature index — a duplicate of a CORPUS doc and a duplicate of an
    EARLIER BATCH's doc are both caught; fresh docs are novel."""
    import time

    docs_dir = str(tmp_path / "incoming")
    index_dir = str(tmp_path / "index")
    out_dir = str(tmp_path / "flags")
    ckpt = str(tmp_path / "ckpt")

    def docs_df(rows):
        return spark.createDataFrame(
            [(i, t, "en", "crawl", len(t)) for i, t in rows],
            "doc_id long, text string, lang string, source string, "
            "n_chars long")

    from surya_spark.training import dedup

    spark.catalog.clearCache()
    text_corpus = "the old corpus document about rivers and stones"
    text_a = "alpha beta gamma delta epsilon zeta eta theta"
    text_b = "completely different words describing mountain weather"
    text_c = "yet another unrelated text on ocean currents today"

    # seed the corpus signature index (the ~300 B/doc table)
    dedup.minhash_index(docs_df([(100, text_corpus)])) \
        .write.parquet(index_dir)

    docs_df([(1, text_a), (2, text_b)]).coalesce(1) \
        .write.mode("append").parquet(docs_dir)
    time.sleep(1.1)  # file-source ordering is by modification time
    docs_df([(3, text_a), (4, text_c), (5, text_corpus)]).coalesce(1) \
        .write.mode("append").parquet(docs_dir)

    q = ingest.stream_incremental_dedup(
        spark, docs_dir, index_dir, out_dir, ckpt, threshold=0.5)
    q.awaitTermination(180)
    # the micro-batches release their dedup caches
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0

    flags = {r["doc_id"]: r["is_novel"]
             for r in spark.read.parquet(out_dir).collect()}
    assert flags == {1: True, 2: True,
                     3: False,   # dup of batch-1 doc 1 -> index grew
                     4: True,
                     5: False}   # dup of the seeded corpus doc
    # novel docs (and only they) joined the index
    idx_ids = {r["doc_id"]
               for r in spark.read.parquet(index_dir).collect()}
    assert idx_ids == {100, 1, 2, 4}


def test_stream_dedup_rejects_unpartitioned_flags_dir(spark, tmp_path):
    """Migration guard: resuming the flags sink over a directory seeded
    with an UNPARTITIONED layout (pre-batch_id files at the root) must
    fail fast — writing batch_id=N/ subdirs next to root part files
    breaks partition discovery for every downstream reader."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    docs_dir = str(tmp_path / "incoming")
    out_dir = str(tmp_path / "flags")

    def docs_df(rows):
        return spark.createDataFrame(
            [(i, t, "en", "crawl", len(t)) for i, t in rows],
            "doc_id long, text string, lang string, source string, "
            "n_chars long")

    # legacy layout: flag rows without batch_id, written flat
    spark.createDataFrame(
        [(9, 0.0, True)], "doc_id long, max_est double, is_novel boolean"
    ).write.parquet(out_dir)
    docs_df([(1, "some fresh crawl text")]).coalesce(1) \
        .write.mode("append").parquet(docs_dir)

    q = ingest.stream_incremental_dedup(
        spark, docs_dir, str(tmp_path / "index"), out_dir,
        str(tmp_path / "ckpt"))
    try:
        q.awaitTermination(120)
        assert q.exception() is not None
        msg = str(q.exception())
    except StreamingQueryException as e:  # surfaced directly
        msg = str(e)
    assert "unpartitioned" in msg
