"""End-to-end extraction pipeline: documents + page blobs → out_spans.

The flagship dataflow (SURVEY.md §7.2), all DataFrame ops:

    explode spans ─► media spans ⋈ page_blobs ─► pages
    pages ─► ONE page pass (fused.fused_page_items), crops handed to
             their slots in memory (never serialized):
               detect slot → clean/expand → order → slice → recognize slot
               layout slot [tiled] → merge → relabel → table crops
                 → table slot → grid → spanning override
               cell-text assignment + free lines + sub_order packing
             ─► span items (media_ref, sub_order, kind, text)
    span items ⋈ media spans ∪ passthrough spans ─► doc_id groupBy
             ─► out_spans

One private builder, _page_items, makes the plan up to the span items:
extract assembles them and checkpointed_extract checkpoints them, so
every production path (extract with or without tables, dual-DPI,
checkpointed, and through extract the streaming ingest and the CLI
extract/ocr stages) runs this one pass and persists nothing. The
per-step relational operators remain for callers that need an
intermediate table (given-boxes mode, the detect/layout/table CLI
stages, debug sinks, driver queries) and as the test oracle the page
pass is pytest-pinned equal to.

Skew note: all heavy stages are keyed by media_ref (page grain), so an
image-heavy document's pages spread across executors automatically — the
doc-level skew the reference handles with cost-based batch packing
(/root/reference/surya/detection/__init__.py:73-90) never concentrates on
one task. The only doc_id-grain shuffle is the final assembly groupBy,
whose payload is small text spans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators import assemble, fused, slots


def pages_for(documents: DataFrame, page_blobs: DataFrame,
              partitions: int | None = None) -> DataFrame:
    """Media spans joined to their blobs. media_ref is unique per page, so
    this is a plain equi-join; blobs are the big side.

    The semi-join build side derives from the full documents table —
    corpus-sized, so a driver-side broadcast build grows with the corpus
    (BENCH.md rule 7); shuffle_hash keeps it distributed. With
    `partitions` set, BOTH inputs are explicitly hash-partitioned on
    media_ref first, so the join consumes that single exchange and its
    output is already media_ref-partitioned for every downstream
    media_ref join — the blob payload (the big bytes) crosses the wire
    exactly once. (Round-3 measurement: the naive shuffle_hash fix
    shuffled blobs twice — once for the join, once for the downstream
    repartition — costing 28% at 8 cores on 64k docs.)"""
    refs = (
        assemble.explode_spans(documents)
        .filter(F.col("kind").isin("page", "table"))
        .select("media_ref")
    )
    if partitions:
        page_blobs = page_blobs.repartition(partitions, F.col("media_ref"))
        refs = refs.repartition(partitions, F.col("media_ref"))
    return page_blobs.join(refs.hint("shuffle_hash"), "media_ref",
                           "left_semi")


def paired_pages(documents: DataFrame, pages: DataFrame,
                 highres_blobs: DataFrame,
                 partitions: int | None = None) -> DataFrame:
    """pages equi-joined on media_ref to the 2× render of the same pages
    as (hr_bytes, hr_width, hr_height) — the columns from which the page
    pass (fused.fused_page_items) takes its line crops. Both sides are
    keyed by media_ref, so the join adds no fan-out and the pair feeds
    ONE page pass: raw page blobs are never persisted on the dual-DPI
    path."""
    hp = pages_for(documents, highres_blobs, partitions=partitions)
    return pages.join(
        hp.select(
            "media_ref",
            F.col("img_bytes").alias("hr_bytes"),
            F.col("width").alias("hr_width"),
            F.col("height").alias("hr_height"),
        ).hint("shuffle_hash"),
        "media_ref",
    )


def _page_items(documents: DataFrame, page_blobs: DataFrame,
                highres_blobs: DataFrame | None = None,
                **slot_kw) -> DataFrame:
    """documents + page blobs → span items: pages_for, then paired_pages
    when highres_blobs is given, then the page pass with slot_kw.

    Both semi-join inputs (and the 2× render's) are hash-partitioned on
    media_ref at spark.sql.shuffle.partitions, so each blob table
    crosses exactly one exchange and the paired-pages join needs none."""
    spark = documents.sparkSession
    # shuffle.partitions may be non-numeric on AQE-coalesce platforms
    # (e.g. "auto") — fall back to the cluster default parallelism
    try:
        par = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        par = spark.sparkContext.defaultParallelism
    pages = pages_for(documents, page_blobs, partitions=par)
    if highres_blobs is not None:
        pages = paired_pages(documents, pages, highres_blobs, partitions=par)
    return fused.fused_page_items(pages, **slot_kw)


def extract(
    documents: DataFrame,
    page_blobs: DataFrame,
    with_tables: bool = True,
    detect_slot=slots.surrogate_detect,
    recognize_slot=slots.surrogate_recognize_batch,
    layout_slot=slots.surrogate_layout,
    table_slot=slots.surrogate_table,
    highres_blobs: DataFrame | None = None,
) -> DataFrame:
    """pages → the page pass (fused.fused_page_items) → span assembly.

    The plan has no fan-out, so nothing is persisted: pages have one
    consumer, the page pass, and its span items have one, the doc_id
    assembly. with_tables=False runs the same pass without layout (every
    recognized line is a free text span). highres_blobs pairs each page
    with its 2× render (paired_pages) before the pass: line crops come
    from the 2× render with polygons int-rescaled (ref
    recognition/__init__.py:158-170, scripts/config.py:36-42);
    detection, layout and table crops read the lowres blob.
    recognize_slot (recognize's batch contract) is called once per page."""
    items = _page_items(
        documents, page_blobs, highres_blobs,
        detect_slot=detect_slot, recognize_slot=recognize_slot,
        layout_slot=layout_slot if with_tables else None,
        table_slot=table_slot)
    return assemble.assemble_items(documents, items)


def checkpointed_extract(
    spark,
    documents: DataFrame,
    page_blobs: DataFrame,
    base_dir: str,
    n_buckets: int = 16,
    n_groups: int = 4,
    max_groups: int | None = None,
    highres_blobs: DataFrame | None = None,
) -> DataFrame:
    """Resumable variant: each model stage materializes bucket-partitioned
    parquet with lineage (plans/checkpoint.py); a killed run re-invoked
    with the same base_dir skips committed bucket groups. Stage grain
    matches SURVEY.md §7.0 #4: checkpoint after every inference stage,
    relational glue stays lazy.

    The plan has one inference stage, the page pass, so it checkpoints
    ONE stage, `items`, bucketed on media_ref: the span items of the
    same builder extract runs (the pages_for semi-join, and on the
    dual-DPI run the paired 2× render, stay lazy inside it). Span
    assembly reads the committed items."""
    from .plans.checkpoint import CheckpointRunner

    runner = CheckpointRunner(spark, base_dir, n_buckets, n_groups)
    items = runner.stage(
        "items", lambda: _page_items(documents, page_blobs, highres_blobs),
        bucket_key="media_ref", max_groups=max_groups,
    )
    return assemble.assemble_items(documents, items)
