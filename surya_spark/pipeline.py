"""End-to-end extraction pipeline: documents + page blobs → out_spans.

The flagship dataflow (SURVEY.md §7.2), all DataFrame ops:

    explode spans ─► media spans ⋈ page_blobs ─► pages
    pages ─► combined page pass, ONE zlib decode per page
             (detect slot → clean/expand → order → slice crops ∥
              layout slot [tiled] → merge → relabel → table crops)
             ─► tagged crop union (persisted — the DAG's one fan-out)
    crop union [lines]  ─► recognize slot ─► ocr_lines
    crop union [tables] ─► fused cell pass (table slot → grid →
             spanning override) ⋈ ocr_lines ─► cells
    ocr_lines ∪ cells ∪ passthrough spans ─► assemble ─► out_spans

Every production path — extract with or without tables, the dual-DPI
extract, checkpointed_extract and the CLI extract/ocr/table stages —
runs this one combined pass. The per-step relational operators
(detect/clean/order/slice, layout regions/stitch/merge, table_crops)
remain for callers that need an intermediate table (given-boxes mode,
the detect/layout CLI stages, debug/render sinks, driver queries) and
as the test oracle the combined pass is pytest-pinned byte-identical to.

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

from .operators import assemble, fused, recognition, slots, tables
from .plans import caching, partitioning


def pages_for(documents: DataFrame, page_blobs: DataFrame,
              pack_partitions: int | None = None,
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
    repartition — costing 28% at 8 cores on 64k docs.)

    With pack_partitions set, pages are range-packed by split cost
    (ceil(height/1400)) so inference tasks see uniform weight — the Spark
    analog of the reference's cost-based GPU batch packing."""
    refs = (
        assemble.explode_spans(documents)
        .filter(F.col("kind").isin("page", "table"))
        .select("media_ref")
    )
    if partitions:
        page_blobs = page_blobs.repartition(partitions, F.col("media_ref"))
        refs = refs.repartition(partitions, F.col("media_ref"))
    pages = page_blobs.join(refs.hint("shuffle_hash"), "media_ref",
                            "left_semi")
    if pack_partitions:
        pages = partitioning.pack_by_cost(
            pages.withColumn(
                "_cost", partitioning.page_cost(F.col("height"))
            ),
            "_cost", pack_partitions, tiebreak="media_ref",
        ).drop("_cost")
    return pages


def paired_pages(documents: DataFrame, pages: DataFrame,
                 highres_blobs: DataFrame,
                 partitions: int | None = None) -> DataFrame:
    """pages equi-joined on media_ref to the 2× render of the same pages
    as (hr_bytes, hr_width, hr_height) — the input
    fused.fused_all_crops(highres=True) reads. Both sides are keyed by
    media_ref, so the join adds no fan-out and the pair feeds ONE page
    pass: raw page blobs are never persisted on the dual-DPI path."""
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


def extract(
    documents: DataFrame,
    page_blobs: DataFrame,
    with_tables: bool = True,
    detect_slot=slots.surrogate_detect,
    recognize_slot=slots.surrogate_recognize,
    layout_slot=slots.surrogate_layout,
    table_slot=slots.surrogate_table,
    pack_partitions: int | None = None,
    persist: bool = True,
    emit_chars: bool = False,
    highres_blobs: DataFrame | None = None,
) -> DataFrame:
    """persist=True pins the fan-out points of the DAG:

      * the combined crop pass output feeds TWO consumers (recognize and
        the table stage) — unpersisted, Spark re-executes the
        scan+join+blob shuffle+decode per branch (measured on 2000
        docs/32 cores: the unpersisted plan re-ran the full chain twice,
        46 s end-to-end; persisted ≈ half);
      * ocr_lines feeds TWO when with_tables (cell-text assignment and
        free-line assembly);
      * pages itself has ONE consumer on the default path (the combined
        fused_all_crops pass decodes once and emits both crop families)
        and is deliberately NOT persisted — at corpus scale the raw page
        blobs are the pipeline's largest cache footprint, and the crop
        union persisted instead is strictly smaller. The dual-DPI path
        pairs pages with the 2× render before the same single pass.

    checkpointed_extract gets the same reuse from stage materialization."""
    spark = documents.sparkSession
    # align the pages partition count with spark.sql.shuffle.partitions:
    # downstream media_ref shuffles (the recognize crop join; in the
    # relational library path also the order window / slice join /
    # layout stitch) run at that count, so a matching count lets
    # EnsureRequirements reuse the pages placement instead of
    # re-shuffling the blob bytes to reconcile partitioning (measured:
    # mismatched counts re-shuffled the big side at the slice join)
    # shuffle.partitions may be non-numeric on AQE-coalesce platforms
    # (e.g. "auto") — fall back to the cluster default parallelism
    try:
        par = pack_partitions or int(
            spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        par = spark.sparkContext.defaultParallelism

    # caching.scope: persisted stages (crop union, ocr_lines) are
    # released by the first action on the returned spans — no
    # InMemoryRelation leaks across queries in a long-lived session
    with caching.scope() as (handles, is_owner):
        # partitions=par pushes the media_ref hash partitioning INTO the
        # semi-join inputs: one blob shuffle total, output pre-placed for
        # every downstream media_ref join (no separate repartition)
        pages = pages_for(documents, page_blobs, pack_partitions,
                          partitions=par if persist else None)

        highres = highres_blobs is not None
        if highres:
            pages = paired_pages(documents, pages, highres_blobs,
                                 partitions=par if persist else None)
        # detect→order→slice AND layout→table-crop in ONE page-grain
        # pass sharing a single zlib page decode (operators/fused.py) —
        # pages has a single consumer, so the raw blob bytes are never
        # cached. With tables the (smaller) crop union feeds recognize
        # AND the table stage, so it is the persisted fan-out instead;
        # without tables recognize is its only reader — no pin. On the
        # dual-DPI path line crops come from the 2x render with
        # polygons int-rescaled (ref recognition/__init__.py:158-170,
        # scripts/config.py:36-42); detection, layout and table crops
        # read the lowres blob.
        allc = fused.fused_all_crops(pages, detect_slot,
                                     layout_slot if with_tables else None,
                                     highres=highres)
        if persist and with_tables:
            allc = caching.managed(allc)
        # chars pruned inside the UDF unless requested: span assembly never
        # reads them and they are the pipeline's single largest Python/Arrow
        # cost (see recognition.recognize docstring)
        ocr_lines = recognition.recognize(fused.line_crops(allc),
                                          recognize_slot,
                                          emit_chars=emit_chars)
        if persist and with_tables:
            # two consumers (cell-text assignment + free-line assembly);
            # without tables, assembly is the only reader — no pin
            ocr_lines = caching.managed(ocr_lines)

        cells = None
        if with_tables:
            cells = tables.table_stage_from_crops(fused.table_crops(allc),
                                                  ocr_lines, table_slot)

        return caching.owned(
            assemble.assemble_spans(documents, ocr_lines, cells),
            handles, is_owner)


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

    It checkpoints the SAME plan the flagship runs — pages →
    fused_all_crops (the tagged crop union, one decode per page) →
    recognize / table stage → assemble — as the stages pages, all_crops,
    ocr_lines and cells, bucketed on media_ref. The dual-DPI run
    (highres_blobs) checkpoints the same four stages: its all_crops
    stage reads the checkpointed lowres pages paired with the 2× render
    (paired_pages), exactly like extract's dual-DPI path."""
    from .plans.checkpoint import CheckpointRunner

    runner = CheckpointRunner(spark, base_dir, n_buckets, n_groups)

    pages = runner.stage(
        "pages", lambda: pages_for(documents, page_blobs),
        bucket_key="media_ref", max_groups=max_groups,
    )
    highres = highres_blobs is not None
    allc = runner.stage(
        "all_crops",
        lambda: fused.fused_all_crops(
            paired_pages(documents, pages, highres_blobs) if highres
            else pages,
            highres=highres),
        bucket_key="media_ref", max_groups=max_groups,
    )
    ocr_lines = runner.stage(
        "ocr_lines",
        lambda: recognition.recognize(fused.line_crops(allc),
                                      emit_chars=False),
        bucket_key="media_ref", max_groups=max_groups,
    )
    cells = runner.stage(
        "cells",
        lambda: tables.table_stage_from_crops(fused.table_crops(allc),
                                              ocr_lines),
        bucket_key="media_ref", max_groups=max_groups,
    )
    return assemble.assemble_spans(documents, ocr_lines, cells)
