"""End-to-end parity of the one extraction plan: pipeline.extract (with
and without tables) equals the relational library chain span for span,
the page pass's span items equal the relational chain's stage_items
(both detect slots, with and without tables, dual-DPI), the dual-DPI
crop pass is byte-identical to the relational highres chain, and every
extract variant runs the page pass once with nothing persisted. (The
lowres crop pins live in test_recognition_modes and test_fused_tables.)"""

from __future__ import annotations

import pytest

from surya_spark import datagen, pipeline
from surya_spark.operators import (assemble, detection, fused, layout,
                                   reading_order, recognition, slots,
                                   tables)


def _line_rows(df):
    return sorted(
        (r["media_ref"], r["line_idx"], r["position"],
         r["x1"], r["y1"], r["x2"], r["y2"],
         bytes(r["crop_bytes"]), r["res_x"], r["res_y"])
        for r in df.collect()
    )


def _table_rows(df):
    return sorted(
        (r["media_ref"], r["table_idx"], r["x1"], r["y1"], r["x2"],
         r["y2"], bytes(r["crop_bytes"]))
        for r in df.collect()
    )


def _spans(df):
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"])
                      for s in r["spans"]]
        for r in df.collect()
    }


def _items(df):
    return sorted(tuple(r) for r in df.collect())


def _relational_items(pages, detect_slot=slots.surrogate_detect,
                      with_tables=True, highres_pages=None):
    """The relational formulation of the page pass: detection_stage →
    order_lines → slice_crops → recognize, and layout_stage_tiled →
    table_crops → table_items → cell_grid/apply_spanning_cells (the
    chain fused_table_cells is pinned to) → assign_cell_text, then
    stage_items."""
    ocr = recognition.recognize(
        recognition.slice_crops(
            reading_order.order_lines(
                detection.detection_stage(pages, detect_slot)
            ).select("media_ref", "line_idx", "position",
                     "x1", "y1", "x2", "y2", "polygon"),
            pages, highres_pages=highres_pages),
        emit_chars=False)
    cells = None
    if with_tables:
        items = tables.table_items(tables.table_crops(
            layout.layout_stage_tiled(pages), pages))
        cells = tables.assign_cell_text(
            tables.apply_spanning_cells(tables.cell_grid(items), items),
            ocr)
    return assemble.stage_items(ocr, cells)


def _relational_extract(docs, blobs, with_tables):
    return assemble.assemble_items(docs, _relational_items(
        pipeline.pages_for(docs, blobs), with_tables=with_tables))


def test_extract_spans_match_across_paths(spark):
    """End-to-end: the combined-pass extract equals the relational
    formulation span for span (the invariant tuple is
    (kind, text, media_ref, offset)), with and without tables."""
    n = 16
    docs = datagen.gen_documents(spark, n, partitions=2)
    blobs = datagen.gen_page_blobs(spark, n, partitions=2)

    got = {}
    for with_tables in (True, False):
        got[with_tables] = _spans(
            pipeline.extract(docs, blobs, with_tables=with_tables))
        relational = _spans(_relational_extract(docs, blobs, with_tables))
        assert got[with_tables] == relational, with_tables
        assert len(relational) == n
    # the corpus has tables, so the two modes really differ
    assert got[True] != got[False]


@pytest.mark.parametrize("detect_slot", [
    slots.surrogate_detect, slots.surrogate_detect_heatmap])
def test_page_items_equal_relational_chain(spark, detect_slot):
    """Item-level parity of the page pass: fused_page_items emits exactly
    the (media_ref, sub_order, kind, text) multiset of the relational
    chain, with and without tables, including tall pages."""
    n = 24  # includes ~5% tall pages at this count
    docs = datagen.gen_documents(spark, n, partitions=2)
    blobs = datagen.gen_page_blobs(spark, n, partitions=2)
    pages = pipeline.pages_for(docs, blobs).persist()
    for with_tables in (True, False):
        got = _items(fused.fused_page_items(
            pages, detect_slot,
            layout_slot=slots.surrogate_layout if with_tables else None))
        assert got == _items(_relational_items(
            pages, detect_slot, with_tables)), with_tables
        assert any(kind == "cell" for _, _, kind, _ in got) == with_tables
    pages.unpersist()


def test_highres_page_items_equal_relational_chain(spark):
    """The dual-DPI page pass (line crops from the 2× render) emits the
    relational highres chain's items."""
    n = 16
    docs = datagen.gen_documents(spark, n, partitions=2)
    blobs = datagen.gen_page_blobs(spark, n, partitions=2)
    hi = datagen.gen_page_blobs(spark, n, partitions=2, scale=2.0)
    pages = pipeline.pages_for(docs, blobs).persist()
    hp = pipeline.pages_for(docs, hi).persist()
    got = _items(fused.fused_page_items(
        pipeline.paired_pages(docs, pages, hi)))
    assert got and got == _items(_relational_items(
        pages, highres_pages=hp))
    pages.unpersist(); hp.unpersist()


def test_fused_highres_byte_identical_to_relational(spark):
    """r7 (VERDICT r06 #3): the dual-DPI combined pass — both blob tables
    joined on media_ref, line crops encoded from the 2× render with
    reference int-truncation rescaling — must emit line crops
    BYTE-identical to the relational highres chain (detection_stage →
    order_lines → slice_crops(highres_pages=…)) and table crops
    byte-identical to the lowres relational table chain."""
    n = 24
    docs = datagen.gen_documents(spark, n, partitions=2)
    blobs = datagen.gen_page_blobs(spark, n, partitions=2)
    hi = datagen.gen_page_blobs(spark, n, partitions=2, scale=2.0)
    pages = pipeline.pages_for(docs, blobs).persist()
    hp = pipeline.pages_for(docs, hi).persist()

    allc = fused.fused_all_crops(
        pipeline.paired_pages(docs, pages, hi)).persist()

    ordered = reading_order.order_lines(detection.detection_stage(pages))
    rel = recognition.slice_crops(
        ordered.select("media_ref", "line_idx", "position",
                       "x1", "y1", "x2", "y2", "polygon"),
        pages, highres_pages=hp)

    fused_lines = _line_rows(fused.line_crops(allc))
    assert fused_lines == _line_rows(rel)
    assert len(fused_lines) > 0
    assert all(t[-2] == 2.0 and t[-1] == 2.0 for t in fused_lines)
    assert _table_rows(fused.table_crops(allc)) == _table_rows(
        tables.table_crops(layout.layout_stage_tiled(pages), pages))
    allc.unpersist(); pages.unpersist(); hp.unpersist()


def test_extract_highres_no_page_blob_persist(spark):
    """Every extract variant — default, with_tables=False and dual-DPI —
    runs the page pass exactly once, with no InMemoryRelation (raw page
    blobs or otherwise) and no separate crop, recognize or table-cell
    mapInPandas in its plan."""
    n = 12
    docs = datagen.gen_documents(spark, n, partitions=2)
    blobs = datagen.gen_page_blobs(spark, n, partitions=2)
    hi = datagen.gen_page_blobs(spark, n, partitions=2, scale=2.0)
    for kw in ({}, {"with_tables": False}, {"highres_blobs": hi}):
        out = pipeline.extract(docs, blobs, **kw)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryRelation" not in plan, kw
        assert plan.count("MapInPandas page_pass(") == 1, kw
        # every other operator UDF is named run (crop, recognize and
        # table-cell passes); the inputs' generators are named build
        assert "MapInPandas run(" not in plan, kw
