"""End-to-end parity of the one extraction plan: pipeline.extract (with
and without tables) equals the relational library chain span for span,
the dual-DPI combined pass is byte-identical to the relational highres
chain, and the dual-DPI extract never caches raw page blobs. (The
lowres crop pins live in test_recognition_modes and test_fused_tables.)"""

from __future__ import annotations

from surya_spark import datagen, pipeline
from surya_spark.operators import (assemble, detection, fused, layout,
                                   reading_order, recognition, tables)


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


def _relational_extract(docs, blobs, with_tables):
    """The relational formulation of extract: detection_stage →
    order_lines → slice_crops → recognize, and layout_stage_tiled →
    table_crops → table_items → cell_grid/apply_spanning_cells →
    assign_cell_text."""
    pages = pipeline.pages_for(docs, blobs)
    ocr = recognition.recognize(
        recognition.slice_crops(
            reading_order.order_lines(detection.detection_stage(pages)),
            pages),
        emit_chars=False)
    cells = None
    if with_tables:
        items = tables.table_items(tables.table_crops(
            layout.layout_stage_tiled(pages), pages))
        cells = tables.assign_cell_text(
            tables.apply_spanning_cells(tables.cell_grid(items), items),
            ocr)
    return assemble.assemble_spans(docs, ocr, cells)


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
        pipeline.paired_pages(docs, pages, hi), highres=True).persist()

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
    """r7: the dual-DPI extract runs the fused plan — NO InMemoryRelation
    may hold raw page blobs (img_bytes/hr_bytes); only the tagged crop
    union persists. (The pre-r7 highres branch pinned full pages — the
    pipeline's largest cache footprint.)"""
    n = 12
    docs = datagen.gen_documents(spark, n, partitions=2)
    blobs = datagen.gen_page_blobs(spark, n, partitions=2)
    hi = datagen.gen_page_blobs(spark, n, partitions=2, scale=2.0)
    out = pipeline.extract(docs, blobs, with_tables=True, highres_blobs=hi)
    plan = out._jdf.queryExecution().executedPlan().toString()
    chunks = plan.split("InMemoryRelation")
    assert len(chunks) > 1, "expected the crop-union persist"
    for chunk in chunks[1:]:
        cols = chunk.split("\n", 1)[0]
        assert "img_bytes" not in cols and "hr_bytes" not in cols, cols
