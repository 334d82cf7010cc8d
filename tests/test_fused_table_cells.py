"""fused_table_cells parity: the one-pass slot→grid→spanning fusion must
emit exactly what the relational chain
apply_spanning_cells(cell_grid(table_items(crops)), table_items(crops))
emits — including the multi-span edge case where one grid cell anchors
two spanning cells (one emitted row per anchored span)."""

from __future__ import annotations

from pyspark.sql import functions as F

from surya_spark import datagen, pipeline
from surya_spark.operators import fused, tables


def _page(ref, w, h, regions, table=None):
    desc = {"w": w, "h": h, "lines": [], "table": table,
            "regions": regions}
    return (ref, w, h, datagen.encode_page(desc))


def _rows(df):
    return sorted(
        (r["media_ref"], r["table_idx"], r["row_id"], r["col_id"],
         r["is_header"], r["x1"], r["y1"], r["x2"], r["y2"],
         r["colspan"], r["rowspan"])
        for r in df.collect()
    )


def _relational(crops):
    items = tables.table_items(crops)
    return tables.apply_spanning_cells(tables.cell_grid(items), items)


def test_fused_table_cells_identical_to_relational(spark):
    pages = spark.createDataFrame(
        [
            # plain grid, no merges
            _page("blob://c/plain", 1024, 1024, [
                {"label": "Table", "bbox": [60, 100, 500, 400],
                 "order": 0},
            ], {"x": 80.0, "y": 120.0, "cell_w": 90.0, "cell_h": 35.0,
                "rows": 4, "cols": 3}),
            # colspan + rowspan merges (the datagen shapes)
            _page("blob://c/merged", 1024, 1024, [
                {"label": "Table", "bbox": [60, 100, 900, 700],
                 "order": 0},
            ], {"x": 100.0, "y": 150.0, "cell_w": 100.0, "cell_h": 40.0,
                "rows": 5, "cols": 4,
                "merges": [
                    {"row": 1, "col": 1, "colspan": 2, "rowspan": 1},
                    {"row": 3, "col": 0, "colspan": 1, "rowspan": 2},
                ]}),
            # multi-span edge: BOTH spans cover cell (1,1) — the
            # relational left join emits one row per anchored span, the
            # fused kernel must reproduce that exactly
            _page("blob://c/overlap", 1024, 1024, [
                {"label": "Table", "bbox": [60, 100, 900, 700],
                 "order": 0},
            ], {"x": 100.0, "y": 150.0, "cell_w": 100.0, "cell_h": 40.0,
                "rows": 4, "cols": 4,
                "merges": [
                    {"row": 1, "col": 1, "colspan": 2, "rowspan": 1},
                    {"row": 1, "col": 1, "colspan": 1, "rowspan": 2},
                ]}),
        ],
        "media_ref string, width int, height int, img_bytes binary",
    )
    crops = fused.table_crops(fused.fused_all_crops(pages))

    got = _rows(tables.fused_table_cells(crops))
    relational = _rows(_relational(crops))
    assert got == relational
    assert len(got) > 0

    # the overlap page really exercised the one-cell-two-spans case
    twice = [r for r in got
             if r[0] == "blob://c/overlap" and (r[2], r[3]) == (1, 1)]
    assert len(twice) == 2

    # schema parity (dtype-for-dtype) so downstream assign_cell_text
    # sees the identical frame either way
    f_schema = {f.name: f.dataType.simpleString()
                for f in tables.fused_table_cells(crops).schema.fields}
    r_schema = {f.name: f.dataType.simpleString()
                for f in _relational(crops).schema.fields}
    assert f_schema == r_schema


def test_normalize_table_item_rejects_non_finite():
    """NaN coordinates would make the fused (Python NaN-compares-False)
    and relational (Spark NaN-orders-greatest) spanning overrides
    silently diverge — the shared ingest boundary fails loudly instead."""
    import pytest

    good = {"item_kind": "row", "item_id": 0, "x1": 1.0, "y1": 2.0,
            "x2": 3.0, "y2": 4.0, "is_header": False,
            "colspan": None, "rowspan": None}
    out = tables.normalize_table_item(good, 10.0, 20.0)
    assert (out["x1"], out["y1"], out["x2"], out["y2"]) == (
        11.0, 22.0, 13.0, 24.0)
    for bad_val in (float("nan"), float("inf")):
        bad = dict(good, x2=bad_val)
        with pytest.raises(ValueError, match="non-finite"):
            tables.normalize_table_item(bad, 0.0, 0.0)


def test_table_stage_fused_vs_relational_end_to_end(spark):
    """The stage wrapper (table_stage_from_crops) produces the same
    cell-text table as the relational chain (table_items → cell_grid →
    apply_spanning_cells → assign_cell_text) on the generated corpus,
    merges included."""
    n = 60
    docs = datagen.gen_documents(spark, n, partitions=4)
    blobs = datagen.gen_page_blobs(spark, n, partitions=4)
    pages = pipeline.pages_for(docs, blobs).persist()
    from surya_spark.operators import detection, reading_order, recognition
    ocr = recognition.recognize(recognition.slice_crops(
        reading_order.order_lines(detection.detection_stage(pages))
        .select("media_ref", "line_idx", "position",
                "x1", "y1", "x2", "y2"),
        pages,
    )).persist()
    crops = fused.table_crops(fused.fused_all_crops(pages)).persist()

    def key_rows(df):
        return sorted(map(tuple, df.collect()))

    got = key_rows(tables.table_stage_from_crops(crops, ocr))
    relational = key_rows(tables.assign_cell_text(_relational(crops), ocr))
    assert got == relational
    assert len(got) > 0
    # merges present in the fixture → spanning rows survive the fusion
    assert any(r for r in got if (r[9] or 1) > 1 or (r[10] or 1) > 1)
    pages.unpersist()
    ocr.unpersist()
    crops.unpersist()
