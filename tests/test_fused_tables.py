"""Table-crop parity of the combined page pass: the table family of
fused.fused_all_crops (layout→table-crop inside the one page-grain
pass, kernel tables.table_crop_rows) must emit exactly what the
relational chain table_crops(layout_stage_tiled(pages), pages) emits —
crop bytes included — across the tiled (tall/wide), small-page,
relabel→Table, and no-table paths, and on both sides of the TILE_MIN
tiling threshold."""

from __future__ import annotations

from surya_spark import datagen
from surya_spark.operators import fused, layout, slots, tables


def _page(ref, w, h, regions, table=None):
    desc = {"w": w, "h": h, "lines": [], "table": table,
            "regions": regions}
    return (ref, w, h, datagen.encode_page(desc))


def _rows(df):
    return sorted(
        (r["media_ref"], r["table_idx"], r["x1"], r["y1"], r["x2"],
         r["y2"], bytes(r["crop_bytes"]))
        for r in df.collect()
    )


def test_fused_table_crops_byte_identical_to_relational(spark):
    table_desc = {"x": 120.0, "y": 150.0, "cell_w": 80.0, "cell_h": 30.0,
                  "rows": 3, "cols": 4}
    pages = spark.createDataFrame(
        [
            # tall page: split into ≥3 tiles; the Table crosses a tile
            # boundary → exercises tile_sub_blob clipping + merge-union
            _page("blob://f/tall", 1024, 4096, [
                {"label": "SectionHeader", "bbox": [60, 28, 600, 60],
                 "order": 0},
                {"label": "Table", "bbox": [100, 900, 900, 1600],
                 "order": 1},
                {"label": "Text", "bbox": [60, 1700, 964, 3900],
                 "order": 2},
            ], table_desc),
            # wide page: width-split path
            _page("blob://f/wide", 4096, 1024, [
                {"label": "Table", "bbox": [100, 100, 3900, 900],
                 "order": 0},
            ], table_desc),
            # small page: two tables → table_idx ordering by (y1, x1)
            _page("blob://f/two", 1024, 1024, [
                {"label": "Table", "bbox": [60, 500, 500, 900],
                 "order": 0},
                {"label": "Table", "bbox": [60, 100, 500, 400],
                 "order": 1},
                {"label": "Text", "bbox": [550, 100, 964, 900],
                 "order": 2},
            ], table_desc),
            # relabel page: PageHeader centered mid-page takes its
            # second-best top_k label (= Table with the fixed slot) —
            # the fused filter must see the RELABELED label
            _page("blob://f/relabel", 1024, 1024, [
                {"label": "PageHeader", "bbox": [100, 480, 900, 540],
                 "order": 0},
                {"label": "PageFooter", "bbox": [100, 980, 900, 1010],
                 "order": 1},
            ], table_desc),
            # no tables at all → zero rows for this page
            _page("blob://f/none", 1024, 1024, [
                {"label": "Text", "bbox": [60, 100, 964, 900],
                 "order": 0},
            ]),
            # tiling edge: 1500×1500 is one tile, 1000×1501 two tiles
            # split at y=1200, which its Table crosses
            _page("blob://f/edge1500", 1500, 1500, [
                {"label": "Table", "bbox": [100, 1100, 1400, 1300],
                 "order": 0},
            ], table_desc),
            _page("blob://f/edge1501", 1000, 1501, [
                {"label": "Table", "bbox": [100, 1100, 900, 1300],
                 "order": 0},
            ], table_desc),
        ],
        "media_ref string, width int, height int, img_bytes binary",
    )

    # nested so cloudpickle serializes by value (test modules aren't
    # importable on executors)
    def fixed_slot(media_ref, width, height, img_bytes):
        desc = datagen.decode_page(img_bytes)
        out = []
        for r in sorted(desc.get("regions", []), key=lambda r: r["order"]):
            x1, y1, x2, y2 = (float(v) for v in r["bbox"])
            out.append({
                "emit_idx": r["order"], "label": r["label"],
                "x1": x1, "y1": y1, "x2": x2, "y2": y2,
                "confidence": 0.9,
                "top_k": {r["label"]: 0.6, "Table": 0.25, "Caption": 0.1},
            })
        return out

    def fused_rows(slot):
        return _rows(fused.table_crops(
            fused.fused_all_crops(pages, layout_slot=slot)))

    for slot in (slots.surrogate_layout, fixed_slot):
        relational = _rows(tables.table_crops(
            layout.layout_stage_tiled(pages, slot), pages))
        got = fused_rows(slot)
        assert got == relational, getattr(slot, "__name__", slot)
        assert len(got) > 0

    # the relabel page really did contribute a table via its second-best
    # label (only under the fixed slot, whose top_k pins Table second)
    fused_fixed = fused_rows(fixed_slot)
    assert any(m == "blob://f/relabel" for m, *_ in fused_fixed)
    # the two-table page is ordered top-to-bottom: table_idx 0 is the
    # upper table (y1 < the lower table's y1)
    two = sorted((t, y1) for m, t, _, y1, *_ in fused_fixed
                 if m == "blob://f/two")
    assert [t for t, _ in two] == [0, 1] and two[0][1] < two[1][1]
    # and the no-table page contributed nothing
    assert all(m != "blob://f/none" for m, *_ in fused_fixed)


def test_tile_plan_single_tile_iff_within_tile_min():
    """page_tile_plan's one-tile case (the page pass's untiled branch in
    tables._table_boxes) is exactly layout_stage_tiled's TILE_MIN filter
    on both axes."""
    for w in (1200, 1500, 1501, 4800, 4801):
        for h in (900, 1500, 1501):
            one_tile = layout.page_tile_plan(w, h)[2] == 1
            assert one_tile == (w <= layout.TILE_MIN
                                and h <= layout.TILE_MIN), (w, h)
