"""Table recognition: layout→crop join, row/col decode slot, relational
grid assembly, cell-text assignment join.

Reference flow (/root/reference/surya/scripts/table_recognition.py:47-96,
/root/reference/surya/table_rec/__init__.py:181-387): layout boxes labeled
Table are cropped at high-res, a two-pass decoder emits row/col/cell
items, and the cell grid is rows × cols with spanning-cell overrides.

Spark shape: crops via the aggregate-then-join pattern (region bboxes are
tiny; page bytes don't fan out); the grid is a genuine CROSS JOIN of rows
and columns *within* (media_ref, table_idx) — an equi-join key with the
intersection expression as refinement; cell text is a theta join of OCR
lines into cell bboxes (center-containment) + an ordered group-concat.
"""

from __future__ import annotations

import math
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import schemas
from ..datagen import decode_page
from ..functions import geometry as G
from . import slots

_TABLE_CROPS = T.StructType([
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("table_idx", T.IntegerType(), False),
    T.StructField("x1", T.DoubleType(), False),
    T.StructField("y1", T.DoubleType(), False),
    T.StructField("x2", T.DoubleType(), False),
    T.StructField("y2", T.DoubleType(), False),
    T.StructField("crop_bytes", T.BinaryType(), False),
])

TABLE_LABELS = ("Table", "TableOfContents")
# a table crop is its layout box grown by this fraction of its size on
# every side (ref surya/scripts/table_recognition.py:47-75)
TABLE_EXPAND_PCT = 0.01
# a grid cell at least this covered by a spanning cell collapses into it
# (ref surya/table_rec/__init__.py:313-327)
SPAN_MIN_COVER = 0.9


def _table_bbox(b) -> list[float]:
    """A table box (b's x1..y2) expanded by TABLE_EXPAND_PCT of its size
    on every side: the one crop-box rule of every table crop."""
    dx = (b["x2"] - b["x1"]) * TABLE_EXPAND_PCT
    dy = (b["y2"] - b["y1"]) * TABLE_EXPAND_PCT
    return [b["x1"] - dx, b["y1"] - dy, b["x2"] + dx, b["y2"] + dy]


def table_crop_row(ref: str, table_idx: int, b, desc) -> dict:
    """One table box (b's x1..y2) → its crop row: the box expanded by
    _table_bbox, then encoded from the decoded page desc — table_crops'
    form of page_table_crops' rows."""
    bbox = _table_bbox(b)
    return {
        "media_ref": ref, "table_idx": table_idx,
        "x1": bbox[0], "y1": bbox[1],
        "x2": bbox[2], "y2": bbox[3],
        "crop_bytes": slots.encode_table_crop(desc, bbox),
    }


def table_crops(regions: DataFrame, pages: DataFrame) -> DataFrame:
    """Layout regions labeled Table → ordered table_idx per page → crop
    blobs. table_idx = row_number over y (top-to-bottom), matching the
    reference's per-page table ordering. The window tie-breaks on
    emit_idx (model emit order) so two tables at identical (y1, x1)
    origins get the SAME table_idx here and in table_crop_rows, which
    sorts by the same key — row_number without the full key is
    partition-order-dependent on exact ties."""
    tie = ["emit_idx"] if "emit_idx" in regions.columns else ["x2", "y2"]
    w = Window.partitionBy("media_ref").orderBy("y1", "x1", *tie)
    tables = (
        regions.filter(F.col("label").isin(*TABLE_LABELS))
        .withColumn("table_idx", F.row_number().over(w) - 1)
        .select("media_ref", "table_idx", "x1", "y1", "x2", "y2")
    )
    boxes = tables.groupBy("media_ref").agg(
        F.collect_list(F.struct("table_idx", "x1", "y1", "x2", "y2")).alias("tboxes")
    )
    # data-derived aggregate: shuffle-hash, never driver-broadcast
    # (see recognition.slice_crops)
    joined = pages.join(boxes.hint("shuffle_hash"), "media_ref",
                        "inner").select(
        "media_ref", "img_bytes", "tboxes"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, blob, tboxes in zip(
                pdf["media_ref"], pdf["img_bytes"], pdf["tboxes"]
            ):
                desc = decode_page(bytes(blob))
                rows.extend(
                    table_crop_row(ref, int(b["table_idx"]), b, desc)
                    for b in tboxes)
            yield pd.DataFrame(rows)

    return joined.mapInPandas(run, schema=_TABLE_CROPS)


def table_crop_rows(ref: str, w: int, h: int, blob: bytes,
                    layout_slot: Callable,
                    desc=None) -> tuple[list[dict], object]:
    """page_table_crops with each crop serialized to `crop_bytes`
    (slots.pack_crop): the rows table_crops(layout_stage_tiled(
    pages), pages) produces for one page, as fused.fused_all_crops emits
    them."""
    rows, desc = page_table_crops(ref, w, h, blob, layout_slot, desc)
    return [{**{k: v for k, v in r.items() if k != "crop"},
             "crop_bytes": slots.pack_crop(r["crop"])}
            for r in rows], desc


def page_table_crops(ref: str, w: int, h: int, blob: bytes,
                     layout_slot: Callable,
                     desc=None) -> tuple[list[dict], object]:
    """Per-page kernel of the page pass (fused) for the layout→table-crop
    chain: layout slot (tiled per layout.page_tile_plan for oversize
    pages) → cross-tile merge → header/footer relabel → Table filter →
    ordered table_idx → crop, emitting the tables
    table_crops(layout_stage_tiled(pages), pages) produces — without
    materializing the region table. The relational chain's stitch join,
    merge shuffle, position and table_idx windows and collect_list join
    are all page-local work; every rule here is a shared helper
    (layout.page_tile_plan / tile_sub_blob / try_merge_tile_region /
    relabel_header_footer_record) so the two paths cannot drift, and
    crops are pytest-pinned byte-identical against the relational path.
    Per-page work is bounded (≤4 tiles × ≤100 regions).

    The rows carry `crop`, the slots.table_crop_payload a table slot
    takes: fused_page_items hands it straight to tables.crop_cells, so
    no table crop is serialized there.

    Returns (crop row dicts, decoded page or the desc passed in) —
    callers chaining several page-grain kernels reuse desc, so the
    kernels decode the blob at most once per page between them (the
    slots decode it themselves); pages with no tables (and
    small enough to skip tiling) never pay the decode."""
    tboxes, desc = _table_boxes(ref, w, h, blob, layout_slot, desc)
    rows = []
    for t_idx, b in enumerate(tboxes):
        bbox = _table_bbox(b)
        rows.append({
            "media_ref": ref, "table_idx": t_idx,
            "x1": bbox[0], "y1": bbox[1],
            "x2": bbox[2], "y2": bbox[3],
            "crop": slots.table_crop_payload(desc, bbox),
        })
    return rows, desc


def _table_boxes(ref: str, w: int, h: int, blob: bytes,
                 layout_slot: Callable, desc) -> tuple[list[dict], object]:
    """layout slot (tiled) → cross-tile merge → header/footer relabel →
    Table filter for one page: its table boxes in table_idx order, and
    the decoded page (decoded here only when there is a table or a
    tiled page, unless it was passed in)."""
    from . import layout as L

    desc_out = desc
    along_h, step, n_tiles = L.page_tile_plan(w, h)
    if n_tiles == 1:
        kept = list(layout_slot(ref, w, h, blob))
    else:
        if desc_out is None:
            desc_out = decode_page(blob)
        recs = L.tile_slot_records(ref, w, h, desc_out, layout_slot,
                                   along_h, step, n_tiles)
        # within a tile the merge order is the stitched position = emit
        # order (stable on ties, like the relational mergesort); records
        # arrive grouped by tile in tile order
        recs.sort(key=lambda r: (r["tile_idx"], r["emit_idx"]))
        kept = L.accumulate_tile_merges(recs, along_h)
    tboxes = [
        r for r in kept
        if L.relabel_header_footer_record(
            r["label"], r["y1"], r["y2"], h, r["top_k"]
        ) in TABLE_LABELS
    ]
    if not tboxes:
        return [], desc_out
    # same full sort key as the relational table_crops window:
    # (y1, x1, emit_idx), falling back to (y1, x1, x2, y2) when records
    # carry no emit_idx — the SAME fallback the relational window uses,
    # so the fusion-parity contract stays total on emit_idx-less inputs
    # (r7, advisor finding)
    if tboxes and "emit_idx" in tboxes[0]:
        tboxes.sort(key=lambda r: (r["y1"], r["x1"], r["emit_idx"]))
    else:
        tboxes.sort(key=lambda r: (r["y1"], r["x1"], r["x2"], r["y2"]))
    if desc_out is None:
        desc_out = decode_page(blob)
    return tboxes, desc_out


def normalize_table_item(item: dict, dx, dy) -> dict:
    """The slot-output → item-row rule (page-coordinate shift by the crop
    origin, type casts, tail-first-optional rowspan). ONE implementation
    shared by table_items and fused_table_cells so the relational and
    fused paths cannot drift (the repo's fusion-parity convention).

    Rejects non-finite coordinates: Python NaN comparisons (False) and
    Spark NaN ordering (greater than everything) disagree, so a NaN
    that reached the coverage predicate would make the fused and
    relational spanning overrides silently diverge — fail loudly at
    the shared boundary instead."""
    x1, y1 = item["x1"] + dx, item["y1"] + dy
    x2, y2 = item["x2"] + dx, item["y2"] + dy
    if not (math.isfinite(x1) and math.isfinite(y1)
            and math.isfinite(x2) and math.isfinite(y2)):
        raise ValueError(
            f"table slot emitted non-finite coordinates: {item!r}")
    return {
        "item_kind": item["item_kind"],
        "item_id": int(item["item_id"]),
        "x1": x1, "y1": y1, "x2": x2, "y2": y2,
        "is_header": bool(item["is_header"]),
        "colspan": item["colspan"],
        "rowspan": item.get("rowspan"),
    }


def table_items(crops: DataFrame,
                slot: Callable = slots.surrogate_table) -> DataFrame:
    """Table crops → row/col items (emit order = item_id), shifted back to
    page coordinates via the crop origin."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, ti, x1, y1, blob in zip(
                pdf["media_ref"], pdf["table_idx"], pdf["x1"], pdf["y1"],
                pdf["crop_bytes"],
            ):
                for item in slot(bytes(blob)):
                    rows.append({
                        "media_ref": ref, "table_idx": int(ti),
                        **normalize_table_item(item, x1, y1),
                    })
            yield pd.DataFrame(rows)

    return crops.mapInPandas(run, schema=schemas.TABLE_ITEMS)


_TABLE_CELLS = T.StructType([
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("table_idx", T.IntegerType(), False),
    T.StructField("row_id", T.IntegerType(), False),
    T.StructField("col_id", T.IntegerType(), False),
    T.StructField("is_header", T.BooleanType(), False),
    T.StructField("x1", T.DoubleType(), False),
    T.StructField("y1", T.DoubleType(), False),
    T.StructField("x2", T.DoubleType(), False),
    T.StructField("y2", T.DoubleType(), False),
    T.StructField("colspan", T.IntegerType(), True),
    T.StructField("rowspan", T.IntegerType(), True),
])


def cells_for_table(items: list) -> list:
    """Per-table twin of cell_grid + apply_spanning_cells, as a plain
    list-of-dicts kernel: grid = rows × cols (cell bbox = row ∩ col),
    then grid cells covered ≥SPAN_MIN_COVER by a spanning cell collapse
    to the span's min-(row,col) anchor with the span bbox + col/rowspan
    (/root/reference/surya/table_rec/__init__.py:304-344,313-327).

    Same join semantics as the relational form, including the edge
    cases: a cell matched by several spans emits one row per span it
    anchors, and every coverage fraction is the identical IEEE
    expression (overlap product / cell area) the SQL path evaluates —
    the parity pytest pins the two paths equal on the same fixtures.

    Contract: slot coordinates must be FINITE. On a NaN coordinate the
    two paths would diverge — Python comparisons with NaN are False
    (cell stays uncovered here) while Spark orders NaN greater than
    every value (cover >= SPAN_MIN_COVER turns true relationally) — so
    normalize_table_item, the shared ingest boundary of BOTH paths,
    rejects non-finite coordinates before they reach the predicate."""
    rows_i = [it for it in items if it["item_kind"] == "row"]
    cols_i = [it for it in items if it["item_kind"] == "col"]
    spans = [it for it in items if it["item_kind"] == "spanning_cell"]
    grid = []
    for r in rows_i:
        for c in cols_i:
            grid.append({
                "row_id": r["item_id"], "col_id": c["item_id"],
                "is_header": r["is_header"],
                "x1": max(r["x1"], c["x1"]), "y1": r["y1"],
                "x2": min(r["x2"], c["x2"]), "y2": r["y2"],
            })
    min_cover = SPAN_MIN_COVER  # a local in the per-pair loop
    matches = []  # (grid idx, span idx) with coverage ≥ min_cover
    for gi, g in enumerate(grid):
        a = (g["x2"] - g["x1"]) * (g["y2"] - g["y1"])
        if a <= 0:
            continue
        for si, s in enumerate(spans):
            ix = max(0.0, min(g["x2"], s["x2"]) - max(g["x1"], s["x1"]))
            iy = max(0.0, min(g["y2"], s["y2"]) - max(g["y1"], s["y1"]))
            if ix * iy / a >= min_cover:
                matches.append((gi, si))
    anchor: dict = {}
    for gi, si in matches:
        key = (grid[gi]["row_id"], grid[gi]["col_id"])
        if si not in anchor or key < anchor[si]:
            anchor[si] = key
    covered = {gi for gi, _ in matches}
    out = [{**g, "colspan": 1, "rowspan": 1}
           for gi, g in enumerate(grid) if gi not in covered]
    for gi, si in matches:
        g = grid[gi]
        if (g["row_id"], g["col_id"]) != anchor[si]:
            continue
        s = spans[si]
        out.append({
            "row_id": g["row_id"], "col_id": g["col_id"],
            "is_header": g["is_header"],
            "x1": s["x1"], "y1": s["y1"], "x2": s["x2"], "y2": s["y2"],
            "colspan": None if s["colspan"] is None else int(s["colspan"]),
            "rowspan": None if s["rowspan"] is None else int(s["rowspan"]),
        })
    return out


def crop_cells(crop, x1: float, y1: float,
               slot: Callable = slots.surrogate_table) -> list:
    """One table crop (whichever form it comes in: crop_bytes from a
    crop table, the in-memory payload in the page pass) → its cells:
    table slot → normalize_table_item (shift by the crop origin (x1,
    y1)) → cells_for_table. The per-table step of fused_table_cells and
    of the page pass (fused.fused_page_items)."""
    return cells_for_table(
        [normalize_table_item(it, x1, y1) for it in slot(crop)])


def fused_table_cells(crops: DataFrame,
                      slot: Callable = slots.surrogate_table) -> DataFrame:
    """One table-grain pass for the slot→grid→spanning chain:
    table slot → page-coordinate shift → cell grid → spanning-cell
    override, emitting the same rows as
    apply_spanning_cells(cell_grid(table_items(crops)), table_items(crops)).

    Why: every step after the slot is local to one (media_ref,
    table_idx) — and each crops row IS one table — so the relational
    chain's rows×cols shuffle-hash join, the coverage theta join, and
    the anchor window (plus the items persist that double consumption
    forces) are pure overhead (round-3 lesson; same shape as
    page_crop_rows / table_crop_rows). The rule lives in
    cells_for_table, pinned equal to the relational path by pytest.

    The relational operators (table_items / cell_grid /
    apply_spanning_cells) remain the library surface for callers that
    need the item table itself.

    Scale: one pass over the crops, zero exchanges; per-table work is
    bounded (≤150 items per the reference decoder)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, ti, x1, y1, blob in zip(
                pdf["media_ref"], pdf["table_idx"], pdf["x1"], pdf["y1"],
                pdf["crop_bytes"],
            ):
                for cell in crop_cells(bytes(blob), x1, y1, slot):
                    rows.append({"media_ref": ref, "table_idx": int(ti),
                                 **cell})
            yield pd.DataFrame(rows)

    return crops.mapInPandas(run, schema=_TABLE_CELLS)


def cell_grid(items: DataFrame) -> DataFrame:
    """cells = rows × cols within a table; cell bbox = row ∩ col
    (/root/reference/surya/table_rec/__init__.py:304-344). The cross join
    is bounded per table (≤150 items) and equi-keyed on
    (media_ref, table_idx), so it partitions cleanly."""
    rows = items.filter(F.col("item_kind") == "row").select(
        "media_ref", "table_idx",
        F.col("item_id").alias("row_id"),
        F.col("y1").alias("ry1"), F.col("y2").alias("ry2"),
        F.col("x1").alias("rx1"), F.col("x2").alias("rx2"),
        "is_header",
    )
    cols = items.filter(F.col("item_kind") == "col").select(
        "media_ref", "table_idx",
        F.col("item_id").alias("col_id"),
        F.col("x1").alias("cx1"), F.col("x2").alias("cx2"),
    )
    # cols is data-derived — shuffle-hash, not driver-broadcast
    return rows.join(cols.hint("shuffle_hash"),
                     ["media_ref", "table_idx"]).select(
        "media_ref", "table_idx", "row_id", "col_id", "is_header",
        F.greatest("rx1", "cx1").alias("x1"),
        F.col("ry1").alias("y1"),
        F.least("rx2", "cx2").alias("x2"),
        F.col("ry2").alias("y2"),
    )


def apply_spanning_cells(cells: DataFrame, items: DataFrame) -> DataFrame:
    """Spanning-cell override: grid cells covered ≥SPAN_MIN_COVER by a
    spanning cell are collapsed — the minimum covered col becomes the
    anchor, its bbox widens to the span, covered non-anchors drop
    (/root/reference/surya/table_rec/__init__.py:313-327). Pure relational:
    a theta join (center containment + coverage pct) refined from the
    (media_ref, table_idx) equi key, then a min() window for the anchor."""
    sp = items.filter(F.col("item_kind") == "spanning_cell").select(
        F.col("media_ref").alias("s_media_ref"),
        F.col("table_idx").alias("s_table_idx"),
        F.col("item_id").alias("span_id"),
        F.col("x1").alias("sx1"), F.col("y1").alias("sy1"),
        F.col("x2").alias("sx2"), F.col("y2").alias("sy2"),
        F.col("colspan").alias("span_colspan"),
        F.col("rowspan").alias("span_rowspan"),
    )
    cover = G.intersection_pct(
        cells["x1"], cells["y1"], cells["x2"], cells["y2"],
        sp["sx1"], sp["sy1"], sp["sx2"], sp["sy2"],
    )
    joined = cells.join(
        sp.hint("shuffle_hash"),
        (cells["media_ref"] == sp["s_media_ref"])
        & (cells["table_idx"] == sp["s_table_idx"])
        & (cover >= SPAN_MIN_COVER),
        "left",
    )

    w = Window.partitionBy("media_ref", "table_idx", "span_id")
    marked = joined.withColumn(
        "_anchor",
        F.min(F.when(F.col("span_id").isNotNull(),
                     F.struct("row_id", "col_id"))).over(w),
    )
    # Single pass, no union: a row survives iff it is uncovered OR the
    # min-(row,col) anchor of its span; covered survivors take the span
    # bbox + colspan/rowspan in the same projection. The earlier
    # uncovered ∪ anchors form consumed `marked` TWICE, re-executing the
    # coverage join + window per branch (BENCH.md rule 2) — at corpus
    # scale that is a doubled shuffle for identical output.
    covered = F.col("span_id").isNotNull()
    is_anchor = (
        covered
        & (F.col("row_id") == F.col("_anchor.row_id"))
        & (F.col("col_id") == F.col("_anchor.col_id"))
    )
    return marked.filter(F.col("span_id").isNull() | is_anchor).select(
        "media_ref", "table_idx", "row_id", "col_id", "is_header",
        F.when(covered, F.col("sx1")).otherwise(F.col("x1")).alias("x1"),
        F.when(covered, F.col("sy1")).otherwise(F.col("y1")).alias("y1"),
        F.when(covered, F.col("sx2")).otherwise(F.col("x2")).alias("x2"),
        F.when(covered, F.col("sy2")).otherwise(F.col("y2")).alias("y2"),
        F.when(covered, F.col("span_colspan")).otherwise(F.lit(1))
        .cast("int").alias("colspan"),
        F.when(covered, F.col("span_rowspan")).otherwise(F.lit(1))
        .cast("int").alias("rowspan"),
    )


def assign_cell_text(cells: DataFrame, ocr_lines: DataFrame) -> DataFrame:
    """OCR lines whose center falls inside a cell bbox become the cell's
    text (reading-order concat). Theta join refined from the media_ref
    equi key; each line lands in ≤1 cell because cells tile the table.
    Both sides are aliased, so cells and ocr_lines may derive from the
    same frame (a self-join) without an ambiguous media_ref."""
    ln = ocr_lines.select(
        "media_ref", "position", F.col("text").alias("line_text"),
        ((F.col("x1") + F.col("x2")) / 2).alias("lcx"),
        ((F.col("y1") + F.col("y2")) / 2).alias("lcy"),
    ).alias("l")
    group_cols = [c for c in cells.columns if c != "media_ref"]
    joined = cells.alias("c").hint("shuffle_hash").join(
        ln,
        (F.col("c.media_ref") == F.col("l.media_ref"))
        & (F.col("l.lcx") >= F.col("c.x1")) & (F.col("l.lcx") < F.col("c.x2"))
        & (F.col("l.lcy") >= F.col("c.y1")) & (F.col("l.lcy") < F.col("c.y2")),
        "left",
    ).select("c.*", "l.position", "l.line_text")
    return (
        joined.groupBy("media_ref", *group_cols)
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("position", "line_text"))
                    ),
                    lambda s: s["line_text"],
                ),
            ).alias("text")
        )
    )


def table_stage_from_crops(crops: DataFrame, ocr_lines: DataFrame,
                           slot: Callable = slots.surrogate_table
                           ) -> DataFrame:
    """Table crops → cells with text: slot→grid→spanning in one
    table-grain pass (fused_table_cells); only the cell-text assignment
    join stays relational — it genuinely joins a second table
    (ocr_lines). The relational chain (table_items → cell_grid →
    apply_spanning_cells) remains the library surface and the test
    oracle this pass is pinned equal to."""
    return assign_cell_text(fused_table_cells(crops, slot), ocr_lines)
