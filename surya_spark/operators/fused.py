"""The page pass: one mapInPandas over pages that does all the work
keyed by a single page.

fused_page_items is the pass every production path runs
(pipeline.extract with or without tables, its dual-DPI variant,
checkpointed_extract, and through extract the streaming ingest and the
CLI extract/ocr stages). For each Arrow batch of pages it first runs the
line geometry of the whole batch (recognition.batch_line_crops): the
detect slot once per page, then containment clean, expand, reading
order and crop visibility as one numpy program over all the batch's
lines. Then, per page, it recognizes the page's line crops in one slot
call; runs layout and cuts the table crops (tables.page_table_crops)
and turns each into cells (tables.crop_cells); then assigns line text
to cells and packs the span items (assemble.page_items). Engine
geometry runs per batch, slots per page. Only those small
(media_ref, sub_order, kind, text) rows leave the pass — no crop is
persisted or shuffled, and the relational chain's crop union, recognize
pass, cell pass, cell-text theta join and free-line anti-join (all
page-local work) are gone from the plan. Crops never leave the pass
either, so they are never serialized: each slot gets the in-memory crop
(slots.crop_payloads / table_crop_payload).

fused_all_crops is the crop-level library surface of the same pass (the
CLI `--stage table` and `--render-html`, the crop-parity tests): the
tagged union of line and table crops, serialized to crop_bytes
(slots.pack_crop) because there they become Spark rows. Both passes
run one helper, _page_crops, so the two passes cannot drift; the
per-page entry point recognition.page_crop_rows is a one-page batch of
the same geometry.

Decodes: the line geometry decodes each page with lines once and hands
that desc to the table kernel (on the dual-DPI path it decodes the 2×
render instead), but each surrogate slot (detect, layout) decodes the
page blob itself, so a page is decoded about three times.

Parity: the tests pin fused_all_crops' crops byte-identical to the
relational chain (detection_stage → order_lines → slice_crops, and
table_crops(layout_stage_tiled(pages), pages)) and fused_page_items'
items equal to that chain's recognize ∥ table_items → cell_grid /
apply_spanning_cells → assign_cell_text → assemble.stage_items, and
both passes' output independent of where a batch boundary falls.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..datagen import BAND
from . import assemble, recognition, slots, tables

_ALL_CROPS = T.StructType([
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("crop_kind", T.StringType(), False),  # 'line' | 'table'
    T.StructField("line_idx", T.IntegerType(), True),
    T.StructField("position", T.IntegerType(), True),
    T.StructField("table_idx", T.IntegerType(), True),
    T.StructField("x1", T.DoubleType(), False),
    T.StructField("y1", T.DoubleType(), False),
    T.StructField("x2", T.DoubleType(), False),
    T.StructField("y2", T.DoubleType(), False),
    T.StructField("crop_bytes", T.BinaryType(), False),
    T.StructField("res_x", T.DoubleType(), True),
    T.StructField("res_y", T.DoubleType(), True),
])


def _page_crops(pdf: pd.DataFrame, detect_slot: Callable,
                layout_slot: Callable | None) -> Iterator[tuple]:
    """Yield (media_ref, line_rows, table_rows) for each page of one
    Arrow batch, every row with its in-memory `crop`: first the line
    geometry of the whole batch (recognition.batch_line_crops), then per
    page, unless layout_slot is None, tables.page_table_crops on the
    desc the line geometry decoded, so each page is decoded at most once
    between them.
    A batch that carries the paired 2× render (hr_bytes, hr_width,
    hr_height; pipeline.paired_pages) takes its line crops from it,
    rescaled by the same expression as slice_crops' SQL:
    double(hr)/double(lo)."""
    highres = "hr_bytes" in pdf.columns
    refs = pdf["media_ref"].tolist()
    widths = [int(w) for w in pdf["width"]]
    heights = [int(h) for h in pdf["height"]]
    blobs = [bytes(b) for b in pdf["img_bytes"]]
    line_rows, descs = recognition.batch_line_crops(
        refs, widths, heights, blobs, detect_slot, float(BAND),
        hr_blobs=[bytes(b) for b in pdf["hr_bytes"]] if highres else None,
        hr_scales=[(float(hw) / float(w), float(hh) / float(h))
                   for hw, hh, w, h in zip(pdf["hr_width"],
                                           pdf["hr_height"], widths,
                                           heights)] if highres else None)
    for i, ref in enumerate(refs):
        if layout_slot is None:  # caller skips the table family
            t_rows = []
        else:
            t_rows, _ = tables.page_table_crops(
                ref, widths[i], heights[i], blobs[i], layout_slot,
                desc=descs[i])
        yield ref, line_rows[i], t_rows


def fused_all_crops(pages: DataFrame,
                    detect_slot: Callable = slots.surrogate_detect,
                    layout_slot: Callable | None = slots.surrogate_layout
                    ) -> DataFrame:
    """pages → tagged union of recognition crops (crop_kind='line', the
    rows page_crop_rows emits for each page) and table crops
    (crop_kind='table', the rows table_crop_rows emits). layout_slot=None
    skips the table family.

    When `pages` carries the 2× render (hr_bytes, hr_width, hr_height —
    equi-joined on media_ref BEFORE this pass by pipeline.paired_pages),
    line crops are encoded from the highres blob with reference
    int-truncation rescaling (page_crop_rows' dual-DPI path); detection,
    layout and table crops stay on the lowres blob exactly like the
    relational slice_crops(highres_pages=) chain."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, line_rows, t_rows in _page_crops(
                    pdf, detect_slot, layout_slot):
                for r in line_rows:
                    rows.append({
                        "media_ref": r["media_ref"], "crop_kind": "line",
                        "line_idx": r["line_idx"],
                        "position": r["position"], "table_idx": None,
                        "x1": r["x1"], "y1": r["y1"],
                        "x2": r["x2"], "y2": r["y2"],
                        "crop_bytes": slots.pack_crop(r["crop"]),
                        "res_x": r["res_x"], "res_y": r["res_y"],
                    })
                for r in t_rows:
                    rows.append({
                        "media_ref": r["media_ref"], "crop_kind": "table",
                        "line_idx": None, "position": None,
                        "table_idx": r["table_idx"],
                        "x1": r["x1"], "y1": r["y1"],
                        "x2": r["x2"], "y2": r["y2"],
                        "crop_bytes": slots.pack_crop(r["crop"]),
                        "res_x": None, "res_y": None,
                    })
            yield pd.DataFrame(rows)

    return pages.mapInPandas(run, schema=_ALL_CROPS)


def fused_page_items(
        pages: DataFrame,
        detect_slot: Callable = slots.surrogate_detect,
        recognize_slot: Callable = slots.surrogate_recognize_batch,
        layout_slot: Callable | None = slots.surrogate_layout,
        table_slot: Callable = slots.surrogate_table) -> DataFrame:
    """pages → span items (media_ref, sub_order, kind, text): the crops
    of _page_crops in their in-memory form (batch_line_crops,
    page_table_crops); one recognize_slot call per page with lines, on
    the page's line crops in reading order (recognize's contract, task
    'ocr_with_boxes' for each; the slot builds its chars, span assembly
    keeps only the text); each table crop through tables.crop_cells;
    then assemble.page_items. Neither slot is ever handed bytes here.
    layout_slot=None skips tables (every line is a free line); pages
    carrying the 2× render are read as fused_all_crops reads them.

    Scale: one pass over pages, zero exchanges; per-page work is bounded
    by the page's lines and tables (cell-text assignment is
    O(cells × lines) per page)."""
    def page_pass(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            items = []
            for ref, line_rows, t_rows in _page_crops(
                    pdf, detect_slot, layout_slot):
                results = recognition._recognize_batch(
                    recognize_slot, [r["crop"] for r in line_rows],
                    ["ocr_with_boxes"] * len(line_rows)) if line_rows else []
                lines = [{**r, "text": recognition.line_text(res)}
                         for r, res in zip(line_rows, results)]
                cells = [
                    {"table_idx": t["table_idx"], **cell}
                    for t in t_rows
                    for cell in tables.crop_cells(
                        t["crop"], t["x1"], t["y1"], table_slot)
                ]
                items.extend(assemble.page_items(ref, lines, cells))
            yield pd.DataFrame(items, columns=assemble.ITEMS.fieldNames())

    return pages.mapInPandas(page_pass, schema=assemble.ITEMS)


def line_crops(all_crops: DataFrame) -> DataFrame:
    """The recognition-crop view of the union — same columns
    recognition.slice_crops emits."""
    return all_crops.filter(F.col("crop_kind") == "line").select(
        "media_ref",
        F.col("line_idx").cast("int").alias("line_idx"),
        F.col("position").cast("int").alias("position"),
        "x1", "y1", "x2", "y2", "crop_bytes", "res_x", "res_y",
    )


def table_crops(all_crops: DataFrame) -> DataFrame:
    """The table-crop view of the union — same columns tables.table_crops
    emits."""
    return all_crops.filter(F.col("crop_kind") == "table").select(
        "media_ref",
        F.col("table_idx").cast("int").alias("table_idx"),
        "x1", "y1", "x2", "y2", "crop_bytes",
    )
