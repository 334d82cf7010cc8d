"""Combined page pass: detect→order→slice AND layout→table-crop in ONE
mapInPandas over pages, sharing a single zlib page decode — the one
extraction plan every production path runs (pipeline.extract with or
without tables, its dual-DPI variant, checkpointed_extract and the CLI
extract/ocr/table stages).

Emitting both crop families from one pass

  * decodes each page at most once in the kernels (they thread the
    decoded page through `desc`),
  * scans the blob bytes once, and
  * needs no pages persist — pages has a single consumer, so the full
    corpus's raw page blobs are never cached. At the 100-TB design
    point that persist would be the pipeline's largest cache footprint
    (raw bytes of every page); the much smaller crop union is persisted
    instead when it feeds recognize AND the table stage.

Parity: the per-page kernels are recognition.page_crop_rows and
tables.table_crop_rows, and the tests pin the tagged union
byte-identical to the relational chain (detection_stage → order_lines
→ slice_crops, and table_crops(layout_stage_tiled(pages), pages)),
which remains the library surface for callers that need an
intermediate table.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import recognition, slots, tables

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


def fused_all_crops(pages: DataFrame,
                    detect_slot: Callable = None,
                    layout_slot: Callable = slots.surrogate_layout,
                    band: float | None = None,
                    highres: bool = False) -> DataFrame:
    """pages → tagged union of recognition crops (crop_kind='line', the
    rows page_crop_rows emits) and table crops (crop_kind='table', the
    rows table_crop_rows emits), one decode per page. layout_slot=None
    skips the table family.

    highres=True: `pages` must additionally carry (hr_bytes, hr_width,
    hr_height) — the 2× render equi-joined on media_ref BEFORE this pass
    (pipeline.paired_pages). Line crops are then encoded from the
    highres blob with reference int-truncation rescaling
    (page_crop_rows' dual-DPI path); detection, layout and table crops
    stay on the lowres blob exactly like the relational
    slice_crops(highres_pages=) chain."""
    from ..datagen import BAND as _BAND

    if detect_slot is None:
        detect_slot = slots.surrogate_detect
    band_v = float(_BAND) if band is None else float(band)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            hb = pdf["hr_bytes"] if highres else [None] * len(pdf)
            hw = pdf["hr_width"] if highres else [0] * len(pdf)
            hh = pdf["hr_height"] if highres else [0] * len(pdf)
            for ref, w, h, blob, hrb, hrw, hrh in zip(
                pdf["media_ref"], pdf["width"], pdf["height"],
                pdf["img_bytes"], hb, hw, hh,
            ):
                w, h = int(w), int(h)
                blob = bytes(blob)
                if highres:
                    # same scale expression as slice_crops' SQL:
                    # double(hr)/double(lo)
                    scale = (float(hrw) / float(w), float(hrh) / float(h))
                    line_rows, desc = recognition.page_crop_rows(
                        ref, w, h, blob, detect_slot, band_v,
                        hr_blob=bytes(hrb), hr_scale=scale)
                else:
                    line_rows, desc = recognition.page_crop_rows(
                        ref, w, h, blob, detect_slot, band_v)
                if layout_slot is None:  # caller skips the table family
                    t_rows = []
                else:
                    t_rows, desc = tables.table_crop_rows(
                        ref, w, h, blob, layout_slot, desc=desc)
                for r in line_rows:
                    rows.append({
                        "media_ref": r["media_ref"], "crop_kind": "line",
                        "line_idx": r["line_idx"],
                        "position": r["position"], "table_idx": None,
                        "x1": r["x1"], "y1": r["y1"],
                        "x2": r["x2"], "y2": r["y2"],
                        "crop_bytes": r["crop_bytes"],
                        "res_x": r["res_x"], "res_y": r["res_y"],
                    })
                for r in t_rows:
                    rows.append({
                        "media_ref": r["media_ref"], "crop_kind": "table",
                        "line_idx": None, "position": None,
                        "table_idx": r["table_idx"],
                        "x1": r["x1"], "y1": r["y1"],
                        "x2": r["x2"], "y2": r["y2"],
                        "crop_bytes": r["crop_bytes"],
                        "res_x": None, "res_y": None,
                    })
            yield pd.DataFrame(rows) if rows else pd.DataFrame(
                {f.name: pd.Series([], dtype=object) for f in _ALL_CROPS})

    return pages.mapInPandas(run, schema=_ALL_CROPS)


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
