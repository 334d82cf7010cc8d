"""Layout stage: region labeling + reading position + header/footer rule.

Reference: DonutSwin encoder + autoregressive decoder emits ≤100 boxes in
reading order with top-5 label distributions
(/root/reference/surya/layout/__init__.py:111-226). The model step is one
mapInPandas slot; the header/footer re-label rule
(/root/reference/surya/layout/__init__.py:162-174) and position windowing
are pure expressions.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import schemas
from . import slots

# ImageSlicer tiling and merge rules (ref surya/settings.py:101-105,
# surya/layout/slicer.py:19-140): pages over TILE_MIN px on either axis
# split into at most MAX_TILES tiles of at least TILE_SIZE px along the
# longer axis, and cross-tile parts merge back by MERGE_TOLERANCE overlap
# with a MERGE_MARGIN expand
TILE_MIN, TILE_SIZE, MAX_TILES = 1500, 1200, 4
MERGE_TOLERANCE, MERGE_MARGIN = 0.05, 0.05
# a PageHeader/PageFooter centered between these fractions of the page
# height is relabeled (ref surya/layout/__init__.py:162-174)
HF_MIDDLE = (0.2, 0.8)

_LAYOUT_OUT = T.StructType(
    list(schemas.REGIONS)
    + [
        T.StructField("page_width", T.IntegerType(), False),
        T.StructField("page_height", T.IntegerType(), False),
    ]
)


def layout_regions(pages: DataFrame,
                   slot: Callable = slots.surrogate_layout) -> DataFrame:
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, w, h, blob in zip(
                pdf["media_ref"], pdf["width"], pdf["height"], pdf["img_bytes"]
            ):
                for d in slot(ref, int(w), int(h), bytes(blob)):
                    rows.append({
                        "media_ref": ref, **d,
                        "page_width": int(w), "page_height": int(h),
                    })
            yield pd.DataFrame(rows)

    return pages.mapInPandas(run, schema=_LAYOUT_OUT)


def relabel_headers_footers(regions: DataFrame) -> DataFrame:
    """PageHeader/PageFooter predicted in the middle 60% of the page take
    their second-best label (/root/reference/surya/layout/__init__.py:162-174).
    The top_k map makes this a pure expression: second-best = the top_k key
    with max prob among keys ≠ current label."""
    lo, hi = HF_MIDDLE
    cy = (F.col("y1") + F.col("y2")) / 2.0
    in_middle = (cy > F.col("page_height") * lo) & (
        cy < F.col("page_height") * hi
    )
    entries = F.map_entries("top_k")
    second_best = F.get(
        F.array_sort(
            F.filter(entries, lambda e: e["key"] != F.col("label")),
            lambda a, b: F.when(a["value"] > b["value"], -1)
            .when(a["value"] < b["value"], 1)
            .otherwise(0),
        ),
        0,
    )["key"]
    hf = F.col("label").isin("PageHeader", "PageFooter")
    return regions.withColumn(
        "label",
        F.when(hf & in_middle, second_best).otherwise(F.col("label")),
    )


def relabel_header_footer_record(label: str, y1: float, y2: float,
                                 page_height: float, top_k: dict) -> str:
    """Per-record replica of relabel_headers_footers for the fused page
    pass (tables.table_crop_rows): PageHeader/PageFooter centered in
    the middle 60% of the page takes its second-best top_k label. The
    relational form sorts map entries by value desc with a STABLE sort
    and takes entry 0 — equivalent to a first-strict-max scan in map
    (= dict insertion) order, replicated here so equal-probability
    alternates resolve identically on both paths."""
    if label not in ("PageHeader", "PageFooter"):
        return label
    lo, hi = HF_MIDDLE
    cy = (y1 + y2) / 2.0
    if not (cy > page_height * lo and cy < page_height * hi):
        return label
    best_k, best_v = None, None
    for k, v in top_k.items():
        if k == label:
            continue
        if best_v is None or v > best_v:
            best_k, best_v = k, v
    return best_k if best_k is not None else label


def position_regions(regions: DataFrame) -> DataFrame:
    """Reading-order position pinned to explicit keys: model emit order,
    tie-broken by geometry (/root/reference/surya/layout/__init__.py:196-209)."""
    w = Window.partitionBy("media_ref").orderBy("emit_idx", "y1", "x1")
    return regions.withColumn("position", F.row_number().over(w))


def stitch_positions(tiled: DataFrame) -> DataFrame:
    """Slicer re-join: regions decoded per tile get global reading-order
    positions by offsetting each tile's emit indices (emit_idx) with the
    cumulative count of earlier tiles (tile_idx) of the page (media_ref)
    (/root/reference/surya/layout/slicer.py:89-116). One window, no
    Python."""
    # cumulative emitted-before-this-tile count
    counts = tiled.groupBy("media_ref", "tile_idx").agg(
        F.count(F.lit(1)).alias("_n_tile"))
    w_cum = Window.partitionBy("media_ref").orderBy("tile_idx").rowsBetween(
        Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "_offset", F.coalesce(F.sum("_n_tile").over(w_cum), F.lit(0)))
    return (
        tiled.join(offsets.select("media_ref", "tile_idx", "_offset")
                   .hint("shuffle_hash"),  # corpus-derived side, never
                   ["media_ref", "tile_idx"])  # driver-broadcast (BENCH.md 7)
        .withColumn("position",
                    (F.col("emit_idx") + F.col("_offset") + 1).cast("int"))
        .drop("_offset")
    )


_TILED_OUT = T.StructType(
    list(_LAYOUT_OUT)
    + [
        T.StructField("tile_idx", T.IntegerType(), False),
        T.StructField("merge_dir", T.StringType(), False),
    ]
)


def page_tile_plan(w: int, h: int) -> tuple[bool, int, int]:
    """Tile geometry shared by the relational splitter and the fused
    page pass (tables.table_crop_rows): split along the longer axis
    when either dimension exceeds TILE_MIN, step sized so at most
    MAX_TILES tiles result (ref surya/layout/slicer.py:19-38,
    settings.py:101-105). Returns (along_h, step, n_tiles); n_tiles is
    1 exactly when neither dimension exceeds TILE_MIN."""
    import math

    along_h = h >= w
    dim = h if along_h else w
    if max(w, h) <= TILE_MIN:
        return along_h, dim, 1
    step = max(TILE_SIZE, dim // MAX_TILES + 1)
    return along_h, step, math.ceil(dim / step)


def tile_sub_blob(desc: dict, w: int, h: int, along_h: bool,
                  o: int, t_end: int) -> tuple[int, int, bytes]:
    """One tile's sub-page blob: regions clipped to [o, t_end) along the
    split axis and shifted into tile coordinates — what a per-tile model
    would see (ref surya/layout/slicer.py:39-66). Returns
    (tile_w, tile_h, blob)."""
    from ..datagen import encode_page

    tw = w if along_h else (t_end - o)
    th = (t_end - o) if along_h else h
    sub_regions = []
    for r in desc.get("regions", []):
        x1, y1, x2, y2 = (float(v) for v in r["bbox"])
        lo, hi = (y1, y2) if along_h else (x1, x2)
        c_lo, c_hi = max(lo, o), min(hi, t_end)
        if c_hi <= c_lo:
            continue  # no intersection with this tile
        if along_h:
            bb = [x1, c_lo - o, x2, c_hi - o]
        else:
            bb = [c_lo - o, y1, c_hi - o, y2]
        sub_regions.append({**r, "bbox": bb})
    sub = {"w": tw, "h": th, "regions": sub_regions,
           "lines": [], "table": None}
    return tw, th, encode_page(sub)


def tile_slot_records(ref: str, w: int, h: int, desc: dict,
                      slot: Callable, along_h: bool, step: int,
                      n_tiles: int) -> list[dict]:
    """The layout slot run per tile of a page (page_tile_plan geometry):
    each tile's sub-blob goes to the slot as media ref "<ref>#t<i>", and
    the regions come back shifted into page coordinates and tagged with
    tile_idx, in tile order. Shared by the relational splitter and the
    page pass (tables.table_crop_rows); takes the decoded page so the
    caller owns the decode."""
    dim = h if along_h else w
    recs = []
    for ti in range(n_tiles):
        o = ti * step
        tw, th, sub_blob = tile_sub_blob(
            desc, w, h, along_h, o, min(o + step, dim))
        dx, dy = (0, o) if along_h else (o, 0)
        recs.extend(
            {**d,
             "x1": d["x1"] + dx, "y1": d["y1"] + dy,
             "x2": d["x2"] + dx, "y2": d["y2"] + dy,
             "tile_idx": ti}
            for d in slot(f"{ref}#t{ti}", tw, th, sub_blob))
    return recs


def split_layout_regions(pages: DataFrame,
                         slot: Callable = slots.surrogate_layout
                         ) -> DataFrame:
    """Layout tile pre-split: pages larger than TILE_MIN px on either axis
    are exploded into ≤MAX_TILES tiles along the LONGER axis, the layout
    slot runs per tile (bounding its activation budget no matter how tall
    the page), and results are shifted back into page coordinates tagged
    with tile_idx — the reference ImageSlicer.slice
    (/root/reference/surya/layout/slicer.py:19-66, settings.py:101-105)
    re-expressed as flatMap → infer → relational re-key. Small pages pass
    through as one tile with zero extra cost.

    Regions intersecting a tile appear clipped to it (what a per-tile
    model would emit); merge_tile_regions reunites the parts."""
    from ..datagen import decode_page

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, w, h, blob in zip(
                pdf["media_ref"], pdf["width"], pdf["height"], pdf["img_bytes"]
            ):
                w, h = int(w), int(h)
                along_h, step, n_tiles = page_tile_plan(w, h)
                if n_tiles == 1:
                    # fast path: no re-encode — the slot sees the original
                    # blob, so small pages cost exactly what layout_regions
                    # costs (zlib re-compression per tile is the splitter's
                    # only per-page overhead)
                    for d in slot(ref, w, h, bytes(blob)):
                        rows.append({
                            "media_ref": ref, **d,
                            "page_width": w, "page_height": h,
                            "tile_idx": 0,
                            "merge_dir": "height" if along_h else "width",
                        })
                    continue
                desc = decode_page(bytes(blob))
                rows.extend(
                    {"media_ref": ref, **r,
                     "page_width": w, "page_height": h,
                     "merge_dir": "height" if along_h else "width"}
                    for r in tile_slot_records(ref, w, h, desc, slot,
                                               along_h, step, n_tiles))
            yield pd.DataFrame(rows)

    return pages.mapInPandas(run, schema=_TILED_OUT)


def try_merge_tile_region(box1: dict, rec: dict, along_h: bool) -> bool:
    """The slicer merge rule for ONE (kept, candidate) pair
    (/root/reference/surya/layout/slicer.py:68-140): margin-expanded
    along-axis overlap area vs either box's area, more-than-half
    cross-axis overlap, matching labels (Picture/Figure interchangeable).
    On success box1 grows to the bbox union IN PLACE and True returns.
    Shared by the relational merge_tile_regions and the fused page-grain
    pass (tables.table_crop_rows) so the two paths cannot drift."""
    w1, h1 = box1["x2"] - box1["x1"], box1["y2"] - box1["y1"]
    w2, h2 = rec["x2"] - rec["x1"], rec["y2"] - rec["y1"]
    if along_h:
        m = int(min(h1, h2) * MERGE_MARGIN)
        ov = (min(box1["y2"] + m, rec["y2"] + m)
              - max(box1["y1"] - m, rec["y1"] - m))
        inter = max(0.0, ov) * max(
            0.0, min(box1["x2"], rec["x2"]) - max(box1["x1"], rec["x1"]))
        cross = max(0.0, min(box1["x2"], rec["x2"])
                    - max(box1["x1"], rec["x1"]))
        half = cross > w1 // 2 or cross > w2 // 2
    else:
        m = int(min(w1, w2) * MERGE_MARGIN)
        ov = (min(box1["x2"] + m, rec["x2"] + m)
              - max(box1["x1"] - m, rec["x1"] - m))
        inter = max(0.0, ov) * max(
            0.0, min(box1["y2"], rec["y2"]) - max(box1["y1"], rec["y1"]))
        cross = max(0.0, min(box1["y2"], rec["y2"])
                    - max(box1["y1"], rec["y1"]))
        half = cross > h1 // 2 or cross > h2 // 2
    a1, a2 = w1 * h1, w2 * h2
    pct = max(inter / a1 if a1 > 0 else 0.0,
              inter / a2 if a2 > 0 else 0.0)
    pics = {"Picture", "Figure"}
    lbl = (box1["label"] == rec["label"]
           or (box1["label"] in pics and rec["label"] in pics))
    if pct > MERGE_TOLERANCE and half and lbl:
        box1["x1"] = min(box1["x1"], rec["x1"])
        box1["y1"] = min(box1["y1"], rec["y1"])
        box1["x2"] = max(box1["x2"], rec["x2"])
        box1["y2"] = max(box1["y2"], rec["y2"])
        return True
    return False


def accumulate_tile_merges(recs: list, along_h: bool) -> list:
    """Sequential first-match-wins merge accumulation over records in
    stitched order (tile_idx, then within-tile position): tile 0's boxes
    are accumulated verbatim, later tiles' boxes merge into the first
    kept box that satisfies try_merge_tile_region or are appended.
    Shared by merge_tile_regions and tables.table_crop_rows — the
    accumulation rule itself, like the pairwise merge rule, must be a
    single implementation so the two paths cannot drift."""
    kept: list = []
    for rec in recs:
        merged = False
        if rec["tile_idx"] > 0:
            for box1 in kept:
                if try_merge_tile_region(box1, rec, along_h):
                    merged = True
                    break
        if not merged:
            kept.append(rec)
    return kept


def merge_tile_regions(tiled: DataFrame) -> DataFrame:
    """Slicer join/merge rules (/root/reference/surya/layout/slicer.py:68-140):
    a region from tile t merges into an accumulated region when (a) either
    direction's intersection_pct with a MERGE_MARGIN margin exceeds
    MERGE_TOLERANCE, (b) cross-axis overlap exceeds half of either box's
    extent, and (c) the labels match (Picture/Figure interchangeable).
    Merged = bbox union; the later tile's box is dropped. Sequential
    accumulation per page is inherently ordered → applyInPandas per
    media_ref (≤100 regions/page, trivial group work; the shuffle key is
    the page — scales)."""
    out_schema = tiled.drop("tile_idx", "merge_dir").schema

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["tile_idx", "position"], kind="mergesort")
        # merge_dir is a per-page constant (set by the splitter)
        along_h = pdf["merge_dir"].iloc[0] == "height"
        kept = accumulate_tile_merges(pdf.to_dict("records"), along_h)
        for rec in kept:
            rec.pop("tile_idx", None)
            rec.pop("merge_dir", None)
        return pd.DataFrame(kept, columns=[f.name for f in out_schema])

    return tiled.groupBy("media_ref").applyInPandas(merge_group, out_schema)


def layout_stage(pages: DataFrame,
                 slot: Callable = slots.surrogate_layout) -> DataFrame:
    return position_regions(relabel_headers_footers(layout_regions(pages, slot)))


def layout_stage_tiled(pages: DataFrame,
                       slot: Callable = slots.surrogate_layout) -> DataFrame:
    """layout_stage with the big-page tile pre-split: oversize pages go
    split → per-tile slot → global positions (stitch_positions) →
    cross-tile merge; pages within the threshold take the plain
    layout_regions path — no stitch join, no merge applyInPandas, zero
    extra shuffles for the ~95% of pages that don't need tiling (TILE_MIN
    on both axes). The two branches union before the header/footer
    relabel."""
    ok = (F.col("width") <= TILE_MIN) & (F.col("height") <= TILE_MIN)
    small = position_regions(layout_regions(pages.filter(ok), slot))
    tiled = split_layout_regions(pages.filter(~ok), slot)
    merged = merge_tile_regions(stitch_positions(tiled))
    cols = small.columns
    return relabel_headers_footers(
        small.unionByName(merged.select(*cols)))
