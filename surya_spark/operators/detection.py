"""Text-line detection stage + relational post-processing.

The reference pipeline: segmentation model → CRAFT polygonization →
rescale → clean contained boxes → 5% y-expand → confidence normalization
(/root/reference/surya/detection/__init__.py:27-155,
 /root/reference/surya/detection/heatmap.py:43-184,
 /root/reference/surya/common/util.py:9-36).

Spark shape: the model+polygonize step is one mapInPandas slot over page
blobs (Arrow-batched, image bytes never shuffled again after this stage).
Post-processing has two forms pinned equal: postprocess_lines, one numpy
program over a whole Arrow batch's lines inside that UDF (the page pass
and detection_stage), and the relational library form — the containment
filter is a LEFT ANTI self-join within a page, expansion/normalization
are column expressions and a window.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import schemas
from ..functions import geometry as G
from ..plans.partitioning import DETECTOR_CHUNK_PX
from . import slots

# non-vertical boxes grow by this fraction of their height at top and
# bottom; a box at least VERTICAL_RATIO times taller than wide is
# vertical and left as is (ref surya/detection/heatmap.py:169-175,
# settings.py:73-75)
Y_EXPAND_PCT = 0.05
VERTICAL_RATIO = 3

_DETECT_OUT = T.StructType(
    list(schemas.LINES)
    + [
        T.StructField("page_width", T.IntegerType(), False),
        T.StructField("page_height", T.IntegerType(), False),
    ]
)


def _containment_keep(x1, y1, x2, y2, ids, block_elems: int = 8_000_000,
                      page=None):
    """Vectorized containment survivor mask over one page or a batch of
    pages: drop box i if some box j of the same page with strictly larger
    area (area tie → lower id) bbox-contains it, or if area(i) <= 0.
    page holds each box's page key (None: all boxes are one page); ids
    need to be distinct only within a page. The shared kernel behind
    postprocess_lines (one call per Arrow batch) and
    clean_contained_boxes_kernel (one call per page group).

    Pruning, per page: boxes are taken in x1 order and a container j
    is tested only against the boxes with x1 ∈ [x1ⱼ, x1ⱼ + max_width],
    max_width being the widest box of ITS page — a box i that j contains
    has x1ⱼ ≤ x1ᵢ < x2ᵢ ≤ x2ⱼ ≤ x1ⱼ + max_width. With bench-shaped boxes
    (width ≤ 124 over a 900-px page) that window holds ~15% of the page.
    The derivation needs x1ᵢ < x2ᵢ, which inverted boxes (x2 < x1,
    possibly positive area) violate, so a page holding one tests its
    containers against the whole page (never on sane detector output).
    The evaluated predicate — and so the mask — is the brute-force
    all-pairs one.

    Memory guard: the candidate (container, box)
    pairs are evaluated in blocks of at most block_elems pairs (~8 MB of
    bool each), so peak memory stays O(block_elems + n) however many
    boxes a page holds."""
    n = x1.shape[0]
    area = (x2 - x1) * (y2 - y1)
    if n == 0:
        return np.zeros(0, dtype=bool)
    pg = np.zeros(n, dtype=np.int64) if page is None else np.asarray(page)
    order = np.lexsort((x1, pg))
    sx1, sy1, sx2, sy2 = x1[order], y1[order], x2[order], y2[order]
    sids, sarea, spg = ids[order], area[order], pg[order]
    new_page = np.r_[True, spg[1:] != spg[:-1]]
    starts = np.flatnonzero(new_page)
    seg = np.cumsum(new_page) - 1  # page segment of each sorted box
    ends = np.r_[starts[1:], n]
    idx = np.arange(n)
    # window start: the first box of the container's x1 tie run
    lo = np.maximum.accumulate(np.where(
        new_page | np.r_[True, sx1[1:] != sx1[:-1]], idx, 0))
    # window end: one past the page's last box with x1 <= x1ⱼ + max_width
    # — merge these queries into the (page, x1) order, boxes before
    # queries on ties; queries keep their own order, so query j lands
    # at rank j + (boxes at or before it)
    reach = sx1 + np.maximum.reduceat(sx2 - sx1, starts)[seg]
    merged = np.lexsort((np.r_[np.zeros(n, bool), np.ones(n, bool)],
                         np.r_[sx1, reach], np.r_[seg, seg]))
    rank = np.empty(2 * n, dtype=np.int64)
    rank[merged] = np.arange(2 * n)
    hi = rank[n:] - idx
    inverted = np.logical_or.reduceat(sx2 < sx1, starts)[seg]
    lo = np.where(inverted, starts[seg], lo)
    hi = np.where(inverted, ends[seg], hi)
    counts = hi - lo
    last = np.cumsum(counts)  # one past each container's last pair
    first = last - counts
    contained_s = np.zeros(n, dtype=bool)
    for p0 in range(0, int(last[-1]), block_elems):
        p1 = min(int(last[-1]), p0 + block_elems)
        r0 = int(np.searchsorted(last, p0, side="right"))
        r1 = int(np.searchsorted(last, p1 - 1, side="right")) + 1
        c = counts[r0:r1]
        j = np.repeat(idx[r0:r1], c)  # container
        i = np.arange(first[r0], last[r1 - 1]) + np.repeat(
            lo[r0:r1] - first[r0:r1], c)  # candidate contained box
        cut = slice(p0 - first[r0], p1 - first[r0])
        j, i = j[cut], i[cut]
        aj, ai, dj, di = sarea[j], sarea[i], sids[j], sids[i]
        hit = ((sx1[j] <= sx1[i]) & (sy1[j] <= sy1[i])
               & (sx2[j] >= sx2[i]) & (sy2[j] >= sy2[i]) & (dj != di)
               & ((aj > ai) | ((aj == ai) & (dj < di))))
        contained_s[i[hit]] = True
    contained = np.zeros(n, dtype=bool)
    contained[order] = contained_s
    return ~(contained | (area <= 0))


def slot_lines(outs: list, y0=None) -> dict:
    """Detect-slot outputs, one list per slot call, → line columns: call
    (index into outs), line_idx (emission index within the call),
    polygon (n, 4, 2) shifted down by its call's y0 (a chunk's page
    offset), its bbox x1..y2 (corner min/max) and confidence. The one
    slot → line rule of detect_lines, split_detect_lines and the page
    pass (recognition.batch_line_crops). A slot emits 4-corner
    polygons."""
    counts = np.array([len(o) for o in outs], dtype=np.int64)
    call = np.repeat(np.arange(len(outs)), counts)
    flat = [d for o in outs for d in o]
    poly = np.array([d["polygon"] for d in flat],
                    dtype=float).reshape(-1, 4, 2)
    if y0 is not None:
        dy = np.asarray(y0)[call][:, None]
        poly[:, :, 1] = np.where(dy != 0, poly[:, :, 1] + dy, poly[:, :, 1])
    xs, ys = poly[:, :, 0], poly[:, :, 1]
    return {
        "call": call,
        "line_idx": np.arange(call.size) - np.repeat(
            np.cumsum(counts) - counts, counts),
        "polygon": poly,
        "x1": xs.min(axis=1), "y1": ys.min(axis=1),
        "x2": xs.max(axis=1), "y2": ys.max(axis=1),
        "confidence": np.array([d["confidence"] for d in flat],
                               dtype=float),
    }


def postprocess_lines(lines: dict, page, page_w, page_h) -> dict:
    """Detection post-process of a whole Arrow batch of pages' lines
    (slot_lines columns; page = each line's index into page_w/page_h):
    containment clean per page + 5% y-expand clamped to the page +
    per-page max-confidence normalization — numerically identical to
    clean_contained_boxes → expand_and_normalize, but run where the rows
    already sit (inside the detect UDF), so the anti-join and window
    shuffles disappear from the flagship plan, and run once per batch,
    so per-call numpy overhead is paid once, not once per page.
    Returns the surviving lines' columns (with "page"), in input order.

    The slot's POLYGON survives: skewed minAreaRect quads from CRAFT
    output (ref surya/detection/heatmap.py:83-103) keep their corners —
    containment stays bbox-based exactly like the reference's clean_boxes
    (ref surya/common/util.py:9-36 compares PolygonBox.bbox), expansion
    is CORNERWISE by index (top corners 0,1 get −dy, bottom corners 2,3
    get +dy; ref surya/common/polygon.py:100-113 PolygonBox.expand) with
    each corner clamped to the page (fit_to_bounds, polygon.py:76-81),
    and the bbox is recomputed as the min/max of the expanded corners
    (bbox is a derived property of the polygon in the reference). Float
    arithmetic throughout — the engine's established contract; the
    reference's int() truncation in expand() is a rasterization detail
    its own crop code re-truncates anyway. A page whose surviving
    confidences are all ≤ 0 keeps them as they are (no 0/0)."""
    keep = _containment_keep(lines["x1"], lines["y1"], lines["x2"],
                             lines["y2"], lines["line_idx"], page=page)
    page = np.asarray(page)[keep]
    P = lines["polygon"][keep]
    x1, y1 = lines["x1"][keep], lines["y1"][keep]
    x2, y2 = lines["x2"][keep], lines["y2"][keep]
    # vertical boxes skip expand AND clamp, per reference
    # (parallel_get_boxes only expands/fits non-vertical boxes)
    vertical = ((y2 - y1) >= VERTICAL_RATIO * (x2 - x1))[:, None]
    dy = ((y2 - y1) * Y_EXPAND_PCT)[:, None]
    ny = P[:, :, 1].copy()
    ny[:, 0:2] -= dy
    ny[:, 2:4] += dy
    nx = np.clip(P[:, :, 0], 0.0, np.asarray(page_w, float)[page][:, None])
    ny = np.clip(ny, 0.0, np.asarray(page_h, float)[page][:, None])
    nx = np.where(vertical, P[:, :, 0], nx)
    ny = np.where(vertical, P[:, :, 1], ny)
    conf = lines["confidence"][keep]
    cmax = np.full(len(page_w), -np.inf)
    np.maximum.at(cmax, page, conf)
    cmax = cmax[page]
    return {
        "page": page, "line_idx": lines["line_idx"][keep],
        "polygon": np.stack([nx, ny], axis=2),
        "x1": nx.min(axis=1), "y1": ny.min(axis=1),
        "x2": nx.max(axis=1), "y2": ny.max(axis=1),
        "confidence": np.divide(conf, cmax, out=conf.copy(),
                                where=cmax > 0),
    }


def _lines_frame(lines: dict, page, refs, widths, heights) -> pd.DataFrame:
    """Line columns (page = index into refs/widths/heights) → the
    _DETECT_OUT frame."""
    return pd.DataFrame({
        "media_ref": refs[page], "line_idx": lines["line_idx"],
        "polygon": lines["polygon"].tolist(),
        "x1": lines["x1"], "y1": lines["y1"],
        "x2": lines["x2"], "y2": lines["y2"],
        "confidence": lines["confidence"],
        "page_width": widths[page], "page_height": heights[page],
    })


def detect_lines(pages: DataFrame,
                 slot: Callable = slots.surrogate_detect,
                 postprocess: bool = False) -> DataFrame:
    """page_blobs → detected lines (noisy, unordered, may contain
    duplicates). One Arrow batch of pages in, exploded lines out: the
    slot runs once per page, postprocess=True then cleans, expands and
    normalizes the whole batch's lines in one postprocess_lines call."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            refs = pdf["media_ref"].to_numpy()
            widths = pdf["width"].to_numpy(np.int64)
            heights = pdf["height"].to_numpy(np.int64)
            lines = slot_lines([
                slot(ref, int(w), int(h), bytes(blob))
                for ref, w, h, blob in zip(refs, widths, heights,
                                           pdf["img_bytes"])])
            page = lines["call"]
            if postprocess:
                lines = postprocess_lines(lines, page, widths, heights)
                page = lines["page"]
            yield _lines_frame(lines, page, refs, widths, heights)

    return pages.mapInPandas(run, schema=_DETECT_OUT)


def split_detect_lines(pages: DataFrame,
                       slot: Callable = slots.surrogate_detect,
                       postprocess: bool = False) -> DataFrame:
    """Chunked detection for tall pages: explode each page into
    ≤DETECTOR_CHUNK_PX vertical slices, run the detector per slice, shift
    results back and re-stitch — the reference's vertical split +
    heatmap stitch (ref surya/detection/util.py:7-36,
    surya/detection/__init__.py:134-151) re-expressed as
    flatMap → infer → relational re-key. Bounds the per-item activation
    footprint no matter how tall the page is; short pages pass through as
    a single slice with zero extra cost.

    Truth lines are assigned to the slice containing their y-center, so
    stitching is a union + window re-key, not a merge heuristic."""
    import math

    from ..datagen import decode_page, encode_page

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            refs = pdf["media_ref"].to_numpy()
            widths = pdf["width"].to_numpy(np.int64)
            heights = pdf["height"].to_numpy(np.int64)
            outs, call_page, call_chunk = [], [], []
            for p, (ref, w, h, blob) in enumerate(
                    zip(refs, widths, heights, pdf["img_bytes"])):
                desc = decode_page(bytes(blob))
                n_chunks = max(1, math.ceil(int(h) / DETECTOR_CHUNK_PX))
                for ci in range(n_chunks):
                    y0 = ci * DETECTOR_CHUNK_PX
                    ch = min(DETECTOR_CHUNK_PX, int(h) - y0)
                    sub_lines = []
                    for ln in desc["lines"]:
                        cy = (ln["bbox"][1] + ln["bbox"][3]) / 2.0
                        if y0 <= cy < y0 + DETECTOR_CHUNK_PX:
                            b = ln["bbox"]
                            sub_lines.append({
                                "bbox": [b[0], b[1] - y0, b[2], b[3] - y0],
                                "text": ln["text"],
                            })
                    sub_blob = encode_page(
                        {**desc, "h": ch, "lines": sub_lines})
                    outs.append(slot(f"{ref}#c{ci}", int(w), ch, sub_blob))
                    call_page.append(p)
                    call_chunk.append(ci)
            call_chunk = np.array(call_chunk, dtype=np.int64)
            lines = slot_lines(outs, y0=call_chunk * DETECTOR_CHUNK_PX)
            page = np.array(call_page, dtype=np.int64)[lines["call"]]
            if postprocess:
                # all chunks of every page are in hand, in page then chunk
                # then emission order — dense re-key (each line's rank in
                # its page) THEN the cross-chunk containment clean run
                # here, replacing the stitched relational form (window
                # re-key → anti-join) with zero shuffles; kept rows carry
                # their pre-clean dense ids exactly like the relational
                # path
                lines["line_idx"] = np.arange(page.size) - np.searchsorted(
                    page, page, side="left")
                lines = postprocess_lines(lines, page, widths, heights)
                page = lines["page"]
            else:
                lines["line_idx"] = (call_chunk[lines["call"]] * 100_000
                                     + lines["line_idx"])
            yield _lines_frame(lines, page, refs, widths, heights)

    raw = pages.mapInPandas(run, schema=_DETECT_OUT)
    if postprocess:
        return raw  # dense re-key already done in-UDF
    # re-key line_idx densely per page (chunk-offset ids → 0..n-1)
    from pyspark.sql import Window

    w = Window.partitionBy("media_ref").orderBy("line_idx")
    return raw.withColumn(
        "line_idx", (F.row_number().over(w) - 1).cast("int")
    )


def clean_contained_boxes(lines: DataFrame) -> DataFrame:
    """Drop zero-area boxes and boxes fully contained in a larger box on the
    same page — the reference's clean_boxes
    (/root/reference/surya/common/util.py:9-36) as a LEFT ANTI self-join.

    The join is equi on media_ref (partition-prunable) with the containment
    theta refinement in the predicate; per-page line counts are O(10²) so
    the within-key quadratic term is bounded.
    """
    a, b = lines.alias("a"), lines.alias("b")
    A, B = (lambda c: F.col(f"a.{c}")), (lambda c: F.col(f"b.{c}"))
    contained = (
        (A("media_ref") == B("media_ref"))
        & (A("line_idx") != B("line_idx"))
        & G.contains(A("x1"), A("y1"), A("x2"), A("y2"),
                     B("x1"), B("y1"), B("x2"), B("y2"))
        & (
            (G.area(B("x1"), B("y1"), B("x2"), B("y2"))
             > G.area(A("x1"), A("y1"), A("x2"), A("y2")))
            | (
                (G.area(B("x1"), B("y1"), B("x2"), B("y2"))
                 == G.area(A("x1"), A("y1"), A("x2"), A("y2")))
                & (B("line_idx") < A("line_idx"))
            )
        )
    )
    # b derives from the corpus: force a shuffled hash anti-join — a
    # driver-side broadcast build would grow with corpus size (BENCH.md 7)
    kept = a.join(b.hint("shuffle_hash"), on=contained, how="left_anti")
    return kept.filter(
        G.area(F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2")) > 0
    )


def clean_contained_quads(lines: DataFrame) -> DataFrame:
    """Quad-aware variant of clean_contained_boxes over the `polygon`
    column: containment and area
    use the CORNERWISE quad predicates (G.poly_contains +
    G.poly_area_shoelace) instead of bbox reductions, so skewed
    minAreaRect quads from rotated text (ref
    surya/detection/heatmap.py:83-103) keep corner accuracy — two
    diagonal slivers whose bboxes nest are not dropped here.

    Same physical shape as the bbox form: equi anti-join on the page key
    with the containment theta refinement, shuffle-hash build (the build
    side derives from the corpus). Shoelace areas of integer-cornered
    quads are exact in double, so the operator is oracle-replicable."""
    a, b = lines.alias("a"), lines.alias("b")
    pa, pb = F.col("b.polygon"), F.col("a.polygon")
    area_a = G.poly_area_shoelace(pb)
    area_b = G.poly_area_shoelace(pa)
    contained = (
        (F.col("a.media_ref") == F.col("b.media_ref"))
        & (F.col("a.line_idx") != F.col("b.line_idx"))
        & G.poly_contains(pa, pb)
        & (
            (area_b > area_a)
            | ((area_b == area_a)
               & (F.col("b.line_idx") < F.col("a.line_idx")))
        )
    )
    kept = a.join(b.hint("shuffle_hash"), on=contained, how="left_anti")
    return kept.filter(G.poly_area_shoelace(F.col("polygon")) > 0)


def clean_contained_boxes_kernel(lines: DataFrame,
                                 key: str = "media_ref",
                                 id_col: str = "line_idx",
                                 dedup_ids: bool = False,
                                 output_cols: list[str] | None = None
                                 ) -> DataFrame:
    """Same semantics as clean_contained_boxes, different physical shape:
    a vectorized numpy containment sweep per page group (applyInPandas).

    Use when per-key box counts are large (≥ ~500): the anti-join's
    within-key pairwise predicate is O(n²) rows through codegen, while the
    kernel does the same O(n²) work as a single boolean matrix op. Measured
    at sf0.1 bench data (≈1200 boxes/page): 70 s (join) → ~7 s (kernel).
    For the extraction pipeline's real pages (tens of lines) the join wins
    — no Python round-trip. Pathological pages are memory-safe: the
    containment matrix is evaluated in bounded row-blocks
    (_containment_keep).

    dedup_ids=True drops duplicate (key, id_col) rows INSIDE the kernel
    (pandas keep-first) — equivalent to a dropDuplicates([key, id_col])
    upstream when duplicate ids carry identical rows (exact-duplicate
    source rows, e.g. lineitem's), but without the extra full-table
    exchange the upstream distinct would cost: the groupBy(key) shuffle
    the kernel already pays is the only one left in the plan (r7).

    output_cols trims the kernel's RETURN columns (callers that only
    need survivor keys skip shipping the geometry back through Arrow —
    r7; the survivor set is decided inside the kernel either way)."""
    cols = output_cols or lines.columns
    out_schema = (T.StructType([lines.schema[c] for c in cols])
                  if output_cols else lines.schema)

    def sweep(pdf: pd.DataFrame) -> pd.DataFrame:
        if dedup_ids:
            pdf = pdf.drop_duplicates(subset=[id_col])
        keep = _containment_keep(
            pdf["x1"].to_numpy(), pdf["y1"].to_numpy(),
            pdf["x2"].to_numpy(), pdf["y2"].to_numpy(),
            pdf[id_col].to_numpy(),
        )
        return pdf.loc[keep, cols]

    return lines.groupBy(key).applyInPandas(sweep, schema=out_schema).select(cols)


def expand_and_normalize(lines: DataFrame) -> DataFrame:
    """Y_EXPAND_PCT vertical expansion clamped to the page — skipped for
    vertical boxes (height ≥ VERTICAL_RATIO×width), matching the reference
    (/root/reference/surya/detection/heatmap.py:170-176) — and per-page
    max-confidence normalization
    (ref surya/detection/heatmap.py:100-107) via a window;
    a page whose maximum is ≤ 0 keeps its confidences (no 0/0 — ANSI
    mode raises DIVIDE_BY_ZERO on it).

    The POLYGON column is expanded CORNERWISE (top corners 0,1 −dy,
    bottom corners 2,3 +dy, each corner clamped to the page — ref
    surya/common/polygon.py:100-113 expand + :76-81 fit_to_bounds), so
    skewed quads keep their corners; the bbox columns are recomputed as
    corner min/max, the reference's derived-bbox semantics. Explicit
    element_at corner expressions, not transform() lambdas — higher-order
    functions evaluate interpreted (BENCH.md rule 1) and the quad has a
    known dimension of 4.

    All interdependent columns are replaced in ONE withColumns:
    sequential withColumn calls would resolve the y2 expression against
    the already-expanded y1 and double-expand the bottom edge (round-3
    bug, caught by the fused-path equivalence test)."""
    poly = F.col("polygon")
    w_pg = F.col("page_width").cast("double")
    h_pg = F.col("page_height").cast("double")
    dy = (F.col("y2") - F.col("y1")) * F.lit(Y_EXPAND_PCT)

    def clamp(v, m):
        return F.greatest(F.lit(0.0), F.least(v, m))

    def corner(i, sign):
        c = F.element_at(poly, i)
        return F.array(
            clamp(F.element_at(c, 1), w_pg),
            clamp(F.element_at(c, 2) + F.lit(float(sign)) * dy, h_pg),
        )

    vertical = ((F.col("y2") - F.col("y1"))
                >= VERTICAL_RATIO * (F.col("x2") - F.col("x1")))
    expanded = F.when(vertical, poly).otherwise(
        F.array(corner(1, -1), corner(2, -1), corner(3, +1), corner(4, +1))
    )
    xs = [expanded[i][0] for i in range(4)]
    ys = [expanded[i][1] for i in range(4)]
    cmax = F.max("confidence").over(Window.partitionBy("media_ref"))
    return (
        lines.withColumns({
            "polygon": expanded,
            "x1": F.least(*xs),
            "y1": F.least(*ys),
            "x2": F.greatest(*xs),
            "y2": F.greatest(*ys),
        })
        .withColumn(
            "confidence",
            F.when(cmax > 0, F.col("confidence") / cmax)
            .otherwise(F.col("confidence")),
        )
    )


def detection_stage(pages: DataFrame,
                    slot: Callable = slots.surrogate_detect,
                    chunked: bool = False) -> DataFrame:
    """Full detection stage: infer → clean → expand/normalize.
    chunked=True routes through the vertical split/stitch path
    (DETECTOR_CHUNK_PX slices: bounded activation memory for tall
    pages).

    The post-processing runs inside the detect UDF, once per Arrow batch
    (postprocess_lines) — zero extra shuffles. The relational anti-join
    + window form (expand_and_normalize(clean_contained_boxes(...)) over
    the raw
    detect_lines / split_detect_lines output) stays for lines that come
    from a source other than the detect slot, and is the test oracle
    this stage is pinned equal to."""
    return (
        split_detect_lines(pages, slot, postprocess=True)
        if chunked else detect_lines(pages, slot, postprocess=True)
    )
