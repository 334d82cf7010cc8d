"""Recognition stage: detection→recognition slice join + OCR slot + word
assembly.

Reference flow: detected polygons crop line slices from the page image,
slices are batched into the recognizer, chars are assembled to words/lines
(/root/reference/surya/recognition/__init__.py:138-197,501-942,
 /root/reference/surya/input/processing.py:57-101,
 /root/reference/surya/recognition/util.py:123-154).

Spark shape, designed so page bytes shuffle at most once and never fan out:
line bboxes are tiny → aggregate them per page (collect_list), join ONTO
the page blobs (one row per page, not per line), slice all of a page's
crops in a single mapInPandas pass, and explode. Downstream only small
crop blobs move. The recognizer is a second mapInPandas pass over crops,
calling the recognize slot once per Arrow batch (the page pass calls it
once per page); micro-scheduling (continuous_slot) lives inside the
slot, invisible to the plan (SURVEY.md §7.3).
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import schemas
from ..datagen import decode_page
from ..plans import caching
from . import detection, slots
from .reading_order import STRIP_HI, STRIP_LO

_CROPS = T.StructType([
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("line_idx", T.IntegerType(), False),
    T.StructField("position", T.IntegerType(), False),
    T.StructField("x1", T.DoubleType(), False),
    T.StructField("y1", T.DoubleType(), False),
    T.StructField("x2", T.DoubleType(), False),
    T.StructField("y2", T.DoubleType(), False),
    T.StructField("crop_bytes", T.BinaryType(), False),
    T.StructField("res_x", T.DoubleType(), False),
    T.StructField("res_y", T.DoubleType(), False),
])


def _highres_box(b, poly, ws: float, hs: float) -> tuple[list, list | None]:
    """A lowres line box (b's x1..y2) and polygon scaled into the 2×
    render by (ws, hs) with int() truncation per coordinate — the
    reference contract (/root/reference/surya/recognition/__init__.py:
    158-170; PolygonBox.rescale truncates per corner). The one rescale
    rule of slice_crops' highres kernel and page_crop_rows."""
    bbox = [float(int(b["x1"] * ws)), float(int(b["y1"] * hs)),
            float(int(b["x2"] * ws)), float(int(b["y2"] * hs))]
    if poly is not None:
        poly = [[float(int(p[0] * ws)), float(int(p[1] * hs))]
                for p in poly]
    return bbox, poly


def slice_crops(lines: DataFrame, pages: DataFrame,
                highres_pages: DataFrame | None = None) -> DataFrame:
    """lines(media_ref, line_idx, position, bbox) ⋈ page blobs → crop blobs.

    The aggregate-then-join keeps the shuffle payload to bbox lists; page
    bytes stay where the page row lives.

    If the lines carry a `polygon` column, it rides along in the box
    struct and each crop is polygon-MASKED (encode_crop's fillPoly
    analog; ref surya/input/processing.py:57-101): skewed quads from
    rotated text stop leaking neighbor-line ink into recognition.
    Axis-aligned polygons give the bbox-only path's bytes
    (slots.crop_payload takes the bbox path for them; pytest-pinned
    bit-equal).

    With highres_pages (a second blob table of the SAME pages at higher
    resolution — the reference's 192-DPI render), crops are taken from the
    highres blob: detection bboxes (lowres space) are scaled by
    int(v * highres/lowres) exactly like the reference
    (/root/reference/surya/recognition/__init__.py:158-170), and each crop
    carries its (res_x, res_y) so recognize() can rescale model char boxes
    back into lowres page coordinates. Output bbox columns stay in lowres
    space either way. Only the small (width, height) columns of the lowres
    table join in — lowres page bytes are never read on this path
    (column pruning keeps them out of the scan)."""
    has_poly = "polygon" in lines.columns
    has_text = "input_text" in lines.columns
    box_cols = ["line_idx", "position", "x1", "y1", "x2", "y2"]
    if has_text:
        # optional per-line given text (the verify/correct library mode,
        # ref recognition/__init__.py:199-254 slice_bboxes input_text):
        # rides the box struct to the crop row so recognize() can seed
        # the decode with it
        box_cols.append("input_text")
    if has_poly:
        box_cols.append("polygon")
    boxes = lines.groupBy("media_ref").agg(
        F.collect_list(F.struct(*box_cols)).alias("boxes")
    )
    # the boxes aggregate derives from the FULL detection output — letting
    # the optimizer broadcast it makes the driver collect and serialize
    # the whole per-page box list (a serial, size-proportional cost that
    # capped scaling efficiency; it even hit the 300 s broadcast timeout
    # at low parallelism). shuffle_hash keeps the join distributed on the
    # media_ref partitioning both sides already have.
    boxes = boxes.hint("shuffle_hash")
    if highres_pages is None:
        joined = pages.join(boxes, "media_ref", "inner").select(
            "media_ref", "img_bytes", "boxes",
            F.lit(1.0).alias("_ws"), F.lit(1.0).alias("_hs"),
        )
    else:
        lodims = pages.select(
            "media_ref",
            F.col("width").alias("_lw"), F.col("height").alias("_lh"))
        joined = (
            highres_pages.join(boxes, "media_ref", "inner")
            .join(lodims, "media_ref")
            .select(
                "media_ref", "img_bytes", "boxes",
                (F.col("width").cast("double") / F.col("_lw")).alias("_ws"),
                (F.col("height").cast("double") / F.col("_lh")).alias("_hs"),
            )
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, blob, boxes, ws, hs in zip(
                pdf["media_ref"], pdf["img_bytes"], pdf["boxes"],
                pdf["_ws"], pdf["_hs"],
            ):
                desc = decode_page(bytes(blob))
                ws, hs = float(ws), float(hs)
                for b in boxes:
                    poly = b["polygon"] if has_poly else None
                    if ws == 1.0 and hs == 1.0:
                        bbox = [b["x1"], b["y1"], b["x2"], b["y2"]]
                    else:
                        bbox, poly = _highres_box(b, poly, ws, hs)
                    row = {
                        "media_ref": ref,
                        "line_idx": int(b["line_idx"]),
                        "position": int(b["position"]),
                        "x1": b["x1"], "y1": b["y1"],
                        "x2": b["x2"], "y2": b["y2"],
                        "crop_bytes": slots.encode_crop(desc, bbox, poly),
                        "res_x": ws, "res_y": hs,
                    }
                    if has_text:
                        row["input_text"] = b["input_text"]
                    rows.append(row)
            yield pd.DataFrame(rows)

    out_schema = (T.StructType(
        list(_CROPS) + [T.StructField("input_text", T.StringType(), True)])
        if has_text else _CROPS)
    return joined.mapInPandas(run, schema=out_schema)


def page_crop_rows(ref: str, w: int, h: int, blob: bytes,
                   detect_slot: Callable, band_v: float,
                   hr_blob: bytes | None = None,
                   hr_scale: tuple[float, float] | None = None
                   ) -> tuple[list[dict], object]:
    """One page of the crop-level page pass (fused.fused_all_crops) for
    the detect→order→slice chain: batch_line_crops over a one-page batch,
    each crop serialized (slots.pack_crop) to `crop_bytes` — the crop
    rows the relational chain
    slice_crops(order_lines(detection_stage(pages)), pages) produces,
    without ever materializing the line table (pytest-pinned
    byte-identical).

    Returns (crop row dicts, decoded page): a caller running several
    page-grain kernels hands the returned desc to the next kernel, and
    the kernels decode the blob at most once per page between them (the
    slots decode it themselves). desc stays None
    when no line survives post-processing, and on the dual-DPI path
    (hr_blob + hr_scale=(ws, hs)), which cuts its crops from the highres
    page."""
    rows, descs = batch_line_crops(
        [ref], [w], [h], [blob], detect_slot, band_v,
        None if hr_blob is None else [hr_blob],
        None if hr_scale is None else [hr_scale])
    for row in rows[0]:
        row["crop_bytes"] = slots.pack_crop(row.pop("crop"))
    return rows[0], descs[0]


def batch_line_crops(refs: list, widths: list, heights: list, blobs: list,
                     detect_slot: Callable, band_v: float,
                     hr_blobs: list | None = None,
                     hr_scales: list | None = None
                     ) -> tuple[list[list[dict]], list]:
    """The line geometry of the page pass for one Arrow batch of pages:
    the detect slot once per page, then ONE numpy program over all the
    batch's lines — post-process (detection.postprocess_lines),
    column-aware reading order, crop boxes and crop visibility
    (slots.crop_payloads) — so per-call overhead is paid per batch, not
    per page. Returns (line rows per page, each row with `crop`, in
    reading order; the lowres desc per page).

    Ordering contract matches order_lines exactly: two-column iff no
    line crosses the central strip (x1 < STRIP_LO·w AND x2 > STRIP_HI·w,
    reading_order's constants), col_id by center-x half, y-band
    floor(y1/band_v), position = 1-based rank by
    (col_id, y_band, x1, y1) — line_idx appended as the final tie-break
    (the relational row_number is partition-order-dependent on exact
    ties; fixtures keep keys unique) — one lexsort keyed by page first.

    The lowres desc is decoded only for pages with lines. hr_blobs +
    hr_scales=[(ws, hs), ...] select the dual-DPI path: detection runs
    on the LOWRES blob as always, crops are cut from the HIGHRES
    descriptor with bbox and polygon rescaled by int() truncation per
    the reference (ref surya/recognition/__init__.py:158-170,
    surya/common/polygon.py rescale) — exactly slice_crops' highres
    kernel (_highres_box) — and rows carry (res_x, res_y) = (ws, hs)
    while the output bbox columns stay in lowres space. The LOWRES desc
    is never decoded on that path (the table kernel decodes it if
    needed)."""
    n_pages = len(refs)
    descs = [None] * n_pages
    wd = np.array(widths, dtype=float)
    lines = detection.slot_lines([
        detect_slot(ref, int(w), int(h), blob)
        for ref, w, h, blob in zip(refs, widths, heights, blobs)])
    ln = detection.postprocess_lines(lines, lines["call"], wd,
                                     np.array(heights, dtype=float))
    page, x1, y1, x2, y2 = (ln[c] for c in ("page", "x1", "y1", "x2", "y2"))
    w_line = wd[page]
    crossing = np.zeros(n_pages, dtype=bool)
    crossing[page[(x1 < w_line * STRIP_LO) & (x2 > w_line * STRIP_HI)]] = True
    col = np.where(crossing[page] | ((x1 + x2) / 2.0 < w_line / 2.0), 0, 1)
    order = np.lexsort((ln["line_idx"], y1, x1, np.floor(y1 / band_v), col,
                        page))
    ln = {c: v[order] for c, v in ln.items()}
    page, x1, y1, x2, y2 = (ln[c] for c in ("page", "x1", "y1", "x2", "y2"))
    quads = ln["polygon"]
    position = np.arange(1, page.size + 1) - np.searchsorted(page, page)
    boxes = np.stack([x1, y1, x2, y2], axis=1)
    with_lines = np.unique(page).tolist()
    if hr_blobs is None:
        for p in with_lines:
            if descs[p] is None:
                descs[p] = decode_page(blobs[p])
        crop_descs = descs
        ws = hs = np.ones(n_pages)
    else:
        crop_descs = [None] * n_pages
        for p in with_lines:
            crop_descs[p] = decode_page(hr_blobs[p])
        ws = np.array([float(s[0]) for s in hr_scales])
        hs = np.array([float(s[1]) for s in hr_scales])
        scale = np.stack([ws[page], hs[page]], axis=1)
        # int() truncation toward zero: np.trunc would turn int(-0.5)'s
        # 0 into -0.0, and the crop bytes with it
        boxes = (boxes * np.tile(scale, 2)).astype(np.int64).astype(float)
        quads = (quads * scale[:, None, :]).astype(np.int64).astype(float)
    crops = slots.crop_payloads(crop_descs, page, boxes, quads)
    rows = [[] for _ in range(n_pages)]
    for p, li, pos, a, b, c, d, rx, ry, crop in zip(
            page.tolist(), ln["line_idx"].tolist(), position.tolist(),
            x1.tolist(), y1.tolist(), x2.tolist(), y2.tolist(),
            ws[page].tolist(), hs[page].tolist(), crops):
        rows[p].append({
            "media_ref": refs[p], "line_idx": li, "position": pos,
            "x1": a, "y1": b, "x2": c, "y2": d,
            "res_x": rx, "res_y": ry, "crop": crop,
        })
    return rows, descs


_OCR_OUT = T.StructType([
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("line_idx", T.IntegerType(), False),
    T.StructField("position", T.IntegerType(), False),
    T.StructField("x1", T.DoubleType(), False),
    T.StructField("y1", T.DoubleType(), False),
    T.StructField("x2", T.DoubleType(), False),
    T.StructField("y2", T.DoubleType(), False),
    T.StructField("text", T.StringType(), False),
    T.StructField("chars", T.ArrayType(schemas.TEXT_CHAR), False),
    T.StructField("confidence", T.DoubleType(), False),
])


# the continuous scheduler prefills waiting items once more than this
# fraction of its decoder slots is empty
# (ref surya/recognition/__init__.py:501-607)
MIN_PREFILL_RATIO = 0.2


def _continuous_schedule(blobs: list, tasks: list, step_recognizer,
                         n_slots: int,
                         max_steps: int = 100_000,
                         texts: list | None = None) -> list[dict]:
    """The reference's continuous-batching prediction loop
    (/root/reference/surya/recognition/__init__.py:501-607) with
    IN-FLIGHT SLOT REPLACEMENT, model-free: n_slots decoder slots; when
    the empty-slot fraction exceeds MIN_PREFILL_RATIO and items wait,
    prefill admits them into the free slots; otherwise one step advances
    every in-flight sequence, and a finished sequence frees its slot
    IMMEDIATELY for the next admission — short sequences never wait for
    the longest one in their batch, which is the whole point vs padded
    fixed batches. Items should arrive width-descending (the admission
    order the caller's sort provides). Returns results in input order.

    max_steps bounds a slot implementation that never reports done —
    the scheduler-side analog of the reference's batch_max_tokens cap
    (a real deployment's step() should ALSO self-limit per sequence)."""
    from collections import deque

    n = len(blobs)
    queue = deque(range(n))
    slots_arr: list = [None] * n_slots  # (item_idx, state) or None
    results: list = [None] * n
    steps = 0
    while queue or any(s is not None for s in slots_arr):
        if steps > max_steps:
            raise RuntimeError(
                f"continuous scheduler exceeded max_steps={max_steps}; "
                "the step slot is not finishing sequences")
        steps += 1
        empty = [b for b, s in enumerate(slots_arr) if s is None]
        if queue and (len(empty) / n_slots) > MIN_PREFILL_RATIO:
            admit = [queue.popleft()
                     for _ in range(min(len(empty), len(queue)))]
            if texts is None:
                states = step_recognizer.prefill(
                    [blobs[i] for i in admit], [tasks[i] for i in admit])
            else:
                states = step_recognizer.prefill(
                    [blobs[i] for i in admit], [tasks[i] for i in admit],
                    [texts[i] for i in admit])
            for b, i, st in zip(empty, admit, states):
                slots_arr[b] = (i, st)
            continue
        active = [(b, i, st) for b, s in enumerate(slots_arr)
                  if s is not None for i, st in [s]]
        done = step_recognizer.step([st for _, _, st in active])
        for d, (b, i, st) in zip(done, active):
            if d:
                results[i] = step_recognizer.result(st)
                slots_arr[b] = None
    return results


def line_text(result: dict, given: str | None = None) -> str:
    """A recognize-slot result's line text. Verified-good given text
    (original_text_good=True) resolves to the caller's original — the
    reference returns "" + the flag and callers keep their text; the
    relational contract resolves it in place. Shared by recognize and
    the page pass (fused.fused_page_items)."""
    if result.get("original_text_good", False):
        return (given or "").strip()
    return result["text"]


def _recognize_batch(slot: Callable, crops: list, tasks: list[str],
                     texts: list | None = None) -> list[dict]:
    """slot(crops, tasks[, texts]) — the one call site of recognize and
    the page pass (fused.fused_page_items). A slot returning another
    number of results than crops raises here, naming both counts."""
    results = (slot(crops, tasks) if texts is None
               else slot(crops, tasks, texts))
    if len(results) != len(crops):
        raise ValueError(
            f"recognize slot returned {len(results)} results for "
            f"{len(crops)} crops")
    return results


def continuous_slot(step_recognizer, n_slots: int) -> Callable:
    """A prefill/step/result recognizer (slots.SurrogateStepRecognizer
    documents the contract) as a recognize slot: each call runs
    _continuous_schedule with n_slots decoder slots (the reference's
    recognition_batch_size)."""
    def slot(crops: list, tasks: list[str],
             texts: list | None = None) -> list[dict]:
        return _continuous_schedule(crops, tasks, step_recognizer, n_slots,
                                    texts=texts)

    return slot


def recognize(crops: DataFrame,
              slot: Callable = slots.surrogate_recognize_batch,
              task: str = "ocr_with_boxes",
              emit_chars: bool = True) -> DataFrame:
    """crop blobs → ocr_lines. Width-descending sort within partitions
    mirrors the reference's batch admission order
    (/root/reference/surya/recognition/__init__.py:847-854) — a physical
    optimization only; result order is re-pinned by explicit keys.

    slot(crops: list, tasks: list[str]) -> list[dict], one result per
    crop in order, is called once per Arrow batch of that stream, so a
    padded-tensor recognizer wastes minimal padding; it schedules its own
    micro-batches inside the call (ref recognition/__init__.py:501-607;
    continuous_slot).

    task: per-stage decode mode (a plan-time parameter, not data — same as
    the reference's TaskNames routing, recognition/__init__.py:86-102).

    emit_chars=False prunes per-char boxes INSIDE the UDF — Catalyst can
    prune the output column but not the Python work that builds it, and
    char structs are ~20× the rows of lines (measured: the single biggest
    cost of the whole pipeline at sf-scale). Callers that don't consume
    chars (the span-assembly flagship) must pass False.

    input_text conditioning (ref recognition/__init__.py:86-102,354-471;
    behavior contract = ref tests/test_recognition.py:17-38): when crops
    carry an `input_text` column (threaded by slice_crops /
    recognize_given_boxes), the slot is called with a third argument —
    slot(crops, tasks, texts). A slot result carrying
    original_text_good=True (the reference's empty-decode short-circuit
    for verified-good given text, :889-899) resolves to the CALLER'S
    text with chars=[] and confidence 1.0, and the output grows an
    `original_text_good` boolean column so verify workflows can filter
    on it. Without the column, the call and the schema are unchanged —
    a 2-argument slot keeps working."""
    sorted_crops = crops.sortWithinPartitions((F.col("x2") - F.col("x1")).desc())
    has_input = "input_text" in crops.columns
    # optional language hints ride through unchanged (the reference's
    # OCR results carry per-result language lists surfaced via
    # functions/languages.py, mirroring ref recognition/languages.py) —
    # tail-first optional column like input_text, so existing
    # callers and slots are untouched when absent
    has_langs = "langs" in crops.columns

    has_res = "res_x" in crops.columns
    extra_fields = []
    if has_input:
        extra_fields.append(
            T.StructField("original_text_good", T.BooleanType(), False))
    if has_langs:
        extra_fields.append(
            T.StructField("langs", T.ArrayType(T.StringType()), True))
    out_schema = (T.StructType(list(_OCR_OUT) + extra_fields)
                  if extra_fields else _OCR_OUT)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            n = len(pdf)
            rxs = pdf["res_x"] if has_res else [1.0] * n
            rys = pdf["res_y"] if has_res else [1.0] * n
            texts = ([None if t is None else str(t)
                      for t in pdf["input_text"]] if has_input else None)
            results = _recognize_batch(
                slot, [bytes(b) for b in pdf["crop_bytes"]],
                [task] * n, texts)
            for i, (ref, li, pos, x1, y1, x2, y2, r, rx, ry) in \
                    enumerate(zip(
                        pdf["media_ref"], pdf["line_idx"], pdf["position"],
                        pdf["x1"], pdf["y1"], pdf["x2"], pdf["y2"],
                        results, rxs, rys,
                    )):
                rx, ry = float(rx), float(ry)
                otg = bool(r.get("original_text_good", False))
                # rescale chars from (possibly highres) crop space by
                # res_scales, shift into page coords, clamp to the line bbox
                # (/root/reference/surya/recognition/__init__.py:906-914)
                chars = [
                    {
                        "text": c["text"],
                        "x1": min(max(c["x1"] / rx + x1, x1), x2),
                        "y1": min(max(c["y1"] / ry + y1, y1), y2),
                        "x2": min(max(c["x2"] / rx + x1, x1), x2),
                        "y2": min(max(c["y2"] / ry + y1, y1), y2),
                        "confidence": c["confidence"],
                        "bbox_valid": bool(c["bbox_valid"]),
                    }
                    for c in r["chars"]
                ] if emit_chars else []
                row = {
                    "media_ref": ref, "line_idx": int(li), "position": int(pos),
                    "x1": x1, "y1": y1, "x2": x2, "y2": y2,
                    "text": line_text(r, texts[i] if has_input else None),
                    "chars": chars,
                    "confidence": 1.0 if otg else r["confidence"],
                }
                if has_input:
                    row["original_text_good"] = otg
                if has_langs:
                    lv = pdf["langs"].iloc[i]
                    row["langs"] = None if lv is None else [
                        str(c) for c in lv]
                rows.append(row)
            yield pd.DataFrame(rows)

    return sorted_crops.mapInPandas(run, schema=out_schema)


def recognize_given_boxes(boxes: DataFrame, pages: DataFrame,
                          slot: Callable = slots.surrogate_recognize_batch,
                          emit_chars: bool = True) -> DataFrame:
    """The parity-critical library mode: caller supplies line bboxes and
    skips detection (/root/reference/surya/recognition/__init__.py:773-942
    with bboxes=; used by the recognition benchmark and LaTeX OCR).
    boxes: (media_ref, line_idx, x1, y1, x2, y2[, position][, input_text]).

    An optional `input_text` column is the reference's verify/correct
    mode (input_text= kwarg, ref :783-853): per-line given text seeds
    the decode; lines whose text the model confirms come back with the
    original text, confidence 1.0 and original_text_good=true (see
    recognize).

    An optional `polygon` column is the reference's polygons= input
    (slice_polys_from_image, ref recognition/__init__.py:199-254):
    skewed quads mask their crops exactly as on the detection path;
    axis-aligned quads are bit-identical to the bbox form."""
    if "position" not in boxes.columns:
        w = Window.partitionBy("media_ref").orderBy("y1", "x1", "line_idx")
        boxes = boxes.withColumn("position", F.row_number().over(w))
    cols = ["media_ref", "line_idx", "position", "x1", "y1", "x2", "y2"]
    for opt in ("polygon", "input_text"):
        if opt in boxes.columns:
            cols.append(opt)
    crops = slice_crops(boxes.select(*cols), pages)
    return recognize(crops, slot, emit_chars=emit_chars)


def recognize_blocks(pages: DataFrame,
                     slot: Callable = slots.surrogate_recognize_batch
                     ) -> DataFrame:
    """LaTeX-OCR entry: the whole page is one box, decoded in
    block_without_boxes mode → <math>-wrapped text
    (/root/reference/ocr_latex.py, scripts/ocr_latex.py:23-31)."""
    boxes = pages.select(
        "media_ref",
        F.lit(0).alias("line_idx"),
        F.lit(1).alias("position"),
        F.lit(0.0).alias("x1"), F.lit(0.0).alias("y1"),
        F.col("width").cast("double").alias("x2"),
        F.col("height").cast("double").alias("y2"),
    )
    crops = slice_crops(boxes, pages)
    return recognize(crops, slot, task="block_without_boxes")


def drop_repeated_lines(ocr_lines: DataFrame) -> DataFrame:
    """The reference's drop_repeated_text=True post-check
    (/root/reference/surya/recognition/__init__.py:643-655, pinned by ref
    tests/test_recognition.py:41-56): a line whose decoded stream has
    degenerated into a short loop — detect_repeat_token over the char
    stream, the decode-side image of the token loop (util.py:59-69) —
    is blanked (text '', confidence 0.0,
    chars []) instead of shipping garbage downstream. Pure column
    expressions over the line table; no shuffle, no Python."""
    from ..functions.text import detect_repeat_token

    # chars-as-tokens: the relational stand-in for the decoder's token-id
    # stream (a looping id stream IS a looping char stream after decode)
    toks = F.array_remove(F.split(F.col("text"), ""), "")
    rep = detect_repeat_token(toks)
    cols = {
        "text": F.when(rep, F.lit("")).otherwise(F.col("text")),
        "confidence": F.when(rep, F.lit(0.0)).otherwise(F.col("confidence")),
    }
    if "chars" in ocr_lines.columns:
        # slice(chars, 1, 0) = typed empty array (array() would be void)
        cols["chars"] = F.when(rep, F.slice("chars", 1, 0)) \
            .otherwise(F.col("chars"))
    return ocr_lines.withColumns(cols)


def line_confidence(ocr_lines: DataFrame) -> DataFrame:
    """Line confidence = mean of char confidences
    (/root/reference/surya/recognition/__init__.py:901-905) as an array
    aggregate — no shuffle, no Python.

    Deliberate exception to the no-HOF rule (CLAUDE.md #1): char arrays
    are short (≤ ~100 per line) and per-LINE, so the interpreted fold
    costs O(chars) once per row; the codegen alternative
    (posexplode → groupBy avg → join back) adds a full shuffle + join,
    which loses below ~10⁴ chars/line. The rule targets per-PAIR hot
    paths (dot products, pairwise geometry) where the fold runs n² times."""
    n = F.size("chars")
    s = F.aggregate(
        "chars", F.lit(0.0), lambda acc, c: acc + c["confidence"]
    )
    return ocr_lines.withColumn(
        "confidence", F.when(n > 0, s / n).otherwise(F.col("confidence"))
    )


# consecutive chars whose bbox corners all lie within this many px of
# each other are one character (ref surya/recognition/util.py:100-120)
CLOSE_CHAR_TOL = 0.1


def dedupe_close_chars(ocr_lines: DataFrame) -> DataFrame:
    """Drop consecutive chars whose bboxes coincide within CLOSE_CHAR_TOL
    px — multi-token characters decode to repeated boxes in the reference
    (clean_close_polygons, /root/reference/surya/recognition/util.py:100-120).
    Lag-window formulation over exploded chars; rebuilt nested."""
    ex = ocr_lines.select(
        "media_ref", "line_idx",
        F.posexplode("chars").alias("pos", "ch"),
    )
    w = Window.partitionBy("media_ref", "line_idx").orderBy("pos")
    close = (
        (F.abs(F.col("ch.x1") - F.lag("ch.x1").over(w)) < CLOSE_CHAR_TOL)
        & (F.abs(F.col("ch.y1") - F.lag("ch.y1").over(w)) < CLOSE_CHAR_TOL)
        & (F.abs(F.col("ch.x2") - F.lag("ch.x2").over(w)) < CLOSE_CHAR_TOL)
        & (F.abs(F.col("ch.y2") - F.lag("ch.y2").over(w)) < CLOSE_CHAR_TOL)
        & (F.col("ch.text") == F.lag("ch.text").over(w))
    )
    kept = ex.withColumn("_dup", F.coalesce(close, F.lit(False))).filter(
        ~F.col("_dup"))
    rebuilt = kept.groupBy("media_ref", "line_idx").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "ch"))),
            lambda s: s["ch"],
        ).alias("chars")
    )
    return (
        ocr_lines.drop("chars")
        .join(rebuilt, ["media_ref", "line_idx"], "left")
        .withColumn("chars", F.coalesce("chars", F.array()))
    )


def attach_words(ocr_lines: DataFrame) -> DataFrame:
    """The reference's return_words=True output shape (words_from_chars,
    ref surya/recognition/util.py:123-154, attached per line at
    recognition/__init__.py:925-927): adds a `words` array column —
    assemble_words re-nested at line grain, ordered by word_idx. Lines
    with no chars (emit_chars=False upstream, or whitespace-only) get an
    empty array. One media_ref-keyed shuffle for the group + join; the
    words side derives from the corpus, so shuffle_hash, never a driver
    broadcast. ocr_lines feeds BOTH the words aggregate and the probe
    side of the join (rule 2) — managed-persist it so the recognition
    UDF lineage executes once, released at the first terminal action."""
    ocr_lines = caching.managed(ocr_lines)
    words = assemble_words(ocr_lines)
    nested = words.groupBy("media_ref", "line_idx").agg(
        F.array_sort(
            F.collect_list(F.struct("word_idx", "word",
                                    "x1", "y1", "x2", "y2"))
        ).alias("words"))
    empty = F.array().cast(nested.schema["words"].dataType)
    return (
        ocr_lines.join(nested.hint("shuffle_hash"),
                       ["media_ref", "line_idx"], "left")
        .withColumn("words", F.coalesce("words", empty))
    )


def assemble_words(ocr_lines: DataFrame) -> DataFrame:
    """chars → words: split on whitespace chars, word bbox = running union.
    Relational form of /root/reference/surya/recognition/util.py:123-154:
    posexplode chars, cumulative space count = word id, group.
    Returns (media_ref, line_idx, word_idx, word, x1, y1, x2, y2)."""
    ex = ocr_lines.select(
        "media_ref", "line_idx",
        F.posexplode("chars").alias("pos", "ch"),
    )
    w = Window.partitionBy("media_ref", "line_idx").orderBy("pos")
    is_space = F.col("ch.text").rlike(r"^\s$").cast("int")
    with_ids = ex.withColumn(
        "word_id", F.sum(is_space).over(w) - is_space
    ).filter(~F.col("ch.text").rlike(r"^\s$"))
    return (
        with_ids.groupBy("media_ref", "line_idx", "word_id")
        .agg(
            F.concat_ws(
                "", F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", F.col("ch.text").alias("t")))
                    ),
                    lambda s: s["t"],
                )
            ).alias("word"),
            F.min("ch.x1").alias("x1"), F.min("ch.y1").alias("y1"),
            F.max("ch.x2").alias("x2"), F.max("ch.y2").alias("y2"),
        )
        .withColumnRenamed("word_id", "word_idx")
    )
