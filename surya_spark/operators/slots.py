"""The four pluggable inference slots (SURVEY.md §2.8).

The reference binds models via BasePredictor subclasses
(/root/reference/surya/common/predictor.py:9-57); our equivalent extension
surface is a plain callable per slot with a published contract, injected
into the stage builders. Tests and this sandbox use deterministic
fixture-backed surrogates that decode the SPG1 page descriptors; a GPU
deployment swaps in torch-backed callables with identical signatures —
the Spark plan does not change.

Detect and layout slots take the page blob, a table slot one crop and a
recognize slot a batch of crops (recognition.recognize's contract).
Inside the page pass (fused.fused_page_items) a crop is the in-memory
crop (crop_payloads, cut for a whole Arrow batch at once, /
table_crop_payload — a deployment's pixel slice), never serialized;
from a crop table (slice_crops, table_crops, fused_all_crops) it is the
crop_bytes SPC1 blob (pack_crop). A slot normalizes either form with
as_crop.

Surrogate realism: detection emits *noisy, unordered, duplicated* boxes so
the relational post-processing (containment anti-join, y-expand, confidence
normalization, reading-order sort) is actually load-bearing, exactly like
the CRAFT polygonization output the reference cleans up
(/root/reference/surya/detection/heatmap.py:43-184).
"""

from __future__ import annotations

import json
import math
import zlib

import numpy as np

from ..datagen import MAGIC, SEED, _seed, decode_page

CROP_MAGIC = b"SPC1"

_RS = None  # per-process reusable RandomState (lazily built post-fork)


def _rng(*parts):
    """Same md5-derived legacy stream as datagen._rng, but reseeding ONE
    reused RandomState instead of constructing one per call — construction
    pays a SeedSequence init that measured 65x slower than .seed() and was
    53% of the fused page kernel's profile. Safe ONLY because every caller
    in this module fully consumes the returned rng before the next _rng
    call; never use this where two rngs are live at once (datagen keeps
    the constructing form for exactly that reason)."""
    global _RS
    if _RS is None:
        _RS = np.random.RandomState(0)
    _RS.seed(_seed(*parts))
    return _RS


# ------------------------------------------------------------------ detection
def surrogate_detect(media_ref: str, width: int, height: int,
                     img_bytes: bytes) -> list[dict]:
    """Emit one 4-corner polygon per visible text line, plus noise:
    deterministic ±2px jitter, shuffled emission order, and ~25% spurious
    fully-contained duplicate boxes (lower confidence)."""
    desc = decode_page(img_bytes)
    truth = list(desc["lines"])
    rng = _rng(SEED, "det", media_ref)
    order = rng.permutation(len(truth))
    out = []
    for emit_i, ti in enumerate(order):
        ln = truth[int(ti)]
        x1, y1, x2, y2 = (float(v) for v in ln["bbox"])
        jr = _rng(SEED, "detjit", media_ref, int(ti))
        jx1, jy1, jx2, jy2 = (float(j) for j in jr.randint(-2, 3, 4))
        bx1, by1 = x1 + jx1, y1 + jy1
        bx2, by2 = max(bx1 + 1.0, x2 + jx2), max(by1 + 1.0, y2 + jy2)
        conf = float(0.6 + 0.4 * jr.rand())
        poly = [[bx1, by1], [bx2, by1], [bx2, by2], [bx1, by2]]
        out.append({"polygon": poly, "confidence": conf})
        if jr.rand() < 0.25:  # spurious contained duplicate
            w, h = bx2 - bx1, by2 - by1
            dx1, dy1 = bx1 + 0.2 * w, by1 + 0.2 * h
            dx2, dy2 = bx2 - 0.2 * w, by2 - 0.2 * h
            out.append({
                "polygon": [[dx1, dy1], [dx2, dy1], [dx2, dy2], [dx1, dy2]],
                "confidence": conf * 0.5,
            })
    return out


def surrogate_detect_heatmap(media_ref: str, width: int, height: int,
                             img_bytes: bytes) -> list[dict]:
    """Detect surrogate that exercises the REAL CRAFT polygonization path
    (functions/imageops.py): paint each truth line's bbox onto a float
    heatmap at a deterministic intensity, then recover polygons via
    dynamic thresholds → connected components → dilation → min-area rect
    — the exact pixel pipeline the reference runs on model output
    (/root/reference/surya/detection/heatmap.py:27-107). Boxes come back
    dilated by the CC buffer (±1+int(sqrt(line_height)) px), which the
    downstream stages must absorb exactly as they absorb real CRAFT
    output."""
    from ..functions import imageops as I

    desc = decode_page(img_bytes)
    heat = np.zeros((int(height), int(width)))
    for i, ln in enumerate(desc["lines"]):
        x1, y1, x2, y2 = (int(v) for v in ln["bbox"])
        heat[max(0, y1):y2, max(0, x1):x2] = 0.7 + 0.05 * (i % 5)
    boxes, confs = I.detect_boxes_from_heatmap(heat, 0.6, 0.3)
    return [
        {"polygon": [[float(x), float(y)] for x, y in box],
         "confidence": float(c)}
        for box, c in zip(boxes, confs)
    ]


# ---------------------------------------------------------------- crop encode
def _axis_rects(boxes, quads):
    """Per crop: quads[k] (4 corners) is the clockwise corner rectangle
    of boxes[k] (x1, y1, x2, y2) to 1e-9 — such a crop is its bbox."""
    rect = boxes[:, [0, 1, 2, 1, 2, 3, 0, 3]].reshape(-1, 4, 2)
    return (np.abs(quads - rect) <= 1e-9).all(axis=(1, 2))


def crop_payloads(descs: list, page, boxes, quads=None) -> list[dict]:
    """The in-memory crop a recognize slot takes, for each of a batch of
    line crops: crop k is boxes[k] (x1, y1, x2, y2; an (n, 4) array)
    cut from descs[page[k]] and kept to the truth lines it shows — those
    overlapping it ≥50% of their area — with coordinates shifted to crop
    space. The visibility of every (crop, truth line of its page) pair is
    one numpy pass (intersection by min/max, line area floored at 1e-9);
    crop_payload is the one-crop call.

    quads (an (n, 4, 2) array) are the crops' polygons. A non-rectangular
    one (skewed quad from rotated text) masks its crop — the descriptor
    analog of the reference's fillPoly masking
    (ref surya/input/processing.py:57-101): pixels outside
    the polygon are padded away, so a truth line counts as visible by
    the fraction of its area covered by the polygon RASTER
    (imageops.fill_poly_mask), not by the bbox — neighbor-line ink in
    the bbox corners of a skewed crop no longer leaks in. Those crops
    take the raster per crop; a quad that is its bbox's corner rectangle
    takes the bbox path (bit-identical to no polygon)."""
    masks = [None] * len(boxes)
    if quads is not None:
        for k in np.flatnonzero(~_axis_rects(boxes, quads)):
            masks[k] = quads[k]
    return _payloads(descs, np.asarray(page), boxes, masks)


def crop_payload(desc: dict, bbox: list[float],
                 polygon: list[list[float]] | None = None) -> dict:
    """crop_payloads for one crop, whose polygon may have any number of
    corners: a degenerate one (< 3 corners — a raster can't be filled)
    falls back to the unmasked bbox path rather than an all-false mask
    that would silently drop every truth line, matching
    slice_and_pad_poly / the reference's polygon validation
    short-circuit (ref surya/common/polygon.py:17-35)."""
    box = np.array([bbox], dtype=float)
    mask = None
    if polygon is not None and len(polygon) >= 3:
        # Arrow delivers array<array<double>> as an object array of
        # arrays — normalize corner-by-corner
        mask = np.array([[float(p[0]), float(p[1])] for p in polygon])
        if len(mask) == 4 and _axis_rects(box, mask[None])[0]:
            mask = None
    return _payloads([desc], np.zeros(1, dtype=np.int64), box, [mask])[0]


def _payloads(descs: list, page, boxes, masks: list) -> list[dict]:
    """crop_payloads with each crop's masking polygon (or None) decided."""
    from ..functions.imageops import fill_poly_mask

    n = len(masks)
    truth = [[] if d is None else d["lines"] for d in descs]
    n_truth = np.array([len(t) for t in truth], dtype=np.int64)
    flat = [ln for t in truth for ln in t]
    tb = np.array([ln["bbox"] for ln in flat], dtype=float).reshape(-1, 4)
    area = (tb[:, 2] - tb[:, 0]) * (tb[:, 3] - tb[:, 1])
    area = np.where(area < 1e-9, 1e-9, area)
    first_truth = np.cumsum(n_truth) - n_truth
    masked = np.array([m is not None for m in masks], dtype=bool)
    # every (unmasked crop, truth line of its page) pair, crop-major
    counts = np.where(masked, 0, n_truth[page])
    k = np.repeat(np.arange(n), counts)
    t = np.arange(k.size) + np.repeat(
        first_truth[page] - (np.cumsum(counts) - counts), counts)
    cb, lb = boxes[k], tb[t]
    ix = np.minimum(lb[:, 2], cb[:, 2]) - np.maximum(lb[:, 0], cb[:, 0])
    iy = np.minimum(lb[:, 3], cb[:, 3]) - np.maximum(lb[:, 1], cb[:, 1])
    visible = np.where((ix > 0.0) & (iy > 0.0), ix * iy, 0.0)
    hit = visible / area[t] >= 0.5
    kept = [[] for _ in range(n)]
    for c, ti in zip(k[hit].tolist(), t[hit].tolist()):
        kept[c].append(ti)
    box_list = boxes.tolist()
    for c in np.flatnonzero(masked).tolist():
        cx1, cy1, cx2, cy2 = box_list[c]
        mask = fill_poly_mask(int(math.ceil(cy2 - cy1)),
                              int(math.ceil(cx2 - cx1)),
                              masks[c] - np.array([cx1, cy1]))
        base = int(first_truth[page[c]])
        for ti in range(base, base + int(n_truth[page[c]])):
            lx1, ly1, lx2, ly2 = flat[ti]["bbox"]
            a = max(0, int(math.floor(lx1 - cx1)))
            b = min(mask.shape[1], int(math.ceil(lx2 - cx1)))
            y = max(0, int(math.floor(ly1 - cy1)))
            d = min(mask.shape[0], int(math.ceil(ly2 - cy1)))
            visible = float(mask[y:d, a:b].sum()) if (b > a and d > y) else 0.0
            if visible / area[ti] >= 0.5:
                kept[c].append(ti)
    out = []
    for (cx1, cy1, cx2, cy2), ts in zip(box_list, kept):
        lines = []
        for ti in ts:
            lx1, ly1, lx2, ly2 = flat[ti]["bbox"]
            lines.append({
                "bbox": [lx1 - cx1, ly1 - cy1, lx2 - cx1, ly2 - cy1],
                "text": flat[ti]["text"],
            })
        out.append({"crop": [0.0, 0.0, cx2 - cx1, cy2 - cy1],
                    "lines": lines})
    return out


def pack_crop(payload: dict) -> bytes:
    """A line or table crop payload serialized to an SPC1 crop blob — the
    form a crop takes where it becomes a Spark row (slice_crops,
    table_crops, fused_all_crops); decode_crop(pack_crop(p)) == p."""
    # no sort_keys: decode_crop returns an equal dict either way, and
    # level-1 deflate halves the compression time of level 6; every
    # producer/consumer pair — fused and relational alike — shares this
    # one encoder, and no oracle hashes crop blobs (r7, profiled)
    return CROP_MAGIC + zlib.compress(json.dumps(payload).encode(), 1)


def encode_crop(desc: dict, bbox: list[float],
                polygon: list[list[float]] | None = None) -> bytes:
    """pack_crop(crop_payload(desc, bbox, polygon))."""
    return pack_crop(crop_payload(desc, bbox, polygon))


def decode_crop(blob: bytes) -> dict:
    if not blob.startswith(CROP_MAGIC):
        raise ValueError("not an SPC1 crop blob")
    return json.loads(zlib.decompress(blob[len(CROP_MAGIC):]))


def as_crop(crop) -> dict:
    """A crop as a recognize or table slot receives it → its payload:
    the in-memory dict (the page pass hands crops over without
    serializing them) passes through; SPC1 bytes (a crop table's
    crop_bytes) are decoded."""
    return crop if isinstance(crop, dict) else decode_crop(crop)


# ---------------------------------------------------------------- recognition
# per-task generation budget (ref RecognitionPredictor.tasks max_tokens,
# /root/reference/surya/recognition/__init__.py:86-102) — also the bound
# above which supplied input text is dropped as likely invalid
TASK_MAX_TOKENS = {
    "ocr_with_boxes": 224,
    "ocr_without_boxes": 224,
    "block_without_boxes": 768,
}


def surrogate_recognize(crop: dict | bytes,
                        task: str = "ocr_with_boxes",
                        input_text: str | None = None) -> dict:
    """crop → (text, chars, confidence); the crop is a crop_payload dict
    or its SPC1 blob (as_crop). Picks the truth line covering
    the largest share of the crop; chars get evenly-divided boxes, like the
    reference's per-token bbox head output
    (/root/reference/surya/recognition/__init__.py:609-771).

    Tasks mirror /root/reference/surya/common/surya/schema.py:1-11:
      ocr_with_boxes     — text + char boxes (default)
      ocr_without_boxes  — text only; char bboxes marked invalid
      block_without_boxes— whole-block decode, output wrapped <math>…</math>
                           (the LaTeX OCR mode, scripts/ocr_latex.py:23-31)

    input_text (the "given text, verify/correct" library mode): optional
    per-line text that seeds the decode, per the reference contract —
    prepare_input coerces None→"" and DROPS text longer than the task's
    max_tokens as likely invalid (recognition/__init__.py:281-287; the
    pinned behavior of ref tests/test_recognition.py:17-38, where a
    400-char input must not change output or cost). When the conditioned
    decode confirms the given text, the model emits no new tokens and
    the reference returns TextLine(text="", chars=[], confidence=1,
    original_text_good=True) (recognition/__init__.py:889-899) — the
    surrogate mirrors that short-circuit exactly: given text equal to
    the decoded line returns the empty/flagged result; anything else
    decodes normally (flag absent/False)."""
    cond = (input_text or "").strip()
    if len(cond) > TASK_MAX_TOKENS.get(task, 224):
        cond = ""
    desc = as_crop(crop)
    _, _, cw, ch = desc["crop"]
    best, best_cover = None, -1.0
    for ln in desc["lines"]:
        x1, y1, x2, y2 = ln["bbox"]
        ix = max(0.0, min(x2, cw) - max(x1, 0.0))
        iy = max(0.0, min(y2, ch) - max(y1, 0.0))
        if ix * iy > best_cover:
            best, best_cover = ln, ix * iy
    if best is None:
        return {"text": "", "chars": [], "confidence": 0.0}
    text = best["text"]
    if task == "block_without_boxes" and not text.startswith("<math>"):
        text = f"<math>{text}</math>"
    if cond and cond == text:
        # input text is good — no new tokens decoded (ref :889-899)
        return {"text": "", "chars": [], "confidence": 1.0,
                "original_text_good": True}
    x1, y1, x2, y2 = best["bbox"]
    n = max(1, len(text))
    cw_char = (x2 - x1) / n
    rng = _rng(SEED, "rec", text)
    conf = float(0.9 + 0.1 * rng.rand())
    boxes_valid = task == "ocr_with_boxes"
    chars = [
        {
            "text": text[i],
            "x1": x1 + i * cw_char, "y1": y1,
            "x2": x1 + (i + 1) * cw_char, "y2": y2,
            "confidence": conf, "bbox_valid": boxes_valid,
        }
        for i in range(len(text))
    ]
    return {"text": text, "chars": chars, "confidence": conf}


def surrogate_recognize_batch(crops: list,
                              tasks: list[str],
                              texts: list[str | None] | None = None
                              ) -> list[dict]:
    """The default recognize slot: surrogate_recognize mapped over the
    batch, one result per input crop (either form surrogate_recognize
    takes), in order. A GPU deployment replaces the loop with padded-
    tensor forward passes over the (width-sorted) batch — the padding
    waste bound is what the width-descending admission buys
    (ref /root/reference/surya/recognition/__init__.py:501-607).
    texts: optional per-item input_text (None = unconditioned), the
    batch analog of RecognitionPrompt.text (ref :354-371)."""
    return [surrogate_recognize(c, t, x)
            for c, t, x in zip(crops, tasks, texts or [None] * len(crops))]


class SurrogateStepRecognizer:
    """Step-wise recognizer surrogate for the continuous-batching
    scheduler (recognition._continuous_schedule; ref
    /root/reference/surya/recognition/__init__.py:501-607) that
    recognition.continuous_slot makes a recognize slot. The
    three-callable contract a GPU deployment fills with real tensors:

      prefill(crops, tasks[, texts]) -> list[state]
                                             # encoder pass + KV-cache
                                             # rows for newly admitted;
                                             # texts = optional per-item
                                             # input_text conditioning
                                             # (ref RecognitionPrompt.text)
      step(states) -> list[done: bool]       # ONE decoder step for the
                                             # in-flight batch, each
                                             # state advances one token
      result(state) -> result dict           # detokenize a finished seq

    The surrogate decodes the whole crop at prefill and replays it one
    character per step, so sequence lengths (and therefore slot
    lifetimes) match the text the default slot produces — the
    scheduler's output must be byte-identical to it, pytest-pinned."""

    def prefill(self, crops: list, tasks: list[str],
                texts: list[str | None] | None = None) -> list[dict]:
        return [{"r": surrogate_recognize(c, t, x), "pos": 0}
                for c, t, x in zip(crops, tasks, texts or [None] * len(crops))]

    def step(self, states: list[dict]) -> list[bool]:
        done = []
        for st in states:
            st["pos"] += 1
            done.append(st["pos"] >= len(st["r"]["text"]))
        return done

    def result(self, state: dict) -> dict:
        return state["r"]


# --------------------------------------------------------------------- layout
def surrogate_layout(media_ref: str, width: int, height: int,
                     img_bytes: bytes) -> list[dict]:
    """Emit layout regions in reading order with a deterministic top-5
    label distribution (/root/reference/surya/layout/__init__.py:176-177)."""
    from ..schemas import LAYOUT_LABELS

    desc = decode_page(img_bytes)
    out = []
    for r in sorted(desc.get("regions", []), key=lambda r: r["order"]):
        rng = _rng(SEED, "layout", media_ref, r["order"])
        conf = float(0.7 + 0.3 * rng.rand())
        others = [l for l in LAYOUT_LABELS if l != r["label"]]
        alt = [others[int(i)] for i in rng.choice(len(others), 4, replace=False)]
        rest = (1.0 - conf) / 4.0
        top_k = {r["label"]: conf, **{a: rest for a in alt}}
        x1, y1, x2, y2 = (float(v) for v in r["bbox"])
        out.append({
            "emit_idx": r["order"], "label": r["label"],
            "x1": x1, "y1": y1, "x2": x2, "y2": y2,
            "confidence": conf, "top_k": top_k,
        })
    return out


# ------------------------------------------------------------------ table rec
def surrogate_table(crop: dict | bytes) -> list[dict]:
    """Table crop → row/col items in emit order (pass 1 of the
    reference's two-pass decode, /root/reference/surya/table_rec/__init__.py:181-231).
    The crop is a table_crop_payload dict or its SPC1 blob (as_crop);
    bytes that are not an SPC1 blob yield no items. The cell grid is
    assembled relationally downstream."""
    desc = (as_crop(crop)
            if isinstance(crop, dict) or crop.startswith(CROP_MAGIC)
            else None)
    table = desc.get("table") if desc else None
    if not table:
        return []
    items = []
    x, y = table["x"], table["y"]
    cw, chh = table["cell_w"], table["cell_h"]
    n_rows, n_cols = table["rows"], table["cols"]
    for r in range(n_rows):
        items.append({
            "item_kind": "row", "item_id": r,
            "x1": float(x), "y1": float(y + r * chh),
            "x2": float(x + n_cols * cw), "y2": float(y + (r + 1) * chh),
            "is_header": r == 0, "colspan": None, "rowspan": None,
        })
    for c in range(n_cols):
        items.append({
            "item_kind": "col", "item_id": c,
            "x1": float(x + c * cw), "y1": float(y),
            "x2": float(x + (c + 1) * cw), "y2": float(y + n_rows * chh),
            "is_header": False, "colspan": None, "rowspan": None,
        })
    # pass-2 analog: spanning cells (reference decodes these per row,
    # /root/reference/surya/table_rec/__init__.py:193-231); vertical spans
    # are the merge_up/merge_down rowspan case (:346-377)
    for i, m in enumerate(table.get("merges", [])):
        r, c = m["row"], m["col"]
        cs, rs = m.get("colspan", 1), m.get("rowspan", 1)
        items.append({
            "item_kind": "spanning_cell", "item_id": i,
            "x1": float(x + c * cw), "y1": float(y + r * chh),
            "x2": float(x + (c + cs) * cw), "y2": float(y + (r + rs) * chh),
            "is_header": r == 0, "colspan": cs, "rowspan": rs,
        })
    return items


def table_crop_payload(desc: dict, bbox: list[float]) -> dict:
    """Crop a page descriptor to its table region (coordinates kept in
    crop space): the in-memory crop a table slot takes."""
    cx1, cy1, _, _ = bbox
    t = desc.get("table")
    payload = {"crop": [0.0, 0.0, bbox[2] - bbox[0], bbox[3] - bbox[1]],
               "lines": [], "table": None}
    if t:
        payload["table"] = {**t, "x": t["x"] - cx1, "y": t["y"] - cy1}
    return payload


def encode_table_crop(desc: dict, bbox: list[float]) -> bytes:
    """pack_crop(table_crop_payload(desc, bbox))."""
    return pack_crop(table_crop_payload(desc, bbox))


# -------------------------------------------------------- provider pattern
class ModelProvider:
    """Executor-local lazy singleton for real model weights — the
    deployment-side extension surface mirroring BasePredictor's
    model_loader_cls (/root/reference/surya/common/predictor.py:9-57) and
    the S3 checkpoint source (/root/reference/surya/common/s3.py).

    Broadcast the PATH, never the weights: each executor process loads
    once on first UDF call and caches in the process (Spark reuses Python
    workers across tasks). Usage inside a slot:

        provider = ModelProvider("s3://bucket/detection.pt", load_detector)
        def real_detect(ref, w, h, blob):
            model = provider.get()          # loads once per executor
            ...

    In this sandbox no torch exists, so load_fn is injected; get() raises
    a clear error if the loader needs unavailable libraries.
    """

    _cache: dict = {}  # class-level: one instance per (path) per process

    def __init__(self, checkpoint_path: str, load_fn):
        self.checkpoint_path = checkpoint_path
        self._load_fn = load_fn

    def get(self):
        key = self.checkpoint_path
        if key not in ModelProvider._cache:
            ModelProvider._cache[key] = self._load_fn(self.checkpoint_path)
        return ModelProvider._cache[key]


def render_pdf_pages(pdf_bytes: bytes, dpi: int = 96,
                     indices: list[int] | None = None) -> list[dict]:
    """Deployment slot: render PDF pages to RGB pixel arrays — the
    reference's open_pdf + get_page_images
    (/root/reference/surya/input/processing.py:23-32): pypdfium2 render
    at scale dpi/72 with annotations suppressed, converted to RGB.

    Guarded body: runs for real on a box with pypdfium2 installed
    (test_real_slot_bodies skips-if-absent); raises NotImplementedError
    here so callers fail loudly instead of silently degrading."""
    try:  # pragma: no cover - library absent in this container
        import pypdfium2
    except ImportError as e:
        raise NotImplementedError(
            "PDF rendering requires pypdfium2 — not present in this "
            "container; wire a renderer into media decode slots at "
            "deployment"
        ) from e

    import numpy as np  # pragma: no cover - below runs only with the lib

    doc = pypdfium2.PdfDocument(pdf_bytes)
    try:
        page_idxs = list(indices) if indices is not None else range(len(doc))
        out = []
        for i in page_idxs:
            pil = doc[i].render(scale=dpi / 72,
                                draw_annots=False).to_pil().convert("RGB")
            arr = np.asarray(pil, dtype=np.uint8)
            out.append({
                "page_idx": int(i),
                "width": int(arr.shape[1]),
                "height": int(arr.shape[0]),
                "pixels": arr,
            })
        return out
    finally:
        doc.close()


# ------------------------------------------------------------------ ocr error
def surrogate_ocr_error(text: str) -> str:
    """'good'/'bad' text-quality label, deterministic heuristic standing in
    for the DistilBERT classifier (/root/reference/surya/ocr_error/__init__.py:14-63)."""
    if not text:
        return "bad"
    n = len(text)
    alnum = sum(ch.isalnum() or ch.isspace() for ch in text)
    return "good" if alnum / n >= 0.7 else "bad"
