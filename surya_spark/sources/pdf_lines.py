"""PDF text-line ground-truth source — the real-data oracle the reference's
detection benchmark reads (/root/reference/benchmark/utils/bbox.py:5-22):
pymupdf's sorted text dict per page → line bboxes rescaled from PDF points
into image pixel space (int truncation, ref surya/common/util.py:39-51),
then vertically-adjacent contained lines joined (bbox.py:28-53).

The extractor is an injectable slot: `pymupdf_extract` is the deployment
body (pymupdf is not in this container → NotImplementedError); the
deterministic `fake_pdf_extract` reads SPG1 fixture descriptors so the
Spark plumbing (schema, batching, rescale, join_lines) is fully tested.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

PDF_LINES = T.StructType([
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("page_idx", T.IntegerType(), False),
    T.StructField("line_idx", T.IntegerType(), False),
    T.StructField("x1", T.DoubleType(), False),
    T.StructField("y1", T.DoubleType(), False),
    T.StructField("x2", T.DoubleType(), False),
    T.StructField("y2", T.DoubleType(), False),
])


def pymupdf_extract(pdf_bytes: bytes) -> list[dict]:
    """Deployment slot: pymupdf sorted text dict per page →
    [{page_w, page_h, lines: [[x1,y1,x2,y2], ...]}] in reading order —
    the reference's get_pdf_lines (ref benchmark/utils/bbox.py:5-22):
    TEXTFLAGS_DICT minus ligature/image preservation, line bboxes
    flattened across blocks, page dims from page.bound(). Guarded: runs
    on a box with pymupdf (test_real_slot_bodies skips-if-absent)."""
    try:  # pragma: no cover - library absent in this container
        import fitz
    except ImportError as e:
        raise NotImplementedError(
            "pymupdf is not present in this container; inject a real "
            "extractor via pdf_text_lines(extractor=...)") from e

    # pragma: no cover - below runs only with the lib
    flags = (fitz.TEXTFLAGS_DICT
             & ~fitz.TEXT_PRESERVE_LIGATURES
             & ~fitz.TEXT_PRESERVE_IMAGES)
    doc = fitz.open(stream=pdf_bytes, filetype="pdf")
    try:
        pages = []
        for page in doc:
            blocks = page.get_text("dict", sort=True, flags=flags)["blocks"]
            lines = [list(ln["bbox"])
                     for block in blocks
                     for ln in block.get("lines", [])]
            r = page.bound()
            pages.append({
                "page_w": float(r[2] - r[0]),
                "page_h": float(r[3] - r[1]),
                "lines": lines,
            })
        return pages
    finally:
        doc.close()


def fake_pdf_extract(pdf_bytes: bytes) -> list[dict]:
    """Deterministic extractor for SPG1 fixture blobs: one 'PDF page' whose
    point space is half the pixel space (so the rescale path is exercised
    with a non-unit scaler)."""
    from ..datagen import decode_page

    d = decode_page(pdf_bytes)
    return [{
        "page_w": d["w"] / 2.0, "page_h": d["h"] / 2.0,
        "lines": [[v / 2.0 for v in ln["bbox"]] for ln in d["lines"]],
    }]


def pdf_text_lines(pdfs: DataFrame,
                   extractor: Callable[[bytes], list[dict]] = fake_pdf_extract
                   ) -> DataFrame:
    """pdf blobs (media_ref, img_bytes, width, height) → ground-truth line
    table (media_ref, page_idx, line_idx, bbox in IMAGE pixel space).
    Rescale from PDF point space uses int truncation exactly like the
    reference (surya/common/util.py:39-51)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, blob, iw, ih in zip(
                pdf["media_ref"], pdf["img_bytes"], pdf["width"],
                pdf["height"]
            ):
                for pi, page in enumerate(extractor(bytes(blob))):
                    ws = float(iw) / page["page_w"]
                    hs = float(ih) / page["page_h"]
                    for li, b in enumerate(page["lines"]):
                        rows.append({
                            "media_ref": ref, "page_idx": pi, "line_idx": li,
                            "x1": float(int(b[0] * ws)),
                            "y1": float(int(b[1] * hs)),
                            "x2": float(int(b[2] * ws)),
                            "y2": float(int(b[3] * hs)),
                        })
            yield pd.DataFrame(rows)

    return pdfs.select("media_ref", "img_bytes", "width", "height") \
        .mapInPandas(run, schema=PDF_LINES)


# join_adjacent_lines' largest vertical gap between joined lines
# (ref benchmark/utils/bbox.py:28-53)
MAX_JOIN_GAP = 5.0


def join_adjacent_lines(lines: DataFrame) -> DataFrame:
    """The reference's join_lines (benchmark/utils/bbox.py:28-53): when an
    earlier line horizontally contains a later one and the vertical gap
    |y1_a − y2_b| ≤ MAX_JOIN_GAP, the later merges into the earlier. The
    greedy accumulate-into-first semantics are ordered → applyInPandas
    per (media_ref, page_idx) group; groups are one PDF page (small), the
    shuffle key is the page — scales."""
    schema = lines.schema

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("line_idx", kind="mergesort")
        recs = pdf.to_dict("records")
        to_merge: dict[int, list[int]] = {}
        for i, a in enumerate(recs):
            for j in range(i + 1, len(recs)):
                b = recs[j]
                if (a["x1"], a["y1"], a["x2"], a["y2"]) == (
                        b["x1"], b["y1"], b["x2"], b["y2"]):
                    continue
                if (a["x1"] <= b["x1"] and a["x2"] >= b["x2"]
                        and abs(a["y1"] - b["y2"]) <= MAX_JOIN_GAP):
                    to_merge.setdefault(i, []).append(j)
        merged_away: set[int] = set()
        out = []
        for i, a in enumerate(recs):
            if i in merged_away:
                continue
            for j in to_merge.get(i, ()):
                b = recs[j]
                a["x1"] = min(a["x1"], b["x1"])
                a["y1"] = min(a["y1"], b["y1"])
                a["x2"] = max(a["x2"], b["x2"])
                a["y2"] = max(a["y2"], b["y2"])
                merged_away.add(j)
            out.append(a)
        return pd.DataFrame(out, columns=[f.name for f in schema])

    return lines.groupBy("media_ref", "page_idx").applyInPandas(merge, schema)
