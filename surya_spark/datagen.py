"""Deterministic synthetic interleaved text+media documents (the input_hint
table) plus page blobs that carry machine-readable ground truth.

Mirrors the reference's fixture strategy: its tests draw pages with known
text so expectations are closed-form (/root/reference/tests/conftest.py:50-75,
/root/reference/tests/test_table_rec.py:23-51). The image libs are not in
this container, so a page "image" is a deterministic fake: a zlib-compressed
JSON page descriptor behind a magic header. The Spark-side plumbing (binary
column, Arrow batching, partitioning, UDF signatures) is real; only the pixel
decode is surrogate. A real deployment swaps the surrogate model slots
(operators/slots.py) for torch models and real PNG bytes — nothing else
changes.

Generation is distributed (spark.range → mapInPandas) and deterministic
per doc index regardless of partitioning: every random choice derives from
md5(seed, doc index).
"""

from __future__ import annotations

import hashlib
import json
import zlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import schemas

MAGIC = b"SPG1"
SEED = 42

_VOCAB = (
    "the quick brown fox jumps over lazy dog lorem ipsum dolor sit amet "
    "consectetur adipiscing elit sed do eiusmod tempor incididunt labore "
    "magna aliqua spark engine document extraction pipeline shuffle "
    "partition arrow vectorized batch polygon detect recognize layout table"
).split()

LINE_SPACING = 40  # px between line tops; band sort tolerance derives from this
BAND = 20  # y-band for reading-order sort; truth y ≡ ~band-center mod spacing


def _seed(*parts) -> int:
    h = hashlib.md5(":".join(str(p) for p in parts).encode()).digest()
    return int.from_bytes(h[:4], "little")


def _rng(*parts) -> np.random.RandomState:
    # A fresh RandomState per call: callers here hold the rng across
    # nested _rng calls (make_page_descriptor, doc_plan), so the reseeded
    # shared instance slots.py uses in its hot path is NOT safe here.
    return np.random.RandomState(_seed(*parts))


def _words(rng: np.random.RandomState, n: int) -> str:
    return " ".join(_VOCAB[i] for i in rng.randint(0, len(_VOCAB), n))


def make_page_descriptor(doc_idx: int, span_offset: int, kind: str) -> dict:
    """Closed-form page truth. kind='page' → text lines (1 or 2 columns);
    kind='table' → ruled grid; kind='image' → a figure region, no text."""
    rng = _rng(SEED, "page", doc_idx, span_offset)
    tall = rng.rand() < 0.05
    width, height = (1024, 4096 if tall else 1024)
    desc: dict = {"w": width, "h": height, "lines": [], "regions": [], "table": None}

    if kind == "table":
        n_rows, n_cols = int(rng.randint(2, 6)), int(rng.randint(2, 5))
        cell_w, cell_h = 100, 40
        tx, ty = 60, 120
        texts = [
            [f"r{r}c{c}_{_VOCAB[int(rng.randint(0, len(_VOCAB)))]}"
             for c in range(n_cols)]
            for r in range(n_rows)
        ]
        # ~40% of tables get one colspan=2 merge, another ~20% a rowspan=2
        # merge — exercises spanning-cell assignment and rowspan merging
        # (/root/reference/surya/table_rec/__init__.py:313-377)
        merges = []
        mdraw = rng.rand()
        if n_cols >= 3 and mdraw < 0.4:
            mr = int(rng.randint(0, n_rows))
            mc = int(rng.randint(0, n_cols - 1))
            merges.append({"row": mr, "col": mc, "colspan": 2, "rowspan": 1})
            texts[mr][mc] = f"m{mr}c{mc}_merged"
            texts[mr][mc + 1] = None  # covered by the span
        elif n_rows >= 3 and mdraw < 0.6:
            mr = int(rng.randint(0, n_rows - 1))
            mc = int(rng.randint(0, n_cols))
            merges.append({"row": mr, "col": mc, "colspan": 1, "rowspan": 2})
            texts[mr][mc] = f"v{mr}c{mc}_merged"
            texts[mr + 1][mc] = None  # covered below
        desc["table"] = {
            "x": tx, "y": ty, "rows": n_rows, "cols": n_cols,
            "cell_w": cell_w, "cell_h": cell_h, "texts": texts,
            "merges": merges,
        }
        desc["regions"] = [
            {"label": "SectionHeader", "bbox": [60, 28, 600, 60], "order": 0},
            {"label": "Table",
             "bbox": [tx, ty, tx + n_cols * cell_w, ty + n_rows * cell_h],
             "order": 1},
        ]
        # page lines = header + one centered text line per cell (detection
        # sees cell contents as ordinary text lines; the table stage later
        # claims them via the cell-assignment join)
        desc["lines"] = [{"bbox": [60, 28, 600, 60],
                          "text": _words(rng, 3)}]
        span_at = {(m["row"], m["col"]): m for m in merges}
        for r in range(n_rows):
            for c in range(n_cols):
                t = texts[r][c]
                if t is None:
                    continue  # covered by a merged cell
                m = span_at.get((r, c), {"colspan": 1, "rowspan": 1})
                lw = min(m["colspan"] * cell_w - 8, 6 * len(t))
                lx = tx + c * cell_w + 4
                # center the line vertically within the (possibly merged)
                # cell block; single cells keep the legacy +12 offset
                ly = ty + r * cell_h + 12 + (m["rowspan"] - 1) * (cell_h // 2)
                desc["lines"].append(
                    {"bbox": [lx, ly, lx + lw, ly + 16], "text": t})
        return desc

    if kind == "image":
        desc["regions"] = [
            {"label": "Picture", "bbox": [100, 100, 900, 700], "order": 0}
        ]
        return desc

    # text page: 1 or 2 columns
    two_col = (not tall) and rng.rand() < 0.3
    n_lines = int(rng.randint(3, 13) if not tall else rng.randint(40, 95))
    margin = 60
    col_w = (width - 2 * margin - 80) // 2 if two_col else width - 2 * margin
    order = 0
    cols = 2 if two_col else 1
    per_col = (n_lines + cols - 1) // cols
    for col in range(cols):
        x0 = margin + col * (col_w + 80)
        for i in range(per_col):
            if order >= n_lines:
                break
            # truth y sits near a band center: offset 8 inside the 20-px band
            y0 = 100 + i * LINE_SPACING + 8
            if y0 + 24 > height - margin:
                break
            n_w = int(rng.randint(2, 7))
            text = _words(_rng(SEED, "line", doc_idx, span_offset, order), n_w)
            w = min(col_w, 12 * len(text))
            desc["lines"].append({"bbox": [x0, y0, x0 + w, y0 + 24], "text": text})
            order += 1
    desc["columns"] = cols
    hdr = desc["lines"][:1]
    if hdr:
        desc["regions"] = [
            {"label": "SectionHeader", "bbox": hdr[0]["bbox"], "order": 0},
            {"label": "Text",
             "bbox": [margin, 100, width - margin,
                      min(height - margin, 100 + per_col * LINE_SPACING + 32)],
             "order": 1},
        ]
    return desc


def encode_page(desc: dict) -> bytes:
    return MAGIC + zlib.compress(json.dumps(desc, sort_keys=True).encode())


def decode_page(blob: bytes) -> dict:
    if not blob.startswith(MAGIC):
        raise ValueError("not an SPG1 page blob")
    return json.loads(zlib.decompress(blob[len(MAGIC):]))


def doc_plan(doc_idx: int) -> list[dict]:
    """The span layout of one document: interleaved text/media, deterministic.
    ~10% of docs are image-heavy (6+ page spans) to exercise skew salting."""
    rng = _rng(SEED, "doc", doc_idx)
    heavy = rng.rand() < 0.10
    n_spans = int(rng.randint(6, 9)) if heavy else int(rng.randint(1, 9))
    doc_id = f"doc-{doc_idx:09d}"
    spans = []
    for off in range(n_spans):
        r = rng.rand()
        if heavy:
            kind = "page" if r < 0.8 else ("table" if r < 0.9 else "text")
        else:
            kind = ("text" if r < 0.45 else
                    "page" if r < 0.80 else
                    "table" if r < 0.90 else "image")
        span = {"kind": kind, "offset": off}
        if kind == "text":
            span["text"] = _words(_rng(SEED, "textspan", doc_idx, off),
                                  int(rng.randint(3, 12)))
            span["media_ref"] = None
        else:
            span["text"] = None
            span["media_ref"] = f"blob://{doc_id}/p{off}"
        spans.append(span)
    return spans


def gen_documents(spark: SparkSession, n_docs: int,
                  partitions: int | None = None) -> DataFrame:
    """documents(doc_id, spans) — distributed, deterministic."""
    parts = partitions or max(8, min(256, n_docs // 256 or 1))

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_idx in pdf["id"]:
                doc_idx = int(doc_idx)
                spans = [
                    {"kind": s["kind"], "text": s["text"],
                     "media_ref": s["media_ref"], "offset": s["offset"]}
                    for s in doc_plan(doc_idx)
                ]
                rows.append({"doc_id": f"doc-{doc_idx:09d}", "spans": spans})
            yield pd.DataFrame(rows)

    return (
        spark.range(0, n_docs, numPartitions=parts)
        .mapInPandas(build, schema=schemas.DOCUMENTS)
    )


def scale_descriptor(desc: dict, s: float) -> dict:
    """Scale every coordinate of a page descriptor by s — the highres
    render of the same page (the reference renders 96 DPI for detection
    and 192 DPI for recognition crops; settings.py:15-16,
    scripts/config.py:36-42). Texts are unchanged."""
    out = dict(desc)
    out["w"] = int(desc["w"] * s)
    out["h"] = int(desc["h"] * s)
    out["lines"] = [
        {**ln, "bbox": [v * s for v in ln["bbox"]]} for ln in desc["lines"]
    ]
    out["regions"] = [
        {**r, "bbox": [v * s for v in r["bbox"]]}
        for r in desc.get("regions", [])
    ]
    if desc.get("table"):
        t = desc["table"]
        out["table"] = {**t, "x": t["x"] * s, "y": t["y"] * s,
                        "cell_w": t["cell_w"] * s, "cell_h": t["cell_h"] * s}
    return out


def gen_page_blobs(spark: SparkSession, n_docs: int,
                   partitions: int | None = None,
                   scale: float = 1.0) -> DataFrame:
    """page_blobs(media_ref, width, height, img_bytes) for every media span.
    scale=2.0 emits the 192-DPI-analog highres render of the same pages."""
    parts = partitions or max(8, min(256, n_docs // 256 or 1))

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_idx in pdf["id"]:
                doc_idx = int(doc_idx)
                doc_id = f"doc-{doc_idx:09d}"
                for s in doc_plan(doc_idx):
                    if s["media_ref"] is None:
                        continue
                    desc = make_page_descriptor(doc_idx, s["offset"], s["kind"])
                    if scale != 1.0:
                        desc = scale_descriptor(desc, scale)
                    rows.append({
                        "media_ref": s["media_ref"],
                        "width": desc["w"], "height": desc["h"],
                        "img_bytes": encode_page(desc),
                    })
            yield pd.DataFrame(rows)

    return (
        spark.range(0, n_docs, numPartitions=parts)
        .mapInPandas(build, schema=schemas.PAGE_BLOBS)
    )


def expected_out_spans(doc_idx: int) -> list[dict]:
    """Closed-form expected output of the extraction pipeline for one doc:
    text spans pass through; each 'page' span expands to one text span per
    truth line in reading order (media_ref preserved); 'table' pages emit
    their header line then cell texts row-major; 'image' spans pass through
    unchanged. offsets re-sequenced 0..n-1."""
    out = []
    for s in doc_plan(doc_idx):
        kind, off = s["kind"], s["offset"]
        if kind == "text":
            out.append({"kind": "text", "text": s["text"], "media_ref": None})
        elif kind == "image":
            out.append({"kind": "image", "text": None,
                        "media_ref": s["media_ref"]})
        else:
            desc = make_page_descriptor(doc_idx, off, kind)
            t = desc["table"]

            def _in_table(ln) -> bool:
                if not t:
                    return False
                cx = (ln["bbox"][0] + ln["bbox"][2]) / 2.0
                cy = (ln["bbox"][1] + ln["bbox"][3]) / 2.0
                return (t["x"] <= cx <= t["x"] + t["cols"] * t["cell_w"]
                        and t["y"] <= cy <= t["y"] + t["rows"] * t["cell_h"])

            for ln in desc["lines"]:
                if _in_table(ln):
                    continue  # claimed by a table cell
                out.append({"kind": "text", "text": ln["text"],
                            "media_ref": s["media_ref"]})
            if t:
                for row in t["texts"]:
                    for cell in row:
                        if cell is None:
                            continue  # covered by a merged cell
                        out.append({"kind": "cell", "text": cell,
                                    "media_ref": s["media_ref"]})
    for i, s in enumerate(out):
        s["offset"] = i
    return out


def write_dataset(spark: SparkSession, out_dir: str, n_docs: int) -> None:
    """Materialize documents + page_blobs as parquet for benches."""
    gen_documents(spark, n_docs).write.mode("overwrite").parquet(
        f"{out_dir}/documents_spans.parquet")
    (gen_page_blobs(spark, n_docs)
     .repartition(max(8, n_docs // 2000 or 1), F.col("media_ref"))
     .write.mode("overwrite").parquet(f"{out_dir}/page_blobs.parquet"))
