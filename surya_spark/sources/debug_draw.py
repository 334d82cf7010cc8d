"""Debug overlay sink: rasterize line/region/cell polygons + labels onto
page canvases and write one PNG per page — the engine's analog of the
reference's visualization helpers
(/root/reference/surya/debug/draw.py draw_polys_on_image /
draw_bboxes_on_image, used by its CLIs' --images flag and streamlit app).

Everything is pure numpy + zlib (no PIL in this container): polygon
outlines are DDA segments, labels render from a built-in 3×5 bitmap
font onto a white backing box (the reference draws a white rectangle
behind each label too), and the PNG writer emits a minimal 8-bit RGB
stream (filter 0 rows, one zlib IDAT). A deployment with PIL installed
can swap encode_png for PIL.Image.save and paint onto real decoded page
pixels; here the canvas is white since SPG1 page blobs carry truth
descriptors, not pixels — the Spark-side plumbing (per-page aggregate
join, mapInPandas batch shape, file sink) is the real, tested surface.

Scale note: overlays are page-grain (keyed by media_ref) and reuse the
aggregate-then-join shape of slice_crops — item lists shuffle, page
rows don't fan out, and the PNG encode is perfectly parallel. The file
sink writes from executors (foreachPartition) into a shared directory,
the cluster analog of the reference's local results dir.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# 3×5 bitmap font, rows top→bottom, 3 bits per row (msb = left pixel).
_GLYPHS = {
    "a": "010 101 111 101 101", "b": "110 101 110 101 110",
    "c": "011 100 100 100 011", "d": "110 101 101 101 110",
    "e": "111 100 110 100 111", "f": "111 100 110 100 100",
    "g": "011 100 101 101 011", "h": "101 101 111 101 101",
    "i": "111 010 010 010 111", "j": "001 001 001 101 010",
    "k": "101 110 100 110 101", "l": "100 100 100 100 111",
    "m": "101 111 111 101 101", "n": "101 111 101 101 101",
    "o": "010 101 101 101 010", "p": "110 101 110 100 100",
    "q": "010 101 101 110 011", "r": "110 101 110 110 101",
    "s": "011 100 010 001 110", "t": "111 010 010 010 010",
    "u": "101 101 101 101 111", "v": "101 101 101 101 010",
    "w": "101 101 111 111 101", "x": "101 101 010 101 101",
    "y": "101 101 010 010 010", "z": "111 001 010 100 111",
    "0": "111 101 101 101 111", "1": "010 110 010 010 111",
    "2": "111 001 111 100 111", "3": "111 001 111 001 111",
    "4": "101 101 111 001 001", "5": "111 100 111 001 111",
    "6": "111 100 111 101 111", "7": "111 001 001 010 010",
    "8": "111 101 111 101 111", "9": "111 101 111 001 111",
    "-": "000 000 111 000 000", "_": "000 000 000 000 111",
    ".": "000 000 000 000 010", ":": "000 010 000 010 000",
    "/": "001 001 010 100 100", " ": "000 000 000 000 000",
}
_FONT = {
    ch: np.array([[int(b) for b in row] for row in spec.split()],
                 dtype=bool)
    for ch, spec in _GLYPHS.items()
}
_UNKNOWN = np.ones((5, 3), dtype=bool)


def _draw_segment(arr: np.ndarray, x0: float, y0: float,
                  x1: float, y1: float, color) -> None:
    """1-px DDA line segment, clipped to the array."""
    h, w = arr.shape[:2]
    n = int(max(abs(x1 - x0), abs(y1 - y0))) + 1
    xs = np.round(np.linspace(x0, x1, n)).astype(int)
    ys = np.round(np.linspace(y0, y1, n)).astype(int)
    keep = (xs >= 0) & (xs < w) & (ys >= 0) & (ys < h)
    arr[ys[keep], xs[keep]] = color


def draw_text(arr: np.ndarray, x: int, y: int, text: str, color) -> int:
    """Render `text` at (x, y) with the 3×5 font (1-px letter spacing,
    case-folded). Returns the rendered pixel width."""
    h, w = arr.shape[:2]
    cx = x
    for ch in str(text).lower():
        glyph = _FONT.get(ch, _UNKNOWN)
        ys, xs = np.nonzero(glyph)
        px, py = cx + xs, y + ys
        keep = (px >= 0) & (px < w) & (py >= 0) & (py < h)
        arr[py[keep], px[keep]] = color
        cx += 4
    return cx - x - 1


def draw_polys_on_array(arr: np.ndarray, polys, labels=None,
                        color=(255, 0, 0), colors=None,
                        label_offset: int = 1) -> np.ndarray:
    """Outline each polygon (closed ring of DDA segments) and, like the
    reference (draw.py:23-52), render its label on a white backing box
    anchored at the polygon's top-left corner + label_offset. colors:
    optional per-item color list (the reference's color: list form)."""
    for i, poly in enumerate(polys):
        c = colors[i] if colors is not None else color
        pts = [(float(p[0]), float(p[1])) for p in poly]
        for (x0, y0), (x1, y1) in zip(pts, pts[1:] + pts[:1]):
            _draw_segment(arr, x0, y0, x1, y1, c)
        if labels is not None and labels[i] is not None:
            label = str(labels[i])
            lx = int(min(p[0] for p in pts)) + label_offset
            ly = int(min(p[1] for p in pts)) + label_offset
            tw = 4 * len(label) - 1
            h, w = arr.shape[:2]
            bx0, by0 = max(0, lx - 1), max(0, ly - 1)
            bx1, by1 = min(w, lx + tw + 1), min(h, ly + 6)
            if bx1 > bx0 and by1 > by0:
                arr[by0:by1, bx0:bx1] = (255, 255, 255)
            draw_text(arr, lx, ly, label, c)
    return arr


def draw_bboxes_on_array(arr: np.ndarray, bboxes, labels=None,
                         color=(255, 0, 0), colors=None) -> np.ndarray:
    """bbox form → clockwise polygons, then draw_polys_on_array (the
    reference's draw_bboxes_on_image, draw.py:8-21)."""
    polys = [
        [[b[0], b[1]], [b[2], b[1]], [b[2], b[3]], [b[0], b[3]]]
        for b in bboxes
    ]
    return draw_polys_on_array(arr, polys, labels, color, colors)


def encode_png(arr: np.ndarray) -> bytes:
    """Minimal PNG encoder: 8-bit RGB, filter 0 on every row, one zlib
    IDAT. Standard-conformant output any viewer opens; no image library
    needed."""
    a = np.ascontiguousarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = np.repeat(a[:, :, None], 3, axis=2)
    h, w = a.shape[:2]

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return (struct.pack(">I", len(payload)) + tag + payload
                + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + a[y].tobytes() for y in range(h))
    return (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw, 6))
            + chunk(b"IEND", b""))


def decode_png_rgb(png: bytes) -> np.ndarray:
    """Inverse of encode_png for filter-0 8-bit RGB streams (test/debug
    helper; not a general PNG reader)."""
    assert png[:8] == b"\x89PNG\r\n\x1a\n"
    pos, idat, w = 8, b"", 0
    h = 0
    while pos < len(png):
        (ln,) = struct.unpack(">I", png[pos:pos + 4])
        tag = png[pos + 4:pos + 8]
        payload = png[pos + 8:pos + 8 + ln]
        if tag == b"IHDR":
            w, h = struct.unpack(">II", payload[:8])
        elif tag == b"IDAT":
            idat += payload
        pos += 12 + ln
    raw = zlib.decompress(idat)
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, 1 + 3 * w)
    assert (rows[:, 0] == 0).all(), "only filter-0 rows supported"
    return rows[:, 1:].reshape(h, w, 3)


_OVERLAY = T.StructType([
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("width", T.IntegerType(), False),
    T.StructField("height", T.IntegerType(), False),
    T.StructField("n_items", T.IntegerType(), False),
    T.StructField("png", T.BinaryType(), False),
])


def debug_overlays(items: DataFrame, pages: DataFrame,
                   label_col: str | None = None,
                   color=(255, 0, 0)) -> DataFrame:
    """items(media_ref, x1, y1, x2, y2[, polygon][, label_col]) ⋈ pages →
    one PNG overlay per page. Same physical shape as slice_crops: items
    aggregate per page (tiny payload), shuffle-hash join onto the page
    rows (corpus-derived build side — never driver-broadcast), all
    drawing inside one mapInPandas pass. Canvas is white at the page's
    (width, height); a pixel-bearing deployment paints onto the decoded
    page instead."""
    has_poly = "polygon" in items.columns
    cols = [F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2")]
    if has_poly:
        cols.append(F.col("polygon"))
    if label_col:
        cols.append(F.col(label_col).cast("string").alias("_label"))
    agg = items.groupBy("media_ref").agg(
        F.collect_list(F.struct(*cols)).alias("items"))
    joined = pages.select("media_ref", "width", "height").join(
        agg.hint("shuffle_hash"), "media_ref", "inner")

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for ref, w, h, its in zip(pdf["media_ref"], pdf["width"],
                                      pdf["height"], pdf["items"]):
                w, h = int(w), int(h)
                arr = np.full((h, w, 3), 255, dtype=np.uint8)
                polys, labels = [], []
                for it in its:
                    poly = it["polygon"] if has_poly else None
                    if poly is not None and len(poly) >= 3:
                        polys.append([[float(p[0]), float(p[1])]
                                      for p in poly])
                    else:
                        x1, y1, x2, y2 = (float(it["x1"]), float(it["y1"]),
                                          float(it["x2"]), float(it["y2"]))
                        polys.append([[x1, y1], [x2, y1],
                                      [x2, y2], [x1, y2]])
                    labels.append(it["_label"] if label_col else None)
                draw_polys_on_array(
                    arr, polys,
                    labels=labels if label_col else None, color=color)
                rows.append({
                    "media_ref": ref, "width": w, "height": h,
                    "n_items": len(polys), "png": encode_png(arr),
                })
            yield pd.DataFrame(rows)

    return joined.mapInPandas(run, schema=_OVERLAY)


def write_pngs(overlays: DataFrame, out_dir: str) -> None:
    """File sink: one `<sanitized media_ref>.png` per page under out_dir,
    written from the executors (the cluster analog of the reference CLIs'
    --images results folder; out_dir must be shared storage on a real
    cluster)."""
    import os
    import re

    def write_part(rows) -> None:
        os.makedirs(out_dir, exist_ok=True)
        for r in rows:
            name = re.sub(r"[^A-Za-z0-9._-]+", "_", r["media_ref"])
            with open(os.path.join(out_dir, f"{name}.png"), "wb") as fh:
                fh.write(bytes(r["png"]))

    overlays.select("media_ref", "png").foreachPartition(write_part)
