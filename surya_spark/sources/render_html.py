"""HTML text-render view: recognized lines re-typeset as an absolutely
positioned HTML page — the engine's analog of the reference's KaTeX
debug renderer (/root/reference/surya/debug/render_html.py
render_text_as_html, used by its streamlit/texify apps to visually
check OCR + math output against the page image).

Contract mirrored from the reference:
  * every coordinate is scaled by SCALER (2) and int-truncated;
  * per-box font size = min(0.75 * min(width, height), BASE_FONT_SIZE);
  * boxes taller than 2x their width get the vertical writing-mode class;
  * text that already carries HTML/MathML markup (html/math/div/sub/sup/
    i/u/mark/small/del/b/br/code tags) is embedded as-is so the math
    renderer can typeset it; everything else is HTML-escaped.

The vendored katex.js the reference inlines is replaced by a MARKER
script tag (a deployment drops the real bundle in; this repo ships no
third-party code). The Spark operator is page-grain like every other
overlay: lines aggregate per media_ref, join the page dims, one
mapInPandas pass builds the documents — nothing here shuffles blobs.
"""

from __future__ import annotations

import html as _html
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# tags whose presence means "already markup — embed, don't escape"
_MARKUP_RE = re.compile(
    r"<(html|math|div|sub|sup|i|u|mark|small|del|b|br|code)\b",
    re.IGNORECASE)

KATEX_MARKER = "<!-- katex.js bundle goes here at deployment -->"
# the reference's render_text_as_html defaults
BASE_FONT_SIZE = 16
SCALER = 2

_PAGE_CSS = """
body {{ margin: 0; padding: 0; width: {w}px; height: {h}px;
       position: relative; overflow: hidden;
       background: white; color: black; }}
.text-box {{ position: absolute; overflow: hidden; display: flex;
             justify-content: left; font-family: Arial, sans-serif;
             white-space: pre-wrap; }}
.vertical-text {{ writing-mode: vertical-rl; }}
"""


def _box_span(i: int, text: str, bbox) -> str:
    x1, y1, x2, y2 = (int(v * SCALER) for v in bbox)
    w, h = x2 - x1, y2 - y1
    font = min(int(min(w, h) * 0.75), BASE_FONT_SIZE)
    cls = "text-box vertical-text" if h > 2 * w else "text-box"
    body = (text if ("<" in text and ">" in text
                     and _MARKUP_RE.search(text))
            else _html.escape(text))
    style = (f"left: {x1}px; top: {y1}px; width: {w}px; "
             f"height: {h}px; font-size: {font}px;")
    return (f'<span class="{cls}" id="box-{i}" '
            f'style="{style}">{body}</span>')


def page_html(texts, bboxes, width: int, height: int) -> str:
    """One self-contained HTML document re-typesetting the page's lines
    (ref render_text_as_html semantics, see module docstring)."""
    w, h = int(width * SCALER), int(height * SCALER)
    spans = "\n".join(
        _box_span(i, t, b)
        for i, (t, b) in enumerate(zip(texts, bboxes)))
    return (
        "<!DOCTYPE html>\n<html>\n<head>\n<style>"
        + _PAGE_CSS.format(w=w, h=h)
        + "</style>\n" + KATEX_MARKER + "\n</head>\n<body>\n"
        + spans + "\n</body></html>"
    )


_RENDERED = T.StructType([
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("n_lines", T.IntegerType(), False),
    T.StructField("html", T.StringType(), False),
])


def html_render_pages(ocr_lines: DataFrame, pages: DataFrame) -> DataFrame:
    """ocr_lines(media_ref, position, text, x1..y2) ⋈ page dims → one
    HTML document per page, lines in reading order. Aggregate-then-join
    (shuffle_hash — the line table derives from the corpus, never a
    driver broadcast); only (width, height) of the pages join in, so
    column pruning keeps blob bytes out of the scan."""
    agg = ocr_lines.groupBy("media_ref").agg(
        F.array_sort(
            F.collect_list(F.struct("position", "text",
                                    "x1", "y1", "x2", "y2"))
        ).alias("lines"))
    joined = pages.select("media_ref", "width", "height").join(
        agg.hint("shuffle_hash"), "media_ref", "inner")

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for ref, w, h, lines in zip(pdf["media_ref"], pdf["width"],
                                        pdf["height"], pdf["lines"]):
                texts = [ln["text"] for ln in lines]
                bboxes = [[float(ln["x1"]), float(ln["y1"]),
                           float(ln["x2"]), float(ln["y2"])]
                          for ln in lines]
                rows.append({
                    "media_ref": ref, "n_lines": len(texts),
                    "html": page_html(texts, bboxes, int(w), int(h)),
                })
            yield pd.DataFrame(rows)

    return joined.mapInPandas(run, schema=_RENDERED)


def write_html(rendered: DataFrame, out_dir: str) -> None:
    """One `<sanitized media_ref>.html` per page under out_dir, written
    from the executors (shared storage on a real cluster)."""
    import os

    def write_part(rows) -> None:
        os.makedirs(out_dir, exist_ok=True)
        for r in rows:
            name = re.sub(r"[^A-Za-z0-9._-]+", "_", r["media_ref"])
            with open(os.path.join(out_dir, f"{name}.html"), "w",
                      encoding="utf-8") as fh:
                fh.write(r["html"])

    rendered.select("media_ref", "html").foreachPartition(write_part)
