"""Span re-assembly: span items → out_spans(doc_id, spans) satisfying the
per-row invariant (kind, text, media_ref, order).

A span item is (media_ref, sub_order, kind, text). The page pass emits
them per page (page_items, run inside fused.fused_page_items); the
relational stage tables give the same items through stage_items; both
end in assemble_items.

Replaces the reference's slice_map / table_counts offset bookkeeping
(/root/reference/surya/recognition/__init__.py:176,880-885,
 /root/reference/surya/scripts/table_recognition.py:62,79-96) with keyed
joins: every item carries (doc_id, span offset, sub_order) and the final
order is one grouped array sort — no positional arithmetic anywhere.

Contract per input span, in offset order:
  kind='text'  → passes through unchanged (already-extracted content is
                 preserved, mirroring original_text_good=True passthrough at
                 /root/reference/surya/recognition/__init__.py:889-899)
  kind='image' → passes through (opaque figure media)
  kind='page'  → one 'text' span per OCR line in reading order
  kind='table' → 'text' spans for lines outside the table grid, then one
                 'cell' span per grid cell in row-major order
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def explode_spans(documents: DataFrame) -> DataFrame:
    """One row per span: (doc_id, kind, text, media_ref, offset)."""
    # a SQL string is parsed in the JVM in one call; the Column-API
    # form cost a py4j round trip per expression node (driver plan
    # build time)
    return documents.selectExpr("doc_id", "inline(spans)")


def media_spans(span_rows: DataFrame) -> DataFrame:
    return span_rows.filter(F.col("kind").isin("page", "table", "image"))


def free_lines(ocr_lines: DataFrame, cells: DataFrame | None) -> DataFrame:
    """OCR lines not claimed by any table cell (center-containment anti-join)."""
    if cells is None:
        return ocr_lines
    ln = ocr_lines.alias("l")
    cl = cells.alias("c")
    lcx = (F.col("l.x1") + F.col("l.x2")) / 2
    lcy = (F.col("l.y1") + F.col("l.y2")) / 2
    pred = (
        (F.col("l.media_ref") == F.col("c.media_ref"))
        & (lcx >= F.col("c.x1")) & (lcx < F.col("c.x2"))
        & (lcy >= F.col("c.y1")) & (lcy < F.col("c.y2"))
    )
    # cells are data-derived: keep the anti-join a shuffled hash join
    return ln.join(cl.hint("shuffle_hash"), on=pred, how="left_anti")


# span packing: line sub_orders live in [0, LINE_BOUND), cell sub_orders
# at LINE_BOUND + row_id·CELL_COLS + col_id for row_id < ROW_BOUND —
# guarded at runtime on both paths (stage_items, page_items) because
# silent violation would mis-order spans, not fail
LINE_BOUND, CELL_COLS, ROW_BOUND = 1_000_000, 1000, 1_000_000_000
LINE_BOUND_ERROR = "assemble_spans: line position >= 1e6 breaks span packing"
CELL_BOUND_ERROR = (
    "assemble_spans: table exceeds 1000 cols / 1e9 rows packing bound")

ITEMS = T.StructType([
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("sub_order", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),
    T.StructField("text", T.StringType(), False),
])


def stage_items(ocr_lines: DataFrame,
                cells: DataFrame | None = None) -> DataFrame:
    """ocr_lines + cells with text (tables.assign_cell_text) → span items
    (media_ref, sub_order, kind, text): free lines (center-containment
    anti-join) as 'text' items at sub_order = position, cells as 'cell'
    items at LINE_BOUND + row_id·CELL_COLS + col_id. The relational
    formulation the page pass (fused.fused_page_items, kernel
    page_items) is pinned equal to."""
    line_order = F.when(
        F.col("position") < LINE_BOUND, F.col("position").cast("long")
    ).otherwise(F.raise_error(LINE_BOUND_ERROR).cast("long"))
    lines = free_lines(ocr_lines, cells).select(
        "media_ref",
        line_order.alias("sub_order"),
        F.lit("text").alias("kind"), "text",
    )
    if cells is None:
        return lines
    cell_order = F.when(
        (F.col("col_id") < CELL_COLS) & (F.col("row_id") < ROW_BOUND),
        F.lit(LINE_BOUND) + F.col("row_id").cast("long") * CELL_COLS
        + F.col("col_id"),
    ).otherwise(F.raise_error(CELL_BOUND_ERROR).cast("long"))
    # union here so assemble_items joins the media spans ONCE (half the
    # join stages of a per-stream formulation); the sub_order ranges are
    # disjoint by the packing invariant, so the union is conflict-free
    return lines.unionByName(cells.select(
        "media_ref",
        cell_order.alias("sub_order"),
        F.lit("cell").alias("kind"), "text",
    ))


def page_items(ref: str, lines: list[dict], cells: list[dict]) -> list:
    """Per-page twin of tables.assign_cell_text + stage_items, as a plain
    kernel: `lines` are one page's recognized lines (position, x1, y1,
    x2, y2, text), `cells` its table cells as tables.cells_for_table
    emits them plus table_idx, without text. Returns the page's
    (media_ref, sub_order, kind, text) items.

    Same semantics as the relational pair, edge cases included:
    containment tests the line center against [x1, x2) × [y1, y2); a
    cell's text is its lines ordered by (position, text) joined with
    one space ("" when it holds none); identical cell rows collapse to
    one item, and — like the groupBy over the left join — their lines
    repeat once per duplicate; a line inside any cell of the page is
    not a free line; sub_orders pack across all tables of the page and
    the same packing bounds raise."""
    centers = [((ln["x1"] + ln["x2"]) / 2, (ln["y1"] + ln["y2"]) / 2)
               for ln in lines]
    claimed = [False] * len(lines)
    copies: dict = {}
    for c in cells:
        key = tuple(sorted(c.items()))
        copies[key] = copies.get(key, 0) + 1
    items = []
    for key, k in copies.items():
        c = dict(key)
        inside = []
        for i, (cx, cy) in enumerate(centers):
            if c["x1"] <= cx < c["x2"] and c["y1"] <= cy < c["y2"]:
                claimed[i] = True
                inside.append((lines[i]["position"], lines[i]["text"]))
        if not (c["col_id"] < CELL_COLS and c["row_id"] < ROW_BOUND):
            raise ValueError(CELL_BOUND_ERROR)
        items.append((
            ref, LINE_BOUND + c["row_id"] * CELL_COLS + c["col_id"], "cell",
            " ".join(t for _, t in sorted(inside * k)),
        ))
    for ln, taken in zip(lines, claimed):
        if taken:
            continue
        if not ln["position"] < LINE_BOUND:
            raise ValueError(LINE_BOUND_ERROR)
        items.append((ref, int(ln["position"]), "text", ln["text"]))
    return items


def assemble_items(documents: DataFrame, items: DataFrame) -> DataFrame:
    """documents + span items (media_ref, sub_order, kind, text) →
    out_spans(doc_id, spans array<struct<kind,text,media_ref,offset>>):
    text/image spans pass through, items take the (doc_id, offset) of
    their media span, and one doc_id groupBy orders everything."""
    span_rows = explode_spans(documents)

    passthrough = span_rows.filter(F.col("kind").isin("text", "image")).select(
        "doc_id", "offset",
        F.lit(0).cast("long").alias("sub_order"),
        "kind", "text", "media_ref",
    )

    # derived from the full documents table — shuffle-hash, never a
    # driver-built broadcast (serial cost ∝ corpus size)
    media = media_spans(span_rows).select(
        "doc_id", "offset", "media_ref").hint("shuffle_hash")

    rows = passthrough.unionByName(
        items.join(media, "media_ref").select(
            "doc_id", "offset", "sub_order", "kind", "text", "media_ref",
        )
    )

    # single groupBy: collect (offset, sub_order)-keyed structs, sort
    # inside the array, re-number with the transform index. One exchange
    # on doc_id — the window+row_number formulation costs an extra
    # partition-wide sort pass for identical semantics ((offset,
    # sub_order) is unique per doc, so array_sort's struct ordering is a
    # total order).
    return (
        rows.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("offset", "sub_order",
                             "kind", "text", "media_ref")
                )
            ).alias("_s")
        )
        .selectExpr(
            "doc_id",
            "transform(_s, (s, i) -> named_struct('kind', s.kind, "
            "'text', s.text, 'media_ref', s.media_ref, 'offset', i)) "
            "AS spans",
        )
    )


def assemble_spans(documents: DataFrame, ocr_lines: DataFrame,
                   cells: DataFrame | None = None) -> DataFrame:
    """→ out_spans from the relational stage tables: ocr_lines and cells
    with text (tables.assign_cell_text)."""
    return assemble_items(documents, stage_items(ocr_lines, cells))
