"""assemble.page_items — the page pass's cell-text assignment, free-line
and sub_order packing kernel — against its relational formulation
stage_items(ocr_lines, assign_cell_text(cells, ocr_lines)) on
hand-built frames that hit every edge of the contract; and the
self-join form of assign_cell_text."""

from __future__ import annotations

from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from surya_spark.operators import assemble, tables

LINES = ("media_ref string, position int, x1 double, y1 double, "
         "x2 double, y2 double, text string")
CELLS = ("media_ref string, table_idx int, row_id int, col_id int, "
         "is_header boolean, x1 double, y1 double, x2 double, y2 double, "
         "colspan int, rowspan int")
_CELL_KEYS = ("table_idx", "row_id", "col_id", "is_header", "x1", "y1",
              "x2", "y2", "colspan", "rowspan")


def _cell(ref, ti, r, c, x1, y1, x2, y2, header=False, cs=1, rs=1):
    return (ref, ti, r, c, header, x1, y1, x2, y2, cs, rs)


def _line(ref, pos, cx, cy, text):
    # a 10×4 box centered exactly on (cx, cy)
    return (ref, pos, cx - 5.0, cy - 2.0, cx + 5.0, cy + 2.0, text)


# page A: two tables; page B: lines only
_A, _B = "blob://a", "blob://b"
LINE_ROWS = [
    _line(_A, 3, 20.0, 10.0, "beta"),     # cell t0 (0,0), later position
    _line(_A, 1, 30.0, 12.0, "alpha"),    # cell t0 (0,0), first
    _line(_A, 2, 100.0, 10.0, "edge-r"),  # center on t0 (0,0)'s right edge
    _line(_A, 4, 50.0, 40.0, "edge-b"),   # center on t0 (1,0)'s bottom edge
    _line(_A, 5, 50.0, 30.0, "in-10"),    # cell t0 (1,0)
    _line(_A, 6, 250.0, 210.0, "t1"),     # cell t1 (0,0)
    _line(_A, 7, 350.0, 210.0, "dup"),    # duplicated cell t1 (0,1)
    _line(_A, 8, 500.0, 500.0, "free-a"),
    _line(_B, 1, 10.0, 10.0, "free-b1"),
    _line(_B, 2, 10.0, 30.0, "free-b2"),
]
CELL_ROWS = [
    _cell(_A, 0, 0, 0, 0.0, 0.0, 100.0, 20.0, header=True),
    # edge-r's center x=100 is (0,0)'s right edge and left of this cell
    _cell(_A, 0, 0, 1, 101.0, 0.0, 200.0, 20.0),  # empty
    _cell(_A, 0, 1, 0, 0.0, 20.0, 100.0, 40.0),
    _cell(_A, 0, 1, 1, 100.0, 20.0, 200.0, 40.0),  # empty
    # t1 (0,0) has t0 (0,0)'s (row, col): the sub_orders collide
    _cell(_A, 1, 0, 0, 200.0, 200.0, 300.0, 220.0),
    _cell(_A, 1, 0, 1, 300.0, 200.0, 400.0, 220.0, cs=2),
    _cell(_A, 1, 0, 1, 300.0, 200.0, 400.0, 220.0, cs=2),  # duplicate
    _cell(_A, 1, 1, 1, 300.0, 220.0, 400.0, 240.0),  # empty duplicate
    _cell(_A, 1, 1, 1, 300.0, 220.0, 400.0, 240.0),
]


def _relational(spark, line_rows, cell_rows):
    ocr = spark.createDataFrame(line_rows, LINES)
    cells = spark.createDataFrame(cell_rows, CELLS)
    return assemble.stage_items(ocr, tables.assign_cell_text(cells, ocr))


def _kernel(line_rows, cell_rows):
    lines, cells = defaultdict(list), defaultdict(list)
    for ref, pos, x1, y1, x2, y2, text in line_rows:
        lines[ref].append({"position": pos, "x1": x1, "y1": y1,
                           "x2": x2, "y2": y2, "text": text})
    for ref, *vals in cell_rows:
        cells[ref].append(dict(zip(_CELL_KEYS, vals)))
    return [it for ref in sorted(set(lines) | set(cells))
            for it in assemble.page_items(ref, lines[ref], cells[ref])]


def test_page_items_matches_stage_items(spark):
    rel = sorted(tuple(r) for r in
                 _relational(spark, LINE_ROWS, CELL_ROWS).collect())
    got = sorted(_kernel(LINE_ROWS, CELL_ROWS))
    assert got == rel
    cell_text = {(so, t) for _, so, kind, t in got if kind == "cell"}
    free = {t for _, _, kind, t in got if kind == "text"}
    # the edges the relational form pins, spelled out
    assert (1_000_000, "alpha beta") in cell_text       # (position, text)
    assert (1_000_000, "t1") in cell_text               # cross-table collision
    assert (1_000_001, "") in cell_text                 # empty cell
    assert (1_000_001, "dup dup") in cell_text          # duplicate rows
    assert {"edge-r", "edge-b", "free-a", "free-b1", "free-b2"} == free
    assert sum(kind == "cell" for _, _, kind, _ in got) == 7


@pytest.mark.parametrize("line_rows, cell_rows, message", [
    ([_line(_A, 1_000_000, 500.0, 500.0, "far")], [],
     assemble.LINE_BOUND_ERROR),
    ([], [_cell(_A, 0, 0, 1000, 0.0, 0.0, 10.0, 10.0)],
     assemble.CELL_BOUND_ERROR),
], ids=["line", "cell"])
def test_packing_bounds_raise_on_both_paths(spark, line_rows, cell_rows,
                                            message):
    with pytest.raises(ValueError, match=message):
        _kernel(line_rows, cell_rows)
    with pytest.raises(Exception, match=message):
        _relational(spark, line_rows, cell_rows).collect()


def test_assign_cell_text_self_join(spark):
    """cells and ocr_lines projected from ONE persisted frame (two
    projections of a union) must resolve their join instead of failing
    with an ambiguous media_ref, and equal the separately built
    inputs' result."""
    ocr = spark.createDataFrame(LINE_ROWS, LINES)
    cells = spark.createDataFrame(CELL_ROWS, CELLS)
    expected = sorted(
        (tuple(r) for r in tables.assign_cell_text(cells, ocr).collect()),
        key=repr)

    union = (
        ocr.withColumn("kind", F.lit("line"))
        .unionByName(cells.withColumn("kind", F.lit("cell")),
                     allowMissingColumns=True)
        .persist()
    )
    one_ocr = union.filter(F.col("kind") == "line").select(*ocr.columns)
    one_cells = union.filter(F.col("kind") == "cell").select(*cells.columns)
    got = sorted(
        (tuple(r) for r in
         tables.assign_cell_text(one_cells, one_ocr).collect()),
        key=repr)
    union.unpersist()
    assert got == expected and len(got) == 7
