"""Geometry as Spark Column expressions — the scalar-function library of the
document domain.

Re-expresses the semantics of the reference's PolygonBox methods
(/root/reference/surya/common/polygon.py:40-198) and bbox utils
(/root/reference/surya/common/util.py:9-62) as JVM-side, codegen-friendly
column expressions. No Python executes per row: every function here returns
a Column built from pyspark.sql.functions.

Conventions: a bbox is four Double columns (x1, y1, x2, y2); a polygon is
array<array<double>> of 4 clockwise corners. Prefer the flat bbox columns in
predicates (pushdown + codegen); keep polygons only where corner-accurate
geometry matters.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


# ---------------------------------------------------------------- polygon ops
def poly_bbox(poly: Column) -> list[Column]:
    """[min_x, min_y, max_x, max_y] over the 4 corners.
    Ref semantics: surya/common/polygon.py:52-57."""
    xs = F.transform(poly, lambda c: c[0])
    ys = F.transform(poly, lambda c: c[1])
    return [
        F.array_min(xs).alias("x1"),
        F.array_min(ys).alias("y1"),
        F.array_max(xs).alias("x2"),
        F.array_max(ys).alias("y2"),
    ]


def poly_rescale(poly: Column, sx: Column | float, sy: Column | float) -> Column:
    """Scale corners by (sx, sy), truncating toward zero like Python int().
    Ref: surya/common/polygon.py:59-69 (int() truncation is part of the
    span-equality contract — do not use floor, which differs on negatives)."""
    sx, sy = F.lit(sx), F.lit(sy)
    return F.transform(
        poly,
        lambda c: F.array(
            (c[0] * sx).cast("long").cast("double"),
            (c[1] * sy).cast("long").cast("double"),
        ),
    )




def bbox_to_poly(x1: Column, y1: Column, x2: Column, y2: Column) -> Column:
    """Axis-aligned clockwise polygon from bbox corners."""
    return F.array(
        F.array(x1, y1), F.array(x2, y1), F.array(x2, y2), F.array(x1, y2)
    )


# ------------------------------------------------------------ bbox6 encoding
# Models emit boxes as (cx, cy, width, height, skew_x, skew_y) 6-tuples in
# 0..1024 space; the engine contract is 4-corner polygons. These expressions
# are required the moment a real model is plugged into any slot.

BOX_DIM = 1024.0  # ref surya/table_rec/model/config.py BOX_DIM
# a 6-tuple's skews are shifted by SKEW_SCALER into positive space, and a
# skew under SKEW_MIN in magnitude is zero (ref surya/layout/util.py:4-40)
SKEW_SCALER = BOX_DIM // 2
SKEW_MIN = 0.001


def bbox6_to_poly(cx: Column, cy: Column, w: Column, h: Column,
                  sx6: Column, sy6: Column,
                  x_scale: Column | float = 1.0,
                  y_scale: Column | float = 1.0) -> Column:
    """(cx,cy,w,h,skew_x,skew_y) 6-tuple → 4-corner polygon.
    Ref semantics: surya/layout/util.py:4-40 and
    surya/table_rec/shaper.py:114-142 — skew = floor((s−SKEW_SCALER)/2)
    (float floor, NOT trunc: negative skews floor toward −inf), skews with
    |skew| < SKEW_MIN zeroed, corners scaled by img/1024 at the end
    (x_scale/y_scale; the scale multiplies, it does not truncate)."""
    x1, y1 = cx - w / 2, cy - h / 2
    x2, y2 = cx + w / 2, cy + h / 2
    sx = F.floor((sx6 - F.lit(SKEW_SCALER)) / 2).cast("double")
    sy = F.floor((sy6 - F.lit(SKEW_SCALER)) / 2).cast("double")
    sx = F.when(F.abs(sx) < SKEW_MIN, F.lit(0.0)).otherwise(sx)
    sy = F.when(F.abs(sy) < SKEW_MIN, F.lit(0.0)).otherwise(sy)
    xs, ys = F.lit(x_scale), F.lit(y_scale)
    return F.array(
        F.array((x1 - sx) * xs, (y1 - sy) * ys),
        F.array((x2 - sx) * xs, (y1 + sy) * ys),
        F.array((x2 + sx) * xs, (y2 + sy) * ys),
        F.array((x1 + sx) * xs, (y2 - sy) * ys),
    )


def poly_to_bbox6(poly: Column) -> list[Column]:
    """4-corner polygon → (cx,cy,width,height,skew_x,skew_y) with skews
    shifted by SKEW_SCALER into positive space; corners clipped to
    [0, BOX_DIM] first. Ref: surya/table_rec/shaper.py:83-112."""
    def cl(i: int, axis: int) -> Column:
        v = poly[i][axis]
        return F.greatest(F.lit(0.0), F.least(v.cast("double"),
                                              F.lit(BOX_DIM)))

    x1, x2, x3, x4 = cl(0, 0), cl(1, 0), cl(2, 0), cl(3, 0)
    y1, y2, y3, y4 = cl(0, 1), cl(1, 1), cl(2, 1), cl(3, 1)
    shift = F.lit(SKEW_SCALER)
    return [
        ((x1 + x2 + x3 + x4) / 4).alias("cx"),
        ((y1 + y2 + y3 + y4) / 4).alias("cy"),
        ((x2 + x3) / 2 - (x1 + x4) / 2).alias("w"),
        ((y3 + y4) / 2 - (y2 + y1) / 2).alias("h"),
        ((x3 + x4) / 2 - (x1 + x2) / 2 + shift).alias("sx6"),
        ((y2 + y3) / 2 - (y1 + y4) / 2 + shift).alias("sy6"),
    ]


# ---------------------------------------------------------------- bbox scalar
def width(x1: Column, x2: Column) -> Column:
    return x2 - x1


def height(y1: Column, y2: Column) -> Column:
    return y2 - y1


def area(x1: Column, y1: Column, x2: Column, y2: Column) -> Column:
    """Ref: surya/common/polygon.py:188-190."""
    return (x2 - x1) * (y2 - y1)


def center_x(x1: Column, x2: Column) -> Column:
    return (x1 + x2) / 2.0


# ------------------------------------------------------------- overlap algebra
def x_overlap(ax1, ax2, bx1, bx2, margin: float = 0.0) -> Column:
    """1-D overlap length with optional margin.
    Ref: surya/common/polygon.py:142-151 — the core theta-join predicate."""
    m = F.lit(margin)
    return F.greatest(
        F.lit(0.0), F.least(ax2 + m, bx2 + m) - F.greatest(ax1 - m, bx1 - m)
    )


def y_overlap(ay1, ay2, by1, by2, margin: float = 0.0) -> Column:
    return x_overlap(ay1, ay2, by1, by2, margin)


def intersection_area(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2,
                      x_margin: float = 0.0, y_margin: float = 0.0) -> Column:
    """Ref: surya/common/polygon.py:153-160."""
    return x_overlap(ax1, ax2, bx1, bx2, x_margin) * y_overlap(
        ay1, ay2, by1, by2, y_margin
    )


def intersection_pct(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2,
                     x_margin: float = 0.0, y_margin: float = 0.0) -> Column:
    """Fraction of box A covered by box B (0 when A has zero area).
    Ref: surya/common/polygon.py:162-173."""
    a = area(ax1, ay1, ax2, ay2)
    inter = intersection_area(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2,
                              x_margin, y_margin)
    return F.when(a > 0, inter / a).otherwise(F.lit(0.0))


def iou(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2) -> Column:
    inter = intersection_area(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2)
    union = area(ax1, ay1, ax2, ay2) + area(bx1, by1, bx2, by2) - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def contains(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2) -> Column:
    """True when box B fully contains box A (the clean_boxes predicate).
    Ref: surya/common/util.py:9-36."""
    return (bx1 <= ax1) & (by1 <= ay1) & (bx2 >= ax2) & (by2 >= ay2)


# ------------------------------------------------------------- bbox rewrites
def merge_bbox(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2) -> list[Column]:
    """Axis-aligned union. Ref: surya/common/polygon.py:83-88."""
    return [
        F.least(ax1, bx1).alias("x1"),
        F.least(ay1, by1).alias("y1"),
        F.greatest(ax2, bx2).alias("x2"),
        F.greatest(ay2, by2).alias("y2"),
    ]


def poly_merge_left(poly: Column, other_x1: Column) -> Column:
    """Extend only the left edge of a polygon to cover other_x1 (corners 0
    and 3 move; the quad's right edge and skew are preserved).
    Ref: surya/common/polygon.py:90-93."""
    nx = F.least(poly[0][0].cast("double"), other_x1.cast("double"))
    return F.array(
        F.array(nx, poly[0][1]), poly[1], poly[2],
        F.array(F.least(poly[3][0].cast("double"), other_x1.cast("double")),
                poly[3][1]),
    )


def poly_merge_right(poly: Column, other_x2: Column) -> Column:
    """Extend only the right edge (corners 1 and 2).
    Ref: surya/common/polygon.py:95-98."""
    nx = F.greatest(poly[1][0].cast("double"), other_x2.cast("double"))
    return F.array(
        poly[0], F.array(nx, poly[1][1]),
        F.array(F.greatest(poly[2][0].cast("double"),
                           other_x2.cast("double")), poly[2][1]),
        poly[3],
    )


def intersect_poly(pa: Column, pb: Column) -> Column:
    """Cornerwise polygon intersection — max/min per corner exactly as the
    reference applies it to (possibly skewed) quads, so table cell =
    row ∩ col keeps corner accuracy for non-axis-aligned boxes; for
    axis-aligned inputs it reduces to intersect_bbox.
    Ref: surya/common/polygon.py:115-140."""
    return F.array(
        F.array(F.greatest(pa[0][0], pb[0][0]),
                F.greatest(pa[0][1], pb[0][1])),
        F.array(F.least(pa[1][0], pb[1][0]),
                F.greatest(pa[1][1], pb[1][1])),
        F.array(F.least(pa[2][0], pb[2][0]),
                F.least(pa[2][1], pb[2][1])),
        F.array(F.greatest(pa[3][0], pb[3][0]),
                F.least(pa[3][1], pb[3][1])),
    )


def poly_area_shoelace(poly: Column) -> Column:
    """Corner-accurate quad area via the shoelace formula — the exact area
    of a skewed quad, where the bbox form over-counts by the skew margin.
    Documented engine decision: overlap/containment PREDICATES stay in
    bbox space (codegen theta joins); when corner-accurate area matters
    (skewed minAreaRect quads, ref surya/detection/heatmap.py:43-103),
    use this + intersect_poly."""
    def x(i):
        return poly[i][0].cast("double")

    def y(i):
        return poly[i][1].cast("double")

    s = (x(0) * y(1) - x(1) * y(0)
         + x(1) * y(2) - x(2) * y(1)
         + x(2) * y(3) - x(3) * y(2)
         + x(3) * y(0) - x(0) * y(3))
    return F.abs(s) / 2.0


def poly_contains(pa: Column, pb: Column) -> Column:
    """pb fully inside pa under the reference's cornerwise quad semantics:
    intersection_polygon(pa, pb) == pb (ref surya/common/polygon.py:115-140).
    For axis-aligned quads this reduces to bbox containment; for skewed
    minAreaRect quads (ref surya/detection/heatmap.py:83-103) it keeps
    corner accuracy the bbox form loses — two diagonal slivers whose
    bboxes nest are NOT cornerwise contained."""
    return (
        (pb[0][0] >= pa[0][0]) & (pb[0][1] >= pa[0][1])
        & (pb[1][0] <= pa[1][0]) & (pb[1][1] >= pa[1][1])
        & (pb[2][0] <= pa[2][0]) & (pb[2][1] <= pa[2][1])
        & (pb[3][0] >= pa[3][0]) & (pb[3][1] <= pa[3][1])
    )




def intersect_bbox(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2) -> list[Column]:
    """Axis-aligned intersection (cornerwise max/min) — used for the table
    cell = row ∩ col grid. Ref: surya/common/polygon.py:115-140."""
    return [
        F.greatest(ax1, bx1).alias("x1"),
        F.greatest(ay1, by1).alias("y1"),
        F.least(ax2, bx2).alias("x2"),
        F.least(ay2, by2).alias("y2"),
    ]


def expand_bbox(x1, y1, x2, y2, x_pct: float, y_pct: float) -> list[Column]:
    """Inflate by a percentage of width/height.
    Ref: surya/common/polygon.py:100-113, surya/common/util.py:54-62."""
    dx = (x2 - x1) * F.lit(x_pct)
    dy = (y2 - y1) * F.lit(y_pct)
    return [
        (x1 - dx).alias("x1"),
        (y1 - dy).alias("y1"),
        (x2 + dx).alias("x2"),
        (y2 + dy).alias("y2"),
    ]


def clamp_bbox(x1, y1, x2, y2, x_max: Column, y_max: Column) -> list[Column]:
    z = F.lit(0.0)
    return [
        F.greatest(z, F.least(x1, x_max.cast("double"))).alias("x1"),
        F.greatest(z, F.least(y1, y_max.cast("double"))).alias("y1"),
        F.greatest(z, F.least(x2, x_max.cast("double"))).alias("x2"),
        F.greatest(z, F.least(y2, y_max.cast("double"))).alias("y2"),
    ]


def round_to_divisor(v: Column, divisor: float) -> Column:
    """Snap to grid. Ref: surya/common/polygon.py:71-74."""
    return (v / F.lit(divisor)).cast("long").cast("double") * F.lit(divisor)


def y_band(y1: Column, band: float) -> Column:
    """Reading-order band id: lines within one band read left→right.
    Ref: sort_text_lines rounds y to a tolerance
    (surya/recognition/util.py:72-97)."""
    return F.floor(y1 / F.lit(band))
