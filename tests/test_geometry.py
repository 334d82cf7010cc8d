"""Geometry expression library vs the reference's PolygonBox semantics
(/root/reference/surya/common/polygon.py) — property-checked with closed-form
numpy oracles."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from surya_spark.functions import geometry as G


def _boxes_df(spark, n=200, seed=7):
    rng = np.random.RandomState(seed)
    a = rng.uniform(0, 900, size=(n, 2))
    b = rng.uniform(1, 100, size=(n, 2))
    pdf = pd.DataFrame({
        "ax1": a[:, 0], "ay1": a[:, 1],
        "ax2": a[:, 0] + b[:, 0], "ay2": a[:, 1] + b[:, 1],
    })
    c = rng.uniform(0, 900, size=(n, 2))
    d = rng.uniform(1, 100, size=(n, 2))
    pdf["bx1"], pdf["by1"] = c[:, 0], c[:, 1]
    pdf["bx2"], pdf["by2"] = c[:, 0] + d[:, 0], c[:, 1] + d[:, 1]
    return spark.createDataFrame(pdf), pdf


def test_overlap_and_iou(spark):
    df, pdf = _boxes_df(spark)
    out = df.select(
        G.x_overlap(F.col("ax1"), F.col("ax2"), F.col("bx1"), F.col("bx2")).alias("xo"),
        G.intersection_area(
            F.col("ax1"), F.col("ay1"), F.col("ax2"), F.col("ay2"),
            F.col("bx1"), F.col("by1"), F.col("bx2"), F.col("by2"),
        ).alias("inter"),
        G.iou(
            F.col("ax1"), F.col("ay1"), F.col("ax2"), F.col("ay2"),
            F.col("bx1"), F.col("by1"), F.col("bx2"), F.col("by2"),
        ).alias("iou"),
    ).toPandas()

    xo = np.maximum(0, np.minimum(pdf.ax2, pdf.bx2) - np.maximum(pdf.ax1, pdf.bx1))
    yo = np.maximum(0, np.minimum(pdf.ay2, pdf.by2) - np.maximum(pdf.ay1, pdf.by1))
    inter = xo * yo
    area_a = (pdf.ax2 - pdf.ax1) * (pdf.ay2 - pdf.ay1)
    area_b = (pdf.bx2 - pdf.bx1) * (pdf.by2 - pdf.by1)
    iou = np.where(area_a + area_b - inter > 0, inter / (area_a + area_b - inter), 0)

    np.testing.assert_allclose(out["xo"], xo, rtol=1e-9)
    np.testing.assert_allclose(out["inter"], inter, rtol=1e-9)
    np.testing.assert_allclose(out["iou"], iou, rtol=1e-9)


def test_poly_roundtrip_and_rescale(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"x1": [10.0], "y1": [20.0], "x2": [110.0], "y2": [60.0]})
    )
    poly = G.bbox_to_poly(F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2"))
    out = df.select(
        *G.poly_bbox(poly),
        G.poly_rescale(poly, 1.5, 2.0).alias("scaled"),
    ).collect()[0]
    assert (out["x1"], out["y1"], out["x2"], out["y2"]) == (10.0, 20.0, 110.0, 60.0)
    # int() truncation semantics of the reference (polygon.py:59-69)
    assert out["scaled"][0] == [15.0, 40.0]
    assert out["scaled"][2] == [165.0, 120.0]


def test_contains_and_expand_clamp(spark):
    pdf = pd.DataFrame({
        "ax1": [10.0, 10.0], "ay1": [10.0, 10.0],
        "ax2": [20.0, 20.0], "ay2": [20.0, 20.0],
        "bx1": [0.0, 15.0], "by1": [0.0, 15.0],
        "bx2": [30.0, 30.0], "by2": [30.0, 30.0],
    })
    df = spark.createDataFrame(pdf)
    out = df.select(
        G.contains(
            F.col("ax1"), F.col("ay1"), F.col("ax2"), F.col("ay2"),
            F.col("bx1"), F.col("by1"), F.col("bx2"), F.col("by2"),
        ).alias("c")
    ).toPandas()
    assert list(out["c"]) == [True, False]

    ex = G.expand_bbox(F.lit(10.0), F.lit(10.0), F.lit(20.0), F.lit(20.0), 0.1, 0.5)
    row = df.limit(1).select(*ex).collect()[0]
    assert (row["x1"], row["y1"], row["x2"], row["y2"]) == (9.0, 5.0, 21.0, 25.0)

    cl = G.clamp_bbox(F.lit(-5.0), F.lit(-5.0), F.lit(2000.0), F.lit(500.0),
                      F.lit(1024), F.lit(1024))
    row = df.limit(1).select(*cl).collect()[0]
    assert (row["x1"], row["y1"], row["x2"], row["y2"]) == (0.0, 0.0, 1024.0, 500.0)


def test_merge_and_intersect(spark):
    df = spark.range(1)
    m = G.merge_bbox(F.lit(0.0), F.lit(0.0), F.lit(10.0), F.lit(10.0),
                     F.lit(5.0), F.lit(-5.0), F.lit(20.0), F.lit(8.0))
    i = G.intersect_bbox(F.lit(0.0), F.lit(0.0), F.lit(10.0), F.lit(10.0),
                         F.lit(5.0), F.lit(-5.0), F.lit(20.0), F.lit(8.0))
    row = df.select(*m).collect()[0]
    assert (row["x1"], row["y1"], row["x2"], row["y2"]) == (0.0, -5.0, 20.0, 10.0)
    row = df.select(*i).collect()[0]
    assert (row["x1"], row["y1"], row["x2"], row["y2"]) == (5.0, 0.0, 10.0, 8.0)


def _ref_bbox6_to_poly(box, skew_scaler=512, skew_min=0.001):
    """Reference reimplementation (surya/table_rec/shaper.py:114-142) as the
    closed-form oracle for the Spark expressions."""
    import math

    cx, cy, w, h, s4, s5 = box
    x1, y1, x2, y2 = cx - w / 2, cy - h / 2, cx + w / 2, cy + h / 2
    sx = math.floor((s4 - skew_scaler) / 2)
    sy = math.floor((s5 - skew_scaler) / 2)
    if abs(sx) < skew_min:
        sx = 0
    if abs(sy) < skew_min:
        sy = 0
    return [[x1 - sx, y1 - sy], [x2 - sx, y1 + sy],
            [x2 + sx, y2 + sy], [x1 + sx, y2 - sy]]


def test_bbox6_to_poly_matches_reference(spark):
    boxes = [
        (512.0, 512.0, 200.0, 100.0, 512.0, 512.0),   # axis-aligned
        (300.0, 400.0, 150.0, 60.0, 530.0, 500.0),    # +x skew, -y skew
        (100.0, 900.0, 80.0, 40.0, 511.0, 513.0),     # odd skews → floor
        (700.0, 200.0, 120.0, 90.0, 400.0, 600.0),    # large skews
    ]
    pdf = pd.DataFrame(boxes, columns=["cx", "cy", "w", "h", "sx6", "sy6"])
    df = spark.createDataFrame(pdf)
    out = df.select(
        G.bbox6_to_poly(F.col("cx"), F.col("cy"), F.col("w"), F.col("h"),
                        F.col("sx6"), F.col("sy6")).alias("poly")
    ).collect()
    for row, box in zip(out, boxes):
        got = [[float(c[0]), float(c[1])] for c in row["poly"]]
        assert got == _ref_bbox6_to_poly(box), box


def test_bbox6_poly_roundtrip_identity(spark):
    """bbox6 → poly → bbox6 is the identity for in-bounds even-skew boxes
    (floor is exact on even offsets; clipping is a no-op in-bounds)."""
    boxes = [
        (512.0, 512.0, 200.0, 100.0, 512.0, 512.0),
        (300.0, 400.0, 150.0, 60.0, 532.0, 492.0),
        (200.0, 250.0, 100.0, 80.0, 516.0, 520.0),
    ]
    pdf = pd.DataFrame(boxes, columns=["cx", "cy", "w", "h", "sx6", "sy6"])
    df = spark.createDataFrame(pdf)
    poly = G.bbox6_to_poly(F.col("cx"), F.col("cy"), F.col("w"), F.col("h"),
                           F.col("sx6"), F.col("sy6"))
    out = df.select(*G.poly_to_bbox6(poly)).collect()
    for row, box in zip(out, boxes):
        got = (row["cx"], row["cy"], row["w"], row["h"],
               row["sx6"], row["sy6"])
        assert got == box, (got, box)


def test_poly_merge_left_right_and_quad_intersection(spark):
    df = spark.range(1)
    poly = G.bbox_to_poly(F.lit(10.0), F.lit(0.0), F.lit(20.0), F.lit(5.0))
    row = df.select(
        G.poly_merge_left(poly, F.lit(4.0)).alias("ml"),
        G.poly_merge_right(poly, F.lit(30.0)).alias("mr"),
    ).collect()[0]
    ml = [[float(v) for v in c] for c in row["ml"]]
    mr = [[float(v) for v in c] for c in row["mr"]]
    # poly_merge_left moves corners 0 and 3 only (ref polygon.py:90-93)
    assert ml == [[4.0, 0.0], [20.0, 0.0], [20.0, 5.0], [4.0, 5.0]]
    assert mr == [[10.0, 0.0], [30.0, 0.0], [30.0, 5.0], [10.0, 5.0]]

    # skewed-quad intersection: cornerwise max/min (ref polygon.py:115-140)
    pa = F.array(F.array(F.lit(0.0), F.lit(0.0)), F.array(F.lit(10.0), F.lit(1.0)),
                 F.array(F.lit(11.0), F.lit(9.0)), F.array(F.lit(1.0), F.lit(8.0)))
    pb = F.array(F.array(F.lit(5.0), F.lit(2.0)), F.array(F.lit(15.0), F.lit(3.0)),
                 F.array(F.lit(16.0), F.lit(12.0)), F.array(F.lit(6.0), F.lit(11.0)))
    row = df.select(G.intersect_poly(pa, pb).alias("p")).collect()[0]
    got = [[float(v) for v in c] for c in row["p"]]
    assert got == [[5.0, 2.0], [10.0, 3.0], [11.0, 9.0], [6.0, 8.0]]


def test_poly_area_shoelace(spark):
    df = spark.range(1)
    # axis-aligned 10x5 rectangle
    rect = G.bbox_to_poly(F.lit(0.0), F.lit(0.0), F.lit(10.0), F.lit(5.0))
    # skewed parallelogram: base 10, height 5, skew 3 -> area still 50
    sk = F.array(F.array(F.lit(0.0), F.lit(0.0)),
                 F.array(F.lit(10.0), F.lit(0.0)),
                 F.array(F.lit(13.0), F.lit(5.0)),
                 F.array(F.lit(3.0), F.lit(5.0)))
    row = df.select(
        G.poly_area_shoelace(rect).alias("a"),
        G.poly_area_shoelace(sk).alias("b"),
    ).collect()[0]
    assert row["a"] == 50.0
    assert row["b"] == 50.0  # bbox area would be 13*5 = 65 — over-counted


def test_quad_clean_keeps_slivers_bbox_clean_drops(spark):
    """Rotated-text fixture where the quad and bbox predicates DISAGREE:
    a small box near the top-left of a sheared parallelogram's bounding
    box lies OUTSIDE the parallelogram itself — bbox containment wrongly
    drops it, cornerwise quad containment keeps it. A genuinely inset
    quad is dropped by both."""
    from surya_spark.operators.detection import (
        clean_contained_boxes, clean_contained_quads)

    def poly(*corners):
        return [[float(x), float(y)] for x, y in corners]

    rows = [
        # A: sheared parallelogram, bbox [0,0,120,100], shoelace area 10000
        ("p1", 0, poly((20, 0), (120, 0), (100, 100), (0, 100))),
        # B: small box inside A's BBOX but outside the parallelogram
        ("p1", 1, poly((2, 60), (12, 60), (12, 70), (2, 70))),
        # C: inset quad cornerwise-contained in A (dropped by both paths)
        ("p1", 2, poly((30, 10), (110, 10), (92, 90), (12, 90))),
    ]
    quads = spark.createDataFrame(
        rows, "media_ref string, line_idx int, "
              "polygon array<array<double>>")

    kept_quad = sorted(
        r["line_idx"]
        for r in clean_contained_quads(quads).select("line_idx").collect())
    assert kept_quad == [0, 1]

    bboxes = quads.select(
        "media_ref", "line_idx", *G.poly_bbox(F.col("polygon")))
    kept_bbox = sorted(
        r["line_idx"]
        for r in clean_contained_boxes(bboxes).select("line_idx").collect())
    assert kept_bbox == [0]  # bbox reduction loses the sliver
