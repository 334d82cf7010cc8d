"""Chunked (split/stitch) detection must be line-for-line equivalent to
whole-page detection on text content and ordering, and must actually
split tall pages (reference vertical chunking,
/root/reference/tests/test_detection.py:11-18 analog)."""

from __future__ import annotations

from pyspark.sql import functions as F

from surya_spark import datagen, pipeline
from surya_spark.operators import detection, reading_order, recognition

N = 60


def _ocr_texts(spark, pages, chunked):
    lines = detection.detection_stage(pages, chunked=chunked)
    ordered = reading_order.order_lines(lines)
    ocr = recognition.recognize(recognition.slice_crops(
        ordered.select("media_ref", "line_idx", "position",
                       "x1", "y1", "x2", "y2"),
        pages,
    ))
    out = {}
    for r in ocr.collect():
        out.setdefault(r["media_ref"], []).append((r["position"], r["text"]))
    return {k: [t for _, t in sorted(v)] for k, v in out.items()}


def _relational_stage(pages, chunked, slot=detection.slots.surrogate_detect):
    """detection_stage's relational oracle: raw detect output → the
    containment anti-join → windowed expand/normalize."""
    detect = (detection.split_detect_lines(pages, slot) if chunked
              else detection.detect_lines(pages, slot))
    return detection.expand_and_normalize(
        detection.clean_contained_boxes(detect))


def test_chunked_equals_whole_page(spark):
    docs = datagen.gen_documents(spark, N, partitions=4)
    blobs = datagen.gen_page_blobs(spark, N, partitions=4)
    pages = pipeline.pages_for(docs, blobs).persist()

    tall = pages.filter(F.col("height") > 1400)
    assert tall.count() > 0, "fixture should contain tall pages"

    whole = _ocr_texts(spark, pages, chunked=False)
    split = _ocr_texts(spark, pages, chunked=True)
    assert split == whole


def test_tall_page_produces_multiple_chunks(spark):
    docs = datagen.gen_documents(spark, N, partitions=4)
    blobs = datagen.gen_page_blobs(spark, N, partitions=4)
    pages = pipeline.pages_for(docs, blobs)
    tall_ref = pages.filter(F.col("height") > 1400).limit(1).collect()
    if not tall_ref:
        return
    ref = tall_ref[0]["media_ref"]
    raw = detection.split_detect_lines(pages.filter(F.col("media_ref") == ref))
    ys = [r["y1"] for r in raw.collect()]
    assert max(ys) > 1400  # far-down lines found despite chunking


def test_fused_postprocess_equals_relational(spark):
    """detection_stage — clean/expand/normalize inside the detect UDF —
    must be row-identical to the relational anti-join + window form, on
    both the plain and the chunked path."""
    docs = datagen.gen_documents(spark, 10, partitions=2)
    blobs = datagen.gen_page_blobs(spark, 10, partitions=2)
    pages = pipeline.pages_for(docs, blobs)

    def rows(df):
        return sorted(
            ((r["media_ref"], r["line_idx"], r["x1"], r["y1"], r["x2"],
              r["y2"], tuple(tuple(c) for c in r["polygon"]),
              round(r["confidence"], 12))
             for r in df.collect()))

    for chunked in (False, True):
        fused = rows(detection.detection_stage(pages, chunked=chunked))
        relational = rows(_relational_stage(pages, chunked))
        assert fused == relational, f"chunked={chunked}"
        assert len(fused) > 0


def test_postprocess_preserves_skewed_quads(spark):
    """A slot emitting skewed minAreaRect-style quads (rotated text, ref
    surya/detection/heatmap.py:83-103) must keep its corners through BOTH
    post-process paths: expansion is cornerwise, not a bbox snap, and the
    two paths stay bit-identical on the polygon column."""
    docs = datagen.gen_documents(spark, 6, partitions=2)
    blobs = datagen.gen_page_blobs(spark, 6, partitions=2)
    pages = pipeline.pages_for(docs, blobs)

    def skew_slot(media_ref, width, height, img_bytes):
        # shear each truth line into a parallelogram: top edge shifted
        # +s, bottom edge −s — corners are NOT the bbox corners
        out = []
        for d in detection.slots.surrogate_detect(
                media_ref, width, height, img_bytes):
            (x1, y1), (x2, _), (_, y2), _ = d["polygon"]
            s = 4.0
            d["polygon"] = [[x1 + s, y1], [x2 + s, y1],
                            [x2 - s, y2], [x1 - s, y2]]
            out.append(d)
        return out

    def rows(df):
        return sorted(
            ((r["media_ref"], r["line_idx"],
              tuple(tuple(c) for c in r["polygon"]),
              r["x1"], r["y1"], r["x2"], r["y2"],
              round(r["confidence"], 12))
             for r in df.collect()))

    fused = rows(detection.detection_stage(pages, slot=skew_slot))
    relational = rows(_relational_stage(pages, False, skew_slot))
    assert fused == relational
    assert len(fused) > 0
    skewed = 0
    for _, _, poly, x1, y1, x2, y2, _ in fused:
        (ax, ay), (bx, _), (cx, cy), (dx, _) = poly
        # top corners sheared right of bottom corners → quad survived
        if ax != dx or bx != cx:
            skewed += 1
            # bbox must be the hull of the expanded corners
            assert x1 == min(ax, bx, cx, dx)
            assert x2 == max(ax, bx, cx, dx)
            # expansion moved top corners up / bottom corners down
            # relative to each other, preserving the shear offsets
            assert ay <= cy
    assert skewed > 0, "fixture produced no skewed quads"
