"""The page pass computes its line geometry once per Arrow batch
(recognition.batch_line_crops): containment clean, expand, reading order
and crop visibility over all of a batch's pages at once. Where a batch
boundary falls must not matter — a batch's items and crops equal those
of its pages run one page at a time — and the segmented containment
kernel must equal a per-page brute force.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from surya_spark import datagen, pipeline
from surya_spark.datagen import BAND
from surya_spark.operators import (detection, fused, layout, recognition,
                                   slots, tables)


class _Capture:
    """Stands in for a pages DataFrame: keeps the page pass's function."""

    def mapInPandas(self, fn, schema):
        self.fn = fn
        return self


def _shear_slot(media_ref, width, height, img_bytes):
    """surrogate_detect with each line sheared into a parallelogram (the
    skewed quads of test_postprocess_preserves_skewed_quads)."""
    out = []
    for d in slots.surrogate_detect(media_ref, width, height, img_bytes):
        (x1, y1), (x2, _), (_, y2), _ = d["polygon"]
        s = 4.0
        d["polygon"] = [[x1 + s, y1], [x2 + s, y1],
                        [x2 - s, y2], [x1 - s, y2]]
        out.append(d)
    return out


def _mixed_batch(highres: bool) -> pd.DataFrame:
    """Every media page of datagen's first 20 documents — pages with no
    lines, tiled tall pages, table pages — optionally paired with its 2×
    render the way pipeline.paired_pages pairs it."""
    rows = []
    for doc_idx in range(20):
        for s in datagen.doc_plan(doc_idx):
            if s["media_ref"] is None:
                continue
            desc = datagen.make_page_descriptor(doc_idx, s["offset"],
                                                s["kind"])
            row = {"media_ref": s["media_ref"], "width": desc["w"],
                   "height": desc["h"],
                   "img_bytes": datagen.encode_page(desc)}
            if highres:
                hr = datagen.scale_descriptor(desc, 2.0)
                row.update(hr_bytes=datagen.encode_page(hr),
                           hr_width=hr["w"], hr_height=hr["h"])
            rows.append(row)
    pages = pd.DataFrame(rows)
    descs = [datagen.decode_page(b) for b in pages["img_bytes"]]
    assert any(not d["lines"] for d in descs)
    assert any(d.get("table") for d in descs)
    assert any(layout.page_tile_plan(d["w"], d["h"])[2] > 1 for d in descs)
    return pages


def _run(pass_fn, pages: pd.DataFrame) -> pd.DataFrame:
    return pd.concat(list(pass_fn(iter([pages]))), ignore_index=True)


@pytest.mark.parametrize("highres", [False, True])
def test_page_pass_items_independent_of_batch_boundaries(highres):
    pages = _mixed_batch(highres)
    page_pass = fused.fused_page_items(_Capture(),
                                       detect_slot=_shear_slot).fn
    whole = _run(page_pass, pages)
    one_by_one = pd.concat(
        [_run(page_pass, pages.iloc[[i]]) for i in range(len(pages))],
        ignore_index=True)
    # a page without items yields an empty frame of object columns
    pd.testing.assert_frame_equal(whole, one_by_one, check_dtype=False)
    assert len(whole) > 0


@pytest.mark.parametrize("highres", [False, True])
def test_all_crops_equal_page_crop_rows(highres):
    pages = _mixed_batch(highres)
    got = _run(fused.fused_all_crops(_Capture(),
                                     detect_slot=_shear_slot).fn, pages)
    lines = got[got["crop_kind"] == "line"]
    line_cols = ["media_ref", "line_idx", "position", "x1", "y1", "x2",
                 "y2", "crop_bytes", "res_x", "res_y"]
    want_lines, want_tables = [], []
    for i, (ref, w, h, blob) in enumerate(zip(
            pages["media_ref"], pages["width"], pages["height"],
            pages["img_bytes"])):
        hr = ({"hr_blob": pages["hr_bytes"][i],
               "hr_scale": (pages["hr_width"][i] / w,
                            pages["hr_height"][i] / h)}
              if highres else {})
        rows, desc = recognition.page_crop_rows(
            ref, int(w), int(h), blob, _shear_slot, float(BAND), **hr)
        t_rows, _ = tables.table_crop_rows(ref, int(w), int(h), blob,
                                           slots.surrogate_layout,
                                           desc=desc)
        want_lines += [tuple(r[c] for c in line_cols) for r in rows]
        want_tables += [(r["media_ref"], r["table_idx"], r["crop_bytes"])
                        for r in t_rows]
    assert [tuple(r) for r in lines[line_cols].itertuples(index=False)] \
        == want_lines
    tabs = got[got["crop_kind"] == "table"]
    assert [tuple(r) for r in tabs[["media_ref", "table_idx",
                                    "crop_bytes"]].itertuples(index=False)
            ] == want_tables
    assert want_lines and want_tables


def test_containment_keep_segmented_equals_per_page_brute_force():
    """_containment_keep over concatenated pages (an empty page, a
    one-box page, pages with inverted boxes; ids repeat across pages)
    with blocks small enough to split a page equals a brute-force
    all-pairs test run page by page."""
    from surya_spark.operators.detection import _containment_keep

    def brute(x1, y1, x2, y2, ids):
        area = (x2 - x1) * (y2 - y1)
        keep = area > 0
        for i in np.flatnonzero(keep):
            for j in range(len(ids)):
                if (ids[j] != ids[i] and x1[j] <= x1[i] and y1[j] <= y1[i]
                        and x2[j] >= x2[i] and y2[j] >= y2[i]
                        and (area[j] > area[i]
                             or (area[j] == area[i] and ids[j] < ids[i]))):
                    keep[i] = False
                    break
        return keep

    rng = np.random.RandomState(5)
    cols, want = [], []
    for p, n in enumerate([17, 0, 1, 45, 30, 60]):
        x1 = rng.randint(0, 40, n).astype(float)
        y1 = rng.randint(0, 40, n).astype(float)
        low = -8 if p == 4 else 0  # page 4 holds inverted boxes
        x2 = x1 + rng.randint(low, 25, n)
        y2 = y1 + rng.randint(low, 25, n)
        ids = rng.permutation(n)
        cols.append((x1, y1, x2, y2, ids, np.full(n, p)))
        want.append(brute(x1, y1, x2, y2, ids))
    x1, y1, x2, y2, ids, page = (np.concatenate(c) for c in zip(*cols))
    want = np.concatenate(want)
    shuffle = rng.permutation(len(want))
    for block_elems in (1, 29, 500, 8_000_000):
        got = _containment_keep(x1, y1, x2, y2, ids,
                                block_elems=block_elems, page=page)
        assert (got == want).all(), block_elems
        got = _containment_keep(
            x1[shuffle], y1[shuffle], x2[shuffle], y2[shuffle],
            ids[shuffle], block_elems=block_elems, page=page[shuffle])
        assert (got == want[shuffle]).all(), block_elems


def test_zero_confidence_detect_slot(spark):
    """A page whose surviving boxes all have confidence 0 keeps them at
    0 on both post-process paths (no 0/0), and extract runs as with the
    default slot."""

    def zero_slot(media_ref, width, height, img_bytes):
        from surya_spark.operators import slots as worker_slots

        return [{**d, "confidence": 0.0}
                for d in worker_slots.surrogate_detect(
                    media_ref, width, height, img_bytes)]

    docs = datagen.gen_documents(spark, 6, partitions=2)
    blobs = datagen.gen_page_blobs(spark, 6, partitions=2)
    pages = pipeline.pages_for(docs, blobs)

    def rows(df):
        return sorted(
            (r["media_ref"], r["line_idx"], r["x1"], r["y1"], r["x2"],
             r["y2"], tuple(tuple(c) for c in r["polygon"]),
             r["confidence"])
            for r in df.collect())

    fused_rows = rows(detection.detection_stage(pages, slot=zero_slot))
    relational = rows(detection.expand_and_normalize(
        detection.clean_contained_boxes(
            detection.detect_lines(pages, zero_slot))))
    assert fused_rows == relational
    assert fused_rows and all(r[-1] == 0.0 for r in fused_rows)

    key = lambda r: r["doc_id"]  # noqa: E731
    assert (sorted(pipeline.extract(docs, blobs, detect_slot=zero_slot)
                   .collect(), key=key)
            == sorted(pipeline.extract(docs, blobs).collect(), key=key))
