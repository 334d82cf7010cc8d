"""A crop has two forms: the in-memory payload the page pass hands its
recognize and table slots (slots.crop_payload / table_crop_payload) and
the SPC1 blob a crop table carries (slots.encode_crop /
encode_table_crop). They must be the same crop, the surrogate slots
must give the same answer on either, and the page pass must never
serialize a crop for a slot.
"""

from __future__ import annotations

import pytest

from surya_spark import datagen, pipeline
from surya_spark.operators import recognition, slots


def _desc(doc_idx: int, kind: str) -> dict:
    span = next(s for s in datagen.doc_plan(doc_idx) if s["kind"] == kind)
    return datagen.make_page_descriptor(doc_idx, span["offset"], kind)


# doc 0's first page: lines [60,108,456,132] and [60,148,312,172] fall in
# the box below; the skewed quad keeps the first and masks the second out
_BOX = [50.0, 100.0, 470.0, 180.0]
_QUAD = [[50.0, 100.0], [470.0, 100.0], [470.0, 130.0], [50.0, 170.0]]


def _line_cases():
    page = _desc(0, "page")
    hr_bbox, hr_quad = recognition._highres_box(
        {"x1": 50.5, "y1": 100.3, "x2": 470.7, "y2": 180.2}, _QUAD,
        2.0, 2.0)
    return {
        "axis_rect": (page, _BOX, None),
        "skewed_quad": (page, _BOX, _QUAD),
        "degenerate_polygon": (page, _BOX, _QUAD[:2]),
        "highres_2x": (datagen.scale_descriptor(page, 2.0), hr_bbox,
                       hr_quad),
    }


@pytest.mark.parametrize("case", sorted(_line_cases()))
def test_line_crop_payload_is_decoded_blob(case):
    desc, bbox, poly = _line_cases()[case]
    payload = slots.crop_payload(desc, bbox, poly)
    assert slots.decode_crop(slots.encode_crop(desc, bbox, poly)) == payload
    assert slots.as_crop(payload) is payload
    assert payload["lines"]
    if case == "skewed_quad":  # the mask is really applied
        assert len(payload["lines"]) < len(
            slots.crop_payload(desc, bbox)["lines"])


def _table_cases():
    table_page = _desc(1, "table")
    t = table_page["table"]
    box = [float(t["x"]) - 6.0, float(t["y"]) - 6.0,
           float(t["x"] + t["cols"] * t["cell_w"]) + 6.0,
           float(t["y"] + t["rows"] * t["cell_h"]) + 6.0]
    return {"table": (table_page, box), "no_table": (_desc(0, "page"), box)}


@pytest.mark.parametrize("case", sorted(_table_cases()))
def test_table_crop_payload_is_decoded_blob(case):
    desc, bbox = _table_cases()[case]
    payload = slots.table_crop_payload(desc, bbox)
    assert slots.decode_crop(slots.encode_table_crop(desc, bbox)) == payload
    assert (payload["table"] is None) == (case == "no_table")
    assert (slots.surrogate_table(payload)
            == slots.surrogate_table(slots.encode_table_crop(desc, bbox)))
    assert slots.surrogate_table(b"not a crop") == []


def test_surrogate_recognize_same_on_both_forms():
    empty = (_desc(0, "page"), [900.0, 900.0, 1000.0, 1000.0], None)
    for desc, bbox, poly in [*_line_cases().values(), empty]:
        blob = slots.encode_crop(desc, bbox, poly)
        payload = slots.crop_payload(desc, bbox, poly)
        for task in slots.TASK_MAX_TOKENS:
            text = slots.surrogate_recognize(blob, task)["text"]
            for given in (None, text, "not the line", "a" * 400):
                assert (slots.surrogate_recognize(payload, task, given)
                        == slots.surrogate_recognize(blob, task, given))
    assert slots.surrogate_recognize(
        slots.crop_payload(*empty))["text"] == ""


def test_page_pass_never_hands_slots_bytes(spark):
    """Slots that reject bytes, run through extract with and without the
    2× render: every crop they get is the in-memory payload, and the
    spans equal the default extract's."""

    def recognize_slot(crops, tasks):
        from surya_spark.operators import slots as worker_slots

        out = []
        for crop, task in zip(crops, tasks):
            assert isinstance(crop, dict), type(crop)
            out.append(worker_slots.surrogate_recognize(crop, task))
        return out

    def table_slot(crop):
        from surya_spark.operators import slots as worker_slots

        assert isinstance(crop, dict), type(crop)
        return worker_slots.surrogate_table(crop)

    docs = datagen.gen_documents(spark, 8, partitions=2)
    blobs = datagen.gen_page_blobs(spark, 8, partitions=2)
    hi = datagen.gen_page_blobs(spark, 8, partitions=2, scale=2.0)
    key = lambda r: r["doc_id"]  # noqa: E731
    for kw in ({}, {"highres_blobs": hi}):
        base = sorted(pipeline.extract(docs, blobs, **kw).collect(), key=key)
        got = sorted(pipeline.extract(
            docs, blobs, recognize_slot=recognize_slot,
            table_slot=table_slot, **kw).collect(), key=key)
        assert got == base
        kinds = {s["kind"] for r in base for s in r["spans"]}
        assert {"text", "cell"} <= kinds
