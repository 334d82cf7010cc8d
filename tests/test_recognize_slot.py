"""One recognize contract: slot(crops, tasks[, texts]) -> one result per
crop, in order. The page pass calls it once per page with lines,
recognize once per Arrow batch; both check the result count.
continuous_slot brings the continuous-batching scheduler to either.
"""

from __future__ import annotations

import re

import pandas as pd
import pytest

from surya_spark import datagen, pipeline
from surya_spark.datagen import BAND
from surya_spark.operators import fused, recognition, slots


class _Capture:
    """Stands in for a pages DataFrame: keeps the page pass's function."""

    def mapInPandas(self, fn, schema):
        self.fn = fn
        return self


def _page_batch(n_docs: int) -> pd.DataFrame:
    """The page blobs of datagen's first n_docs documents, built
    in-process: every media span, so image pages (no text lines) too."""
    rows = []
    for doc_idx in range(n_docs):
        for s in datagen.doc_plan(doc_idx):
            if s["media_ref"] is None:
                continue
            desc = datagen.make_page_descriptor(doc_idx, s["offset"],
                                                s["kind"])
            rows.append({"media_ref": s["media_ref"], "width": desc["w"],
                         "height": desc["h"],
                         "img_bytes": datagen.encode_page(desc)})
    return pd.DataFrame(rows)


def _items(pages: pd.DataFrame, **slot_kw) -> pd.DataFrame:
    page_pass = fused.fused_page_items(_Capture(), **slot_kw).fn
    return pd.concat(list(page_pass(iter([pages]))), ignore_index=True)


def test_page_pass_calls_slot_once_per_page():
    pages = _page_batch(12)
    lines_per_page = [
        len(recognition.batch_line_crops(
            [ref], [int(w)], [int(h)], [bytes(blob)], slots.surrogate_detect,
            float(BAND))[0][0])
        for ref, w, h, blob in zip(pages["media_ref"], pages["width"],
                                   pages["height"], pages["img_bytes"])
    ]
    calls = []

    def counting_slot(crops, tasks):
        calls.append((crops, tasks))
        return slots.surrogate_recognize_batch(crops, tasks)

    got = _items(pages, recognize_slot=counting_slot)
    assert [len(c) for c, _ in calls] == [n for n in lines_per_page if n]
    assert 0 in lines_per_page  # a page without lines is skipped
    for crops, tasks in calls:
        assert all(isinstance(c, dict) for c in crops)
        assert tasks == ["ocr_with_boxes"] * len(crops)
    pd.testing.assert_frame_equal(got, _items(pages))


def test_continuous_slot_through_extract(spark):
    docs = datagen.gen_documents(spark, 8, partitions=2)
    blobs = datagen.gen_page_blobs(spark, 8, partitions=2)
    hi = datagen.gen_page_blobs(spark, 8, partitions=2, scale=2.0)
    key = lambda r: r["doc_id"]  # noqa: E731
    for kw in ({}, {"highres_blobs": hi}):
        base = sorted(pipeline.extract(docs, blobs, **kw).collect(), key=key)
        got = sorted(pipeline.extract(
            docs, blobs, recognize_slot=recognition.continuous_slot(
                slots.SurrogateStepRecognizer(), 4),
            **kw).collect(), key=key)
        assert got == base and len(base) > 0


@pytest.mark.parametrize("delta", [1, -1])
def test_wrong_result_count_raises(spark, delta):
    """A slot returning one result too many, or one too few, fails the
    run with both counts named, through recognize and through extract."""

    def slot(crops, tasks):
        # defined in the test so it pickles by value to the workers
        from surya_spark.operators import slots as worker_slots

        out = worker_slots.surrogate_recognize_batch(crops, tasks)
        if delta > 0:
            return out + [{"text": "", "chars": [], "confidence": 0.0}]
        return out[:-1]

    docs = datagen.gen_documents(spark, 4, partitions=1)
    blobs = datagen.gen_page_blobs(spark, 4, partitions=1)
    crops = fused.line_crops(fused.fused_all_crops(
        pipeline.pages_for(docs, blobs), layout_slot=None))
    runs = (
        lambda: recognition.recognize(crops, slot=slot).collect(),
        lambda: pipeline.extract(docs, blobs, recognize_slot=slot).collect(),
    )
    for run in runs:
        with pytest.raises(Exception) as err:
            run()
        counts = re.search(r"returned (\d+) results for (\d+) crops",
                           str(err.value))
        assert counts, str(err.value)[-2000:]
        assert int(counts[1]) - int(counts[2]) == delta
