"""Deployment dry-run contract tests (SURVEY.md §2.9): the slot
extension surface must carry a ModelProvider-backed callable through the
real Spark plan — lazy per-executor load, page blobs or crops in,
schema-valid dicts out — not just the bare surrogates the other tests
inject.

The torch-backed variant skips in this sandbox (no torch) and runs on a
GPU box; the provider-plumbing variant runs everywhere because the
contract itself (closure serialization, lazy load inside the Arrow UDF,
schema validation) is library-independent.

Slot I/O spec (also in COVERAGE.md):
  detect(media_ref: str, width: int, height: int, img_bytes: bytes)
      -> list[{polygon: [[x,y]*4], confidence: float}]
  recognize(crops: list, tasks: list[str]) ->
      list[{text: str, confidence: float,
            chars: [{text, x1, y1, x2, y2, confidence, bbox_valid}]}]
      (one result per crop, in order)
  layout(media_ref, width, height, img_bytes) ->
      list[{emit_idx: int, label: str, x1..y2, confidence, top_k: dict}]
  table(crop) -> list[{item_kind: row|col|spanning_cell, item_id,
       x1..y2, is_header, colspan, rowspan}]

A crop is the in-memory dict inside the page pass (slots.crop_payload /
table_crop_payload; a real deployment's pixel slice) and SPC1 bytes
from a crop table (crop_bytes); a slot normalizes it with
slots.as_crop.
"""

from __future__ import annotations

import pytest

from surya_spark import datagen, pipeline
from surya_spark.operators import fused, recognition, slots

def test_model_provider_slot_through_extract(spark):
    """A ModelProvider-wrapped slot must produce byte-identical spans to
    the directly-injected surrogate: the provider closure serializes into
    the UDF (by value — workers can't import the test module, exactly like
    a spark-submit driver script), loads lazily inside the worker, and
    caches per process."""

    def load_detector(path):
        # stand-in load_fn: returns the surrogate as the 'model'; a real
        # deployment does torch.load / from_pretrained here
        from surya_spark.operators import slots as worker_slots

        return worker_slots.surrogate_detect

    provider = slots.ModelProvider("fake://checkpoints/det.pt",
                                   load_detector)

    def provided_detect(media_ref, width, height, img_bytes):
        model = provider.get()  # lazy, once per python worker
        return model(media_ref, width, height, img_bytes)

    docs = datagen.gen_documents(spark, 6, partitions=2)
    blobs = datagen.gen_page_blobs(spark, 6, partitions=2)
    base = pipeline.extract(docs, blobs, with_tables=True).collect()
    via_provider = pipeline.extract(
        docs, blobs, with_tables=True,
        detect_slot=provided_detect).collect()
    key = lambda r: r["doc_id"]  # noqa: E731
    assert sorted(via_provider, key=key) == sorted(base, key=key)


def test_model_provider_recognize_slot_through_extract(spark):
    """The same contract for the recognize slot: a ModelProvider-backed
    recognizer that normalizes its crop with slots.as_crop gives the
    surrogate's spans, on the page pass (in-memory crops) and on the
    relational recognize (crop bytes)."""

    def load_recognizer(path):
        from surya_spark.operators import slots as worker_slots

        return worker_slots.surrogate_recognize

    provider = slots.ModelProvider("fake://checkpoints/rec.pt",
                                   load_recognizer)

    def provided_recognize(crops, tasks):
        from surya_spark.operators import slots as worker_slots

        model = provider.get()  # lazy, once per python worker
        return [model(worker_slots.as_crop(crop), task)
                for crop, task in zip(crops, tasks)]

    docs = datagen.gen_documents(spark, 6, partitions=2)
    blobs = datagen.gen_page_blobs(spark, 6, partitions=2)
    base = pipeline.extract(docs, blobs, with_tables=True).collect()
    via_provider = pipeline.extract(
        docs, blobs, with_tables=True,
        recognize_slot=provided_recognize).collect()
    key = lambda r: r["doc_id"]  # noqa: E731
    assert sorted(via_provider, key=key) == sorted(base, key=key)

    crops = fused.line_crops(fused.fused_all_crops(
        pipeline.pages_for(docs, blobs), layout_slot=None))
    cols = ["media_ref", "line_idx", "text", "confidence"]
    got = recognition.recognize(crops, slot=provided_recognize,
                                emit_chars=False).select(cols)
    want = recognition.recognize(crops, emit_chars=False).select(cols)
    assert sorted(got.collect()) == sorted(want.collect())


def test_model_provider_caches_once_per_process():
    ModelProvider = slots.ModelProvider
    ModelProvider._cache.pop("fake://p", None)
    calls = []
    p1 = ModelProvider("fake://p", lambda path: calls.append(path) or object())
    a = p1.get()
    p2 = ModelProvider("fake://p", lambda path: calls.append(path) or object())
    b = p2.get()
    assert a is b and calls == ["fake://p"]


def test_torch_backed_slot_end_to_end(spark):
    """GPU-box dry run: a torch-module-backed detect slot through one page.
    Skipped here (no torch in the container); on a deployment box this
    validates the full load→infer→schema path with real tensors."""
    torch = pytest.importorskip("torch")

    def load(path):
        class TinyDet(torch.nn.Module):
            def forward(self, x):
                return x

        return TinyDet()

    provider = slots.ModelProvider("fake://torch/det.pt", load)

    def torch_detect(media_ref, width, height, img_bytes):
        model = provider.get()
        desc = datagen.decode_page(img_bytes)
        boxes = torch.tensor(
            [ln["bbox"] for ln in desc["lines"]], dtype=torch.float32)
        boxes = model(boxes)
        return [
            {"polygon": [[float(x1), float(y1)], [float(x2), float(y1)],
                         [float(x2), float(y2)], [float(x1), float(y2)]],
             "confidence": 0.9}
            for x1, y1, x2, y2 in boxes.tolist()
        ]

    docs = datagen.gen_documents(spark, 2, partitions=1)
    blobs = datagen.gen_page_blobs(spark, 2, partitions=1)
    out = pipeline.extract(docs, blobs, with_tables=False,
                           detect_slot=torch_detect)
    rows = out.collect()
    assert len(rows) == 2
    span_fields = set(
        out.schema["spans"].dataType.elementType.fieldNames())
    assert {"kind", "text", "media_ref", "offset"} <= span_fields


def test_real_slot_bodies_raise_cleanly_when_libs_absent():
    """Everywhere-run guard: when the optional libraries are missing the
    real bodies must raise NotImplementedError (not ImportError) so a
    misconfigured deployment fails loudly at the slot, not mid-plan."""
    from surya_spark.sources import pdf_lines
    from surya_spark.training import multimodal

    for mod, fn, arg in (
        ("pypdfium2", slots.render_pdf_pages, b"%PDF-fake"),
        ("PIL", multimodal.real_image_decode, b"\x89PNG-fake"),
        ("PIL", multimodal.real_image_pixels, b"\x89PNG-fake"),
        ("fitz", pdf_lines.pymupdf_extract, b"%PDF-fake"),
    ):
        try:
            __import__(mod)
        except ImportError:
            with pytest.raises(NotImplementedError):
                fn(arg)


def test_real_image_decode_body():
    """Deployment box: PIL-backed decode against a generated PNG."""
    Image = pytest.importorskip("PIL.Image")
    import io

    from surya_spark.training import multimodal

    im = Image.new("RGB", (37, 21), (200, 10, 10))
    buf = io.BytesIO()
    im.save(buf, format="PNG")
    meta = multimodal.real_image_decode(buf.getvalue())
    assert meta == {"width": 37, "height": 21, "format": "png"}
    arr = multimodal.real_image_pixels(buf.getvalue())
    assert arr.shape == (21, 37, 3) and arr.dtype.name == "uint8"
    assert (arr[0, 0] == [200, 10, 10]).all()


def test_render_pdf_pages_body():
    """Deployment box: pypdfium2-backed render of a 1-page PDF generated
    with PIL; dims must follow the dpi/72 scale of the reference."""
    Image = pytest.importorskip("PIL.Image")
    pytest.importorskip("pypdfium2")
    import io

    im = Image.new("RGB", (144, 72), (255, 255, 255))
    buf = io.BytesIO()
    im.save(buf, format="PDF", resolution=72)  # page = 144x72 pt
    pages = slots.render_pdf_pages(buf.getvalue(), dpi=144)
    assert len(pages) == 1
    p = pages[0]
    assert (p["width"], p["height"]) == (288, 144)  # 144/72 = 2x points
    assert p["pixels"].shape == (144, 288, 3)


def test_pymupdf_extract_body(spark):
    """Deployment box: fitz-backed text-line extraction through the full
    pdf_text_lines Spark path (non-unit point->pixel rescale)."""
    fitz = pytest.importorskip("fitz")

    doc = fitz.open()
    page = doc.new_page(width=200, height=100)
    page.insert_text((20, 40), "hello world", fontsize=11)
    pdf_bytes = doc.tobytes()
    doc.close()

    from surya_spark.sources import pdf_lines as slots_pdf

    extracted = slots_pdf.pymupdf_extract(pdf_bytes)
    assert len(extracted) == 1
    assert extracted[0]["page_w"] == 200.0
    assert extracted[0]["page_h"] == 100.0
    assert len(extracted[0]["lines"]) == 1

    df = spark.createDataFrame(
        [("p1", pdf_bytes, 400, 200)],
        "media_ref string, img_bytes binary, width int, height int")
    rows = slots_pdf.pdf_text_lines(
        df, extractor=slots_pdf.pymupdf_extract).collect()
    assert len(rows) == 1
    r = rows[0]
    # 2x rescale with int truncation
    ex = extracted[0]["lines"][0]
    assert (r["x1"], r["y1"], r["x2"], r["y2"]) == tuple(
        float(int(v * 2)) for v in ex)
