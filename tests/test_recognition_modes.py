"""Recognition task modes: given-boxes API, block/LaTeX mode, math tag
semantics (mirrors /root/reference/tests/test_latex_ocr.py and the
bboxes= mode of test_recognition.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from surya_spark import datagen, pipeline
from surya_spark.functions import text as TX
from surya_spark.operators import recognition


def _pages(spark, n=12):
    docs = datagen.gen_documents(spark, n, partitions=2)
    blobs = datagen.gen_page_blobs(spark, n, partitions=2)
    return pipeline.pages_for(docs, blobs)


def test_recognize_given_boxes_matches_truth(spark):
    pages = _pages(spark)
    # feed TRUTH boxes (skip detection) — the benchmark mode
    rows = pages.limit(3).collect()
    truth = []
    for r in rows:
        desc = datagen.decode_page(bytes(r["img_bytes"]))
        for i, ln in enumerate(desc["lines"]):
            truth.append((r["media_ref"], i, *[float(v) for v in ln["bbox"]],
                          ln["text"]))
    if not truth:
        return
    boxes = spark.createDataFrame(
        [(t[0], t[1], t[2], t[3], t[4], t[5]) for t in truth],
        "media_ref string, line_idx int, x1 double, y1 double, "
        "x2 double, y2 double",
    )
    out = {(r["media_ref"], r["line_idx"]): r["text"]
           for r in recognition.recognize_given_boxes(boxes, pages).collect()}
    for t in truth:
        assert out[(t[0], t[1])] == t[6]


def test_recognize_blocks_math_wrap(spark):
    pages = _pages(spark).limit(2)
    out = recognition.recognize_blocks(pages).collect()
    for r in out:
        assert r["text"].startswith("<math>") and r["text"].endswith("</math>")
        assert all(not c["bbox_valid"] for c in r["chars"])


def test_unwrap_math_expr(spark):
    df = spark.createDataFrame(
        [("<math>a + b</math>",), ("<math>\\frac{a}{b}</math>",), ("plain",)],
        "t string",
    )
    out = [r["u"] for r in df.select(
        TX.unwrap_math(F.col("t")).alias("u")).collect()]
    assert out[0] == "a + b"            # no latex symbols → unwrapped
    assert out[1].startswith("<math>")  # latex body → kept wrapped
    assert out[2] == "plain"


def test_highres_double_resolution_path(spark):
    """Recognition crops come from the 2x render (ref
    recognition/__init__.py:158-170): slice_crops scales detection bboxes
    by int(v*2) into the highres blob and tags crops with res_scales, and
    the full pipeline output still satisfies exact span parity."""
    n = 16
    docs = datagen.gen_documents(spark, n, partitions=2)
    blobs = datagen.gen_page_blobs(spark, n, partitions=2)
    hi = datagen.gen_page_blobs(spark, n, partitions=2, scale=2.0)

    # 1) crops provably taken from the 2x blob
    pages = pipeline.pages_for(docs, blobs)
    hp = pipeline.pages_for(docs, hi)
    rows = pages.limit(2).collect()
    truth = []
    for r in rows:
        desc = datagen.decode_page(bytes(r["img_bytes"]))
        for i, ln in enumerate(desc["lines"][:3]):
            truth.append((r["media_ref"], i, i + 1,
                          *[float(v) for v in ln["bbox"]]))
    if truth:
        boxes = spark.createDataFrame(
            truth, "media_ref string, line_idx int, position int, "
                   "x1 double, y1 double, x2 double, y2 double")
        crops = recognition.slice_crops(boxes, pages, highres_pages=hp)
        from surya_spark.operators.slots import decode_crop
        for c in crops.collect():
            assert c["res_x"] == 2.0 and c["res_y"] == 2.0
            crop = decode_crop(bytes(c["crop_bytes"]))
            cw = crop["crop"][2] - crop["crop"][0]
            # int-truncated 2x scaling: crop width within 2px of 2*bbox
            assert abs(cw - 2.0 * (c["x2"] - c["x1"])) <= 2.0

    # 2) end-to-end span parity of the dual-DPI extract
    out = pipeline.extract(docs, blobs, with_tables=True, highres_blobs=hi)
    for r in out.collect():
        idx = int(r["doc_id"].split("-")[1])
        expected = datagen.expected_out_spans(idx)
        got = [{"kind": s["kind"], "text": s["text"],
                "media_ref": s["media_ref"], "offset": int(s["offset"])}
               for s in r["spans"]]
        assert got == expected, r["doc_id"]


def test_axis_rect_polygon_nullout_is_bit_identical(spark):
    """Axis-aligned polygons carry nothing beyond the bbox: slice_crops
    with the polygon column must give crop bytes bit-identical to the
    polygon-less call (encode_crop takes the bbox path for axis
    rectangles), and a genuinely skewed quad must still mask."""
    from surya_spark.operators import detection, reading_order

    pages = _pages(spark, n=6)
    ordered = reading_order.order_lines(detection.detection_stage(pages))
    base = ordered.select("media_ref", "line_idx", "position",
                          "x1", "y1", "x2", "y2")
    key = lambda r: (r["media_ref"], r["line_idx"])  # noqa: E731
    with_poly = sorted(
        ((r["media_ref"], r["line_idx"], bytes(r["crop_bytes"]))
         for r in recognition.slice_crops(
             ordered.select(*base.columns, "polygon"), pages).collect()),
    )
    without = sorted(
        ((r["media_ref"], r["line_idx"], bytes(r["crop_bytes"]))
         for r in recognition.slice_crops(base, pages).collect()),
    )
    assert with_poly == without and len(with_poly) > 0

    # a non-rect quad stays masked: a 2px-wide strip polygon masks away
    # the truth line the bbox crop keeps, so its crop bytes MUST differ
    # from the bbox-path crop
    one = ordered.orderBy("media_ref", "line_idx").limit(1).collect()[0]
    strip = spark.createDataFrame(
        [(one["media_ref"], one["line_idx"], one["position"],
          one["x1"], one["y1"], one["x2"], one["y2"],
          [[one["x1"], one["y1"]], [one["x1"] + 2.0, one["y1"]],
           [one["x1"] + 2.0, one["y2"]], [one["x1"], one["y2"]]])],
        "media_ref string, line_idx int, position int, x1 double, "
        "y1 double, x2 double, y2 double, polygon array<array<double>>",
    )
    skew_crop = recognition.slice_crops(strip, pages).collect()[0]
    bbox_crop = recognition.slice_crops(
        strip.drop("polygon"), pages).collect()[0]
    assert bytes(skew_crop["crop_bytes"]) != bytes(bbox_crop["crop_bytes"])


def test_batch_slot_matches_per_row_path(spark):
    """Continuous-batching analog: a slot that feeds its batch to the
    surrogate in micro-batches of 3 must be row-identical to the default
    slot, including across micro-batch boundaries (a ragged-width page
    set)."""
    from surya_spark.operators import detection, reading_order

    def sliced_slot(crops, tasks):
        from surya_spark.operators import slots as worker_slots

        out = []
        for s in range(0, len(crops), 3):
            out.extend(worker_slots.surrogate_recognize_batch(
                crops[s:s + 3], tasks[s:s + 3]))
        return out

    pages = _pages(spark, n=8)
    ordered = reading_order.order_lines(detection.detection_stage(pages))
    crops = recognition.slice_crops(
        ordered.select("media_ref", "line_idx", "position",
                       "x1", "y1", "x2", "y2"), pages)
    key = lambda r: (r["media_ref"], r["line_idx"])  # noqa: E731
    per_row = sorted(recognition.recognize(crops).collect(), key=key)
    batched = sorted(
        recognition.recognize(crops, slot=sliced_slot).collect(),
        key=key)
    assert batched == per_row
    assert len(per_row) > 3  # micro-batch boundary actually crossed


def test_step_slot_equivalence_through_spark(spark):
    """Continuous batching with in-flight slot replacement must produce
    byte-identical rows to the default slot, at a slot count that
    forces many admission waves."""
    from surya_spark.operators import detection, reading_order, slots

    pages = _pages(spark)
    ordered = reading_order.order_lines(detection.detection_stage(pages))
    crops = recognition.slice_crops(
        ordered.select("media_ref", "line_idx", "position",
                       "x1", "y1", "x2", "y2", "polygon"), pages)

    def rows(df):
        return sorted(
            (r["media_ref"], r["line_idx"], r["position"], r["text"],
             round(r["confidence"], 12))
            for r in df.collect())

    plain = rows(recognition.recognize(crops))
    stepped = rows(recognition.recognize(
        crops, slot=recognition.continuous_slot(
            slots.SurrogateStepRecognizer(), 4)))
    assert stepped == plain and len(plain) > 0


def test_continuous_schedule_slot_replacement_beats_padded_batches():
    """Direct scheduler test with adversarial lengths: one 100-token
    sequence + 31 two-token sequences. Fixed padded batches of 4 pay
    100 + 7*2 = 114 steps; in-flight replacement lets the three free
    slots chew every short item while the long one decodes, so total
    steps == the longest sequence."""

    class LenSlot:
        def __init__(self):
            self.prefill_calls = 0
            self.step_calls = 0

        def prefill(self, lens, tasks):
            self.prefill_calls += 1
            return [{"len": ln, "pos": 0} for ln in lens]

        def step(self, states):
            self.step_calls += 1
            out = []
            for st in states:
                st["pos"] += 1
                out.append(st["pos"] >= st["len"])
            return out

        def result(self, st):
            return {"len": st["len"], "pos": st["pos"]}

    lens = [100] + [2] * 31
    slot = LenSlot()
    res = recognition._continuous_schedule(
        lens, ["ocr_with_boxes"] * len(lens), slot, n_slots=4)
    # every item decoded to completion, in input order
    assert [r["len"] for r in res] == lens
    assert all(r["pos"] == r["len"] for r in res)
    naive_steps = sum(
        max(lens[i:i + 4]) for i in range(0, len(lens), 4))  # 114
    assert slot.step_calls == 100  # the long sequence alone bounds it
    assert slot.step_calls < naive_steps
    assert slot.prefill_calls > 2  # freed slots re-admitted mid-flight


def test_continuous_schedule_runaway_guard():
    """A step slot that never finishes must raise, not spin forever."""
    import pytest

    class NeverDone:
        def prefill(self, items, tasks):
            return [{} for _ in items]

        def step(self, states):
            return [False] * len(states)

        def result(self, st):
            return {}

    with pytest.raises(RuntimeError, match="max_steps"):
        recognition._continuous_schedule(
            [1, 2], ["t", "t"], NeverDone(), n_slots=2, max_steps=50)


def test_attach_words_matches_text_split(spark):
    """return_words parity (ref util.py:123-154 + recognition
    __init__.py:925-927): the per-line words array re-joins word
    assembly at line grain, ordered, with running-union bboxes inside
    the line bbox."""
    pages = _pages(spark, n=4)
    ocr = None
    from surya_spark.operators import detection, reading_order

    ordered = reading_order.order_lines(detection.detection_stage(pages))
    crops = recognition.slice_crops(
        ordered.select("media_ref", "line_idx", "position",
                       "x1", "y1", "x2", "y2"), pages)
    ocr = recognition.recognize(crops, emit_chars=True)
    out = recognition.attach_words(ocr).collect()
    assert out
    checked = 0
    for r in out:
        words = [w["word"] for w in r["words"]]
        assert words == r["text"].split()
        for w in r["words"]:
            assert r["x1"] <= w["x1"] <= w["x2"] <= r["x2"] + 1e-9
        checked += len(words)
    assert checked > 0


def test_given_boxes_polygon_passthrough(spark):
    """recognize_given_boxes forwards a polygon column (the reference's
    polygons= input): a 2px strip quad masks the truth line away, so
    the decoded text differs from the bbox-only call."""
    pages = _pages(spark, n=4)
    row = pages.limit(1).collect()[0]
    desc = datagen.decode_page(bytes(row["img_bytes"]))
    ln = desc["lines"][0]
    x1, y1, x2, y2 = (float(v) for v in ln["bbox"])
    base = [(row["media_ref"], 0, x1, y1, x2, y2,
             [[x1, y1], [x1 + 2.0, y1], [x1 + 2.0, y2], [x1, y2]])]
    schema = ("media_ref string, line_idx int, x1 double, y1 double, "
              "x2 double, y2 double, polygon array<array<double>>")
    boxes = spark.createDataFrame(base, schema)
    with_poly = recognition.recognize_given_boxes(boxes, pages).collect()[0]
    without = recognition.recognize_given_boxes(
        boxes.drop("polygon"), pages).collect()[0]
    assert without["text"] == ln["text"]
    assert with_poly["text"] != ln["text"]


def test_fused_page_crops_byte_identical_to_relational(spark):
    """The combined page pass (fused.fused_all_crops) must emit exactly
    the rows the relational chains produce — line crops with the same
    keys, positions and byte-identical crop blobs as
    detection_stage → order_lines → slice_crops, and table crops
    byte-identical to table_crops(layout_stage_tiled(pages), pages) —
    including tall pages and rotated-quad detection (the CRAFT heatmap
    slot), whose decoded page the table kernel reuses."""
    from surya_spark.operators import (detection, fused, layout,
                                       reading_order, slots, tables)

    n = 24  # includes ~5% tall pages at this count
    docs = datagen.gen_documents(spark, n, partitions=2)
    blobs = datagen.gen_page_blobs(spark, n, partitions=2)
    pages = pipeline.pages_for(docs, blobs).persist()

    def rows(df):
        return sorted(
            (r["media_ref"], r["line_idx"], r["position"],
             r["x1"], r["y1"], r["x2"], r["y2"],
             bytes(r["crop_bytes"]), r["res_x"], r["res_y"])
            for r in df.collect())

    def table_rows(df):
        return sorted(
            (r["media_ref"], r["table_idx"], r["x1"], r["y1"], r["x2"],
             r["y2"], bytes(r["crop_bytes"]))
            for r in df.collect())

    relational_tables = table_rows(tables.table_crops(
        layout.layout_stage_tiled(pages), pages))
    assert relational_tables
    for slot in (slots.surrogate_detect, slots.surrogate_detect_heatmap):
        relational = rows(recognition.slice_crops(
            reading_order.order_lines(
                detection.detection_stage(pages, slot)
            ).select("media_ref", "line_idx", "position",
                     "x1", "y1", "x2", "y2", "polygon"),
            pages))
        allc = fused.fused_all_crops(pages, slot).persist()
        got = rows(fused.line_crops(allc))
        assert got == relational and len(got) > 0, slot.__name__
        assert table_rows(fused.table_crops(allc)) == relational_tables, (
            slot.__name__)
        allc.unpersist()
    pages.unpersist()


def test_langs_passthrough_and_names(spark):
    """Optional per-crop language hints ride through recognize unchanged
    (the reference's OCR results carry language lists), and the
    functions/languages surface maps codes to the reference's display
    names (ref surya/recognition/languages.py:1-98)."""
    from surya_spark.functions import languages as L

    from surya_spark.operators import fused

    pages = _pages(spark, n=4)
    line_crops = fused.line_crops(
        fused.fused_all_crops(pages, layout_slot=None))
    crops = line_crops.withColumn(
        "langs", F.array(F.lit("en"), F.lit("zh")))
    out = recognition.recognize(crops, emit_chars=False)
    assert "langs" in out.columns
    named = out.select(
        "media_ref", "line_idx", "langs",
        L.language_names_col("langs").alias("names")).collect()
    assert named, "no ocr lines"
    for r in named:
        assert list(r["langs"]) == ["en", "zh"]
        assert list(r["names"]) == ["English", "Chinese"]

    # code<->name dicts: reference-parity spot checks + inverse map
    assert L.CODE_TO_LANGUAGE["_math"] == "Math"
    assert L.LANGUAGE_TO_CODE["German"] == "de"
    assert L.language_name("und") == "und"  # unknown echoes back
    # single-code expression + the broadcastable dim
    row = spark.range(1).select(
        L.language_name_col(F.lit("fr")).alias("n")).first()
    assert row["n"] == "French"
    dim = L.language_dim(spark)
    assert dim.count() == len(L.CODE_TO_LANGUAGE)
    # absent langs column: schema unchanged (tail-first optional rule)
    out2 = recognition.recognize(line_crops, emit_chars=False)
    assert "langs" not in out2.columns
