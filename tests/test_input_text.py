"""input_text conditioning through recognition — the reference's
verify/correct library mode (ref surya/recognition/__init__.py:86-102,
354-471; behavior pinned by ref tests/test_recognition.py:17-38):

* given text equal to the line → model confirms, caller's text comes
  back with confidence 1.0 and original_text_good=true (the reference's
  empty-decode short-circuit, :889-899);
* wrong given text → normal decode (truth text, flag false);
* overlong given text (> task max_tokens) → DROPPED as likely invalid,
  normal decode (the 400-char case the reference test times);
* absent column → schema and the 2-argument slot call unchanged;
* three recognize slots (the default, a batch slot slicing into 3s,
  continuous_slot) stay row-identical under conditioning.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from surya_spark import datagen, pipeline
from surya_spark.operators import recognition, slots


def _pages(spark, n=8):
    docs = datagen.gen_documents(spark, n, partitions=2)
    blobs = datagen.gen_page_blobs(spark, n, partitions=2)
    return pipeline.pages_for(docs, blobs)


def _truth_lines(pages, k_pages=4):
    rows = pages.limit(k_pages).collect()
    truth = []
    for r in rows:
        desc = datagen.decode_page(bytes(r["img_bytes"]))
        for i, ln in enumerate(desc["lines"]):
            truth.append((r["media_ref"], i,
                          *[float(v) for v in ln["bbox"]], ln["text"]))
    return truth


_BOX_SCHEMA = ("media_ref string, line_idx int, x1 double, y1 double, "
               "x2 double, y2 double, input_text string")


def test_input_text_good_wrong_overlong_absent(spark):
    pages = _pages(spark)
    truth = _truth_lines(pages)
    assert len(truth) >= 4
    # cycle conditioning modes over the truth lines: 0=correct text,
    # 1=wrong text, 2=overlong (>224 chars), 3=absent (NULL)
    fixture, expect = [], {}
    for j, t in enumerate(truth):
        mode = j % 4
        given = {0: t[6], 1: "definitely not the line",
                 2: "a" * 400, 3: None}[mode]
        fixture.append((t[0], t[1], t[2], t[3], t[4], t[5], given))
        expect[(t[0], t[1])] = (t[6], mode == 0)
    boxes = spark.createDataFrame(fixture, _BOX_SCHEMA)
    out = recognition.recognize_given_boxes(boxes, pages)
    assert "original_text_good" in out.columns
    got = {(r["media_ref"], r["line_idx"]):
           (r["text"], r["original_text_good"], r["confidence"])
           for r in out.collect()}
    assert set(got) == set(expect)
    for k, (text, good) in expect.items():
        gt, gflag, gconf = got[k]
        assert gt == text, k          # resolved text is always the truth
        assert gflag == good, k       # flag only on verified-good input
        if good:
            assert gconf == 1.0, k    # ref: confidence=1 short-circuit


def test_no_input_text_column_keeps_schema_and_slot_arity(spark):
    pages = _pages(spark, n=4)
    truth = _truth_lines(pages, k_pages=2)
    boxes = spark.createDataFrame(
        [t[:6] for t in truth],
        "media_ref string, line_idx int, x1 double, y1 double, "
        "x2 double, y2 double")

    def two_arg_slot(crops, tasks):  # a deployment slot predating the mode
        return slots.surrogate_recognize_batch(crops, tasks)

    out = recognition.recognize_given_boxes(boxes, pages,
                                            slot=two_arg_slot)
    assert "original_text_good" not in out.columns
    assert out.count() == len(truth)


def test_all_three_paths_identical_under_conditioning(spark):
    pages = _pages(spark)
    truth = _truth_lines(pages)
    fixture = [
        (t[0], t[1], t[2], t[3], t[4], t[5],
         t[6] if j % 3 == 0 else ("wrong" if j % 3 == 1 else None))
        for j, t in enumerate(truth)
    ]
    boxes = spark.createDataFrame(fixture, _BOX_SCHEMA)
    from pyspark.sql import Window
    w = Window.partitionBy("media_ref").orderBy("y1", "x1", "line_idx")
    boxes = boxes.withColumn("position", F.row_number().over(w))
    crops = recognition.slice_crops(
        boxes.select("media_ref", "line_idx", "position",
                     "x1", "y1", "x2", "y2", "input_text"), pages)

    def rows(df):
        return sorted(
            (r["media_ref"], r["line_idx"], r["text"],
             r["original_text_good"], round(r["confidence"], 12))
            for r in df.collect())

    def sliced_slot(crops, tasks, texts):
        from surya_spark.operators import slots as worker_slots

        out = []
        for s in range(0, len(crops), 3):
            out.extend(worker_slots.surrogate_recognize_batch(
                crops[s:s + 3], tasks[s:s + 3], texts[s:s + 3]))
        return out

    plain = rows(recognition.recognize(crops))
    batched = rows(recognition.recognize(crops, slot=sliced_slot))
    stepped = rows(recognition.recognize(
        crops, slot=recognition.continuous_slot(
            slots.SurrogateStepRecognizer(), 4)))
    assert batched == plain and stepped == plain and len(plain) > 0
    assert any(r[3] for r in plain) and any(not r[3] for r in plain)


def test_drop_repeated_lines_blanks_loops(spark):
    """drop_repeated_text parity (ref recognition/__init__.py:643-655 +
    tests/test_recognition.py:41-56): a degenerate short-loop line is
    blanked (text '', confidence 0, chars []); natural text untouched."""
    from pyspark.sql import types as T

    from surya_spark import schemas

    ch = {"text": "a", "x1": 0.0, "y1": 0.0, "x2": 1.0, "y2": 1.0,
          "confidence": 0.9, "bbox_valid": True}
    rows = [("p", 0, "ab" * 40, [ch], 0.9),
            ("p", 1, "the quick brown fox jumps over the lazy dog and "
                     "keeps going with more distinct words", [ch], 0.8)]
    df = spark.createDataFrame(
        rows, T.StructType([
            T.StructField("media_ref", T.StringType()),
            T.StructField("line_idx", T.IntegerType()),
            T.StructField("text", T.StringType()),
            T.StructField("chars", T.ArrayType(schemas.TEXT_CHAR)),
            T.StructField("confidence", T.DoubleType()),
        ]))
    from surya_spark.operators import recognition

    out = {r["line_idx"]: r
           for r in recognition.drop_repeated_lines(df).collect()}
    assert out[0]["text"] == "" and out[0]["confidence"] == 0.0
    assert out[0]["chars"] == []
    assert out[1]["text"].startswith("the quick")
    assert out[1]["confidence"] == 0.8 and len(out[1]["chars"]) == 1
