"""Matching kernels, metrics aggregates, partitioning utils, sources/sinks,
OCR-error stage, word assembly."""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import functions as F

from surya_spark import datagen, pipeline
from surya_spark.functions import metrics
from surya_spark.operators import matching, ocr_error, recognition
from surya_spark.plans import partitioning
from surya_spark.sources import files, json_sink


def _boxes(spark, rows, cols=("key", "box_id", "x1", "y1", "x2", "y2")):
    return spark.createDataFrame(pd.DataFrame(rows, columns=list(cols)))


def test_greedy_iou_match(spark):
    pred = _boxes(spark, [("p", 1, 0.0, 0.0, 10.0, 10.0),
                          ("p", 2, 20.0, 0.0, 30.0, 10.0),
                          ("p", 3, 50.0, 50.0, 60.0, 60.0)])
    ref = _boxes(spark, [("p", 11, 1.0, 0.0, 11.0, 10.0),
                         ("p", 12, 19.0, 0.0, 29.0, 10.0)])
    m = {(r["pred_id"], r["ref_id"]): r["iou"]
         for r in matching.greedy_iou_match(pred, ref).collect()}
    assert set(m) == {(1, 11), (2, 12)}
    assert all(v > 0.5 for v in m.values())


def test_merge_vertical_lines(spark):
    segs = spark.createDataFrame(pd.DataFrame(
        [("p", 0, 100.0, 0.0, 102.0, 50.0),
         ("p", 1, 101.0, 45.0, 103.0, 90.0),   # overlaps 0 at same x
         ("p", 2, 100.0, 92.0, 102.0, 140.0),  # within y_margin of 1
         ("p", 3, 400.0, 0.0, 402.0, 90.0)],   # far x → separate
        columns=["key", "seg_id", "x1", "y1", "x2", "y2"]))
    out = matching.merge_vertical_lines(segs)
    rows = out.collect()
    assert len(rows) == 2
    big = max(rows, key=lambda r: r["n_segments"])
    assert big["n_segments"] == 3
    assert big["y1"] == 0.0 and big["y2"] == 140.0


def test_coverage_and_rank_metrics(spark):
    pred = _boxes(spark, [("p", 1, 0.0, 0.0, 10.0, 10.0),
                          ("p", 2, 100.0, 100.0, 110.0, 110.0)])
    ref = _boxes(spark, [("p", 1, 0.0, 0.0, 10.0, 10.0)])
    pr = metrics.coverage_precision_recall(pred, ref).collect()[0]
    assert pr["precision"] == 0.5 and pr["recall"] == 1.0

    # page q: overlapping refs 2 and 3 cover 60 + 50 of pred 1's 100
    # (coverage capped at 1); zero-area pred 2 is uncovered; ref 2 lies
    # 60/160 under pred 1, ref 3 wholly, so recall is 1/2
    pred = _boxes(spark, [("q", 1, 0.0, 0.0, 10.0, 10.0),
                          ("q", 2, 5.0, 5.0, 5.0, 9.0)])
    ref = _boxes(spark, [("q", 2, -10.0, 0.0, 6.0, 10.0),
                         ("q", 3, 2.0, 0.0, 7.0, 10.0)])
    pr = metrics.coverage_precision_recall(pred, ref).collect()[0]
    assert pr["precision"] == 0.5 and pr["recall"] == 0.5

    pred_o = spark.createDataFrame(
        pd.DataFrame([("p", 1, 1), ("p", 2, 2), ("p", 3, 3)],
                     columns=["key", "item_id", "position"]))
    ref_o = spark.createDataFrame(
        pd.DataFrame([("p", 1, 1), ("p", 2, 3), ("p", 3, 2)],
                     columns=["key", "item_id", "position"]))
    acc = metrics.rank_accuracy(pred_o, ref_o).collect()[0]["pair_accuracy"]
    assert abs(acc - 2 / 3) < 1e-9


def test_assemble_words(spark):
    ocr = spark.createDataFrame(pd.DataFrame({
        "media_ref": ["m"], "line_idx": [0],
        "chars": [[
            {"text": "h", "x1": 0.0, "y1": 0.0, "x2": 5.0, "y2": 10.0,
             "confidence": 1.0, "bbox_valid": True},
            {"text": "i", "x1": 5.0, "y1": 0.0, "x2": 10.0, "y2": 10.0,
             "confidence": 1.0, "bbox_valid": True},
            {"text": " ", "x1": 10.0, "y1": 0.0, "x2": 12.0, "y2": 10.0,
             "confidence": 1.0, "bbox_valid": True},
            {"text": "yo", "x1": 12.0, "y1": 0.0, "x2": 20.0, "y2": 10.0,
             "confidence": 1.0, "bbox_valid": True},
        ]],
    }))
    words = recognition.assemble_words(ocr).orderBy("word_idx").collect()
    assert [w["word"] for w in words] == ["hi", "yo"]
    assert words[0]["x1"] == 0.0 and words[0]["x2"] == 10.0
    assert words[1]["x1"] == 12.0



def test_line_confidence_is_char_mean(spark):
    """Line confidence is the mean of its chars' confidences; a line
    without chars keeps the confidence it came in with."""
    from pyspark.sql import types as T

    from surya_spark import schemas

    def ch(conf):
        return {"text": "a", "x1": 0.0, "y1": 0.0, "x2": 1.0, "y2": 1.0,
                "confidence": conf, "bbox_valid": True}

    schema = T.StructType([
        T.StructField("line_idx", T.IntegerType(), False),
        T.StructField("chars", T.ArrayType(schemas.TEXT_CHAR), False),
        T.StructField("confidence", T.DoubleType(), False),
    ])
    ocr = spark.createDataFrame(
        [(0, [ch(0.2), ch(0.6)], 0.9), (1, [], 0.7)], schema)
    got = {r["line_idx"]: r["confidence"]
           for r in recognition.line_confidence(ocr).collect()}
    assert abs(got[0] - 0.4) < 1e-12
    assert got[1] == 0.7

def test_ocr_error_stage(spark):
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": ["a", "a", "b"],
        "text": ["clean readable text here",
                 "@#$%^&*()!!~~``{{}}||\\//", ""],
    }))
    labeled = ocr_error.classify_spans(df)
    out = {(r["doc_id"], r["text"][:5]): r["ocr_label"]
           for r in labeled.collect()}
    assert out[("a", "clean")] == "good"
    assert out[("a", "@#$%^")] == "bad"
    vote = {r["doc_id"]: r["is_bad_doc"]
            for r in ocr_error.doc_bad_vote(labeled).collect()}
    assert vote["a"] is True and vote["b"] is True


def test_partitioning_utils(spark):
    pages = spark.createDataFrame(pd.DataFrame({
        "media_ref": [f"m{i}" for i in range(10)],
        "height": [1024] * 8 + [4096, 4096],
    }))
    with_cost = pages.withColumn(
        "cost", partitioning.page_cost(F.col("height")))
    costs = {r["media_ref"]: r["cost"] for r in with_cost.collect()}
    assert costs["m0"] == 1 and costs["m8"] == 3

    packed = partitioning.pack_by_cost(with_cost, "cost", 2, "media_ref")
    assert packed.rdd.getNumPartitions() == 2

    agg = partitioning.two_phase_agg(
        with_cost.withColumn("doc", F.lit("d")), key="doc",
        cost_col="cost", child="media_ref",
        aggs=[("height", "sum"), ("height", "max")],
        max_cost_per_salt=2,
    ).collect()[0]
    assert agg["height_sum"] == 8 * 1024 + 2 * 4096
    assert agg["height_max"] == 4096


def test_page_range_and_folder_scan(spark, tmp_path):
    assert files.parse_page_range("0,5-7,3") == [0, 3, 5, 6, 7]
    d = tmp_path / "media"
    d.mkdir()
    (d / "a.spg").write_bytes(b"SPG1xxxx")
    (d / ".hidden.spg").write_bytes(b"nope")
    (d / "b.png").write_bytes(b"\x89PNG")
    out = files.load_media_folder(spark, str(d), glob="*.{spg,png}")
    rows = {r["media_ref"].split("/")[-1]: r for r in out.collect()}
    assert set(rows) == {"a.spg", "b.png"}
    assert rows["a.spg"]["ext"] == "spg"
    assert bytes(rows["b.png"]["img_bytes"]) == b"\x89PNG"


def test_json_sink_roundtrip(spark, tmp_path):
    docs = datagen.gen_documents(spark, 8, partitions=2)
    blobs = datagen.gen_page_blobs(spark, 8, partitions=2)
    out = pipeline.extract(docs, blobs, with_tables=True)
    path = str(tmp_path / "results")
    json_sink.write_results_json(out, path, n_files=1)
    lines = []
    for p in (tmp_path / "results").glob("*.json"):
        lines += [json.loads(l) for l in p.read_text().splitlines()]
    assert len(lines) == 8
    one = lines[0]
    assert {"doc_id", "n_spans", "n_media", "spans"} <= set(one)
    assert one["n_spans"] == len(one["spans"])


def test_pdf_text_lines_source(spark):
    """PDF ground-truth source: extractor slot -> rescaled line table
    (int-truncated, ref surya/common/util.py:39-51) and the vertical
    join_lines merge (ref benchmark/utils/bbox.py:28-53)."""
    from surya_spark import datagen
    from surya_spark.sources import pdf_lines as P
    from pyspark.sql import functions as F

    blobs = datagen.gen_page_blobs(spark, 8, partitions=2)
    out = P.pdf_text_lines(blobs)
    got = out.collect()
    if got:
        # fake extractor halves coordinates; rescale must restore them
        one = blobs.limit(1).collect()[0]
        desc = datagen.decode_page(bytes(one["img_bytes"]))
        mine = sorted(
            [(r["x1"], r["y1"], r["x2"], r["y2"]) for r in got
             if r["media_ref"] == one["media_ref"]])
        truth = sorted(
            [tuple(float(int(v)) for v in ln["bbox"]) for ln in desc["lines"]])
        assert mine == truth

    # join_lines: contained line 5px below merges into the wider one
    lines = spark.createDataFrame(
        [("m", 0, 0, 10.0, 50.0, 200.0, 80.0),   # wide line
         ("m", 0, 1, 20.0, 20.0, 180.0, 47.0),   # above, gap |50-47|<=5 -> merge
         ("m", 0, 2, 300.0, 300.0, 400.0, 320.0)],  # unrelated
        "media_ref string, page_idx int, line_idx int, "
        "x1 double, y1 double, x2 double, y2 double",
    )
    merged = P.join_adjacent_lines(lines).collect()
    boxes = {(r["x1"], r["y1"], r["x2"], r["y2"]) for r in merged}
    assert (10.0, 20.0, 200.0, 80.0) in boxes
    assert len(merged) == 2

    # deployment slot is a documented stub
    import pytest
    with pytest.raises(NotImplementedError):
        P.pymupdf_extract(b"%PDF-")


def test_html_boilerplate_strip(spark):
    """DOM-heuristic main-content extraction: link-dense nav/footer blocks
    drop, content paragraphs survive in document order."""
    from surya_spark.operators import html_main

    docs = spark.createDataFrame(
        [
            ("d1",
             "<html><body>"
             "<nav><a href='/'>Home</a> <a href='/a'>About</a></nav>"
             "<div><p>The first real paragraph has plenty of words in it."
             "</p><p>Second real paragraph also carries enough words here."
             "</p></div>"
             "<footer><a href='/t'>Terms</a> <a href='/p'>Privacy</a>"
             "</footer></body></html>"),
            ("d2", "<p>short</p>"),                   # < min_words → dropped
            ("d3", ""),                               # empty document
        ],
        "doc_id string, html string",
    )
    out = {r["doc_id"]: r for r in
           html_main.strip_boilerplate(docs).collect()}
    assert out["d1"]["n_blocks_kept"] == 2
    lines = out["d1"]["main_text"].split("\n")
    assert lines[0].startswith("The first real paragraph")
    assert lines[1].startswith("Second real paragraph")
    assert "Home" not in out["d1"]["main_text"]
    assert "Terms" not in out["d1"]["main_text"]
    assert out["d2"]["n_blocks_kept"] == 0 and out["d2"]["main_text"] == ""
    assert out["d3"]["n_blocks_kept"] == 0

    # block metrics: the nav block is pure link text (density 1.0)
    blocks = html_main.html_blocks(docs.filter("doc_id = 'd1'")).collect()
    navs = [b for b in blocks if "Home" in (b["text"] or "")]
    assert navs and all(b["link_density"] >= 0.9 for b in navs)


def test_containment_keep_blocked_matches_single_block():
    """The memory-bounded row-block evaluation of the containment kernel
    must agree with the single-block matrix and a brute-force loop at the
    block boundary (n just above/below the block row count)."""
    import numpy as np

    from surya_spark.operators.detection import _containment_keep

    rng = np.random.RandomState(7)
    n = 97
    x1 = rng.randint(0, 50, n).astype(float)
    y1 = rng.randint(0, 50, n).astype(float)
    x2 = x1 + rng.randint(0, 30, n)  # some zero-area boxes
    y2 = y1 + rng.randint(0, 30, n)
    ids = np.arange(n)

    def brute():
        area = (x2 - x1) * (y2 - y1)
        keep = np.ones(n, dtype=bool)
        for i in range(n):
            if area[i] <= 0:
                keep[i] = False
                continue
            for j in range(n):
                if j == i:
                    continue
                if (x1[j] <= x1[i] and y1[j] <= y1[i]
                        and x2[j] >= x2[i] and y2[j] >= y2[i]
                        and (area[j] > area[i]
                             or (area[j] == area[i] and j < i))):
                    keep[i] = False
                    break
        return keep

    expected = brute()
    single = _containment_keep(x1, y1, x2, y2, ids)
    assert (single == expected).all()
    # force multi-block paths: block row counts 1, n-1, n, n+1
    for rows_per_block in (1, n - 1, n, n + 1):
        blocked = _containment_keep(
            x1, y1, x2, y2, ids, block_elems=rows_per_block * n)
        assert (blocked == expected).all(), rows_per_block


def test_penalized_iou_snap_and_penalties(spark):
    """penalized_iou_scores semantics (ref benchmark/utils/metrics.py:
    57-60): coverage > 0.95 snaps to 1.0; an unmatched ref costs -1; an
    unmatched pred costs 0; denominator = n_pred + n_ref - min."""
    from surya_spark.operators.matching import penalized_iou_scores

    schema = ("key string, box_id long, x1 double, y1 double, "
              "x2 double, y2 double")
    # key a: pred1 covers ref A 97% (snap), pred2 hits nothing ->
    # ref-assignment at 0 equals the unmatched-pred contribution:
    # score = (1.0 + 0) / 2 = 0.5
    # key b: one pred covers ref A 97%, ref B unmatched:
    # score = (1.0 - 1.0) / (1 + 2 - 1) = 0.0
    pred = spark.createDataFrame(
        [("a", 1, 0.0, 0.0, 97.0, 10.0), ("a", 2, 500.0, 500.0, 510.0, 510.0),
         ("b", 1, 0.0, 0.0, 97.0, 10.0)], schema)
    ref = spark.createDataFrame(
        [("a", 10, 0.0, 0.0, 100.0, 10.0), ("a", 11, 900.0, 900.0, 910.0, 910.0),
         ("b", 10, 0.0, 0.0, 100.0, 10.0), ("b", 11, 900.0, 900.0, 910.0, 910.0)],
        schema)
    out = {r["key"]: r for r in penalized_iou_scores(pred, ref).collect()}
    assert out["a"]["score_num_u"] == 1_000_000 and out["a"]["denom"] == 2
    assert abs(out["a"]["score"] - 0.5) < 1e-12
    assert out["b"]["score_num_u"] == 0 and out["b"]["denom"] == 2
    assert out["b"]["score"] == 0.0


def test_containment_keep_inverted_boxes_fallback():
    """Inverted boxes (x2 < x1 with positive area) disable the r7
    x1-sorted column-window pruning — the windowed and full-width paths
    must agree with brute force on a mix that includes them."""
    import numpy as np

    from surya_spark.operators.detection import _containment_keep

    rng = np.random.RandomState(11)
    n = 60
    x1 = rng.randint(0, 40, n).astype(float)
    y1 = rng.randint(0, 40, n).astype(float)
    w = rng.randint(-8, 25, n)   # negatives → inverted/degenerate boxes
    h = rng.randint(-8, 25, n)
    x2, y2 = x1 + w, y1 + h
    ids = rng.permutation(n).astype(np.int64)

    area = (x2 - x1) * (y2 - y1)
    keep = np.ones(n, dtype=bool)
    for i in range(n):
        if area[i] <= 0:
            keep[i] = False
            continue
        for j in range(n):
            if ids[j] == ids[i]:
                continue
            if (x1[j] <= x1[i] and y1[j] <= y1[i]
                    and x2[j] >= x2[i] and y2[j] >= y2[i]
                    and (area[j] > area[i]
                         or (area[j] == area[i] and ids[j] < ids[i]))):
                keep[i] = False
                break
    got = _containment_keep(x1, y1, x2, y2, ids)
    assert (got == keep).all()


def test_coverage_grid_matches_pairwise_kernel():
    """The r7 unit-cell grid covered-area sweep must be BIT-identical to
    the pairwise sweep on integer geometry (incl. degenerate boxes), and
    the public kernel must fall back to pairwise on fractional coords."""
    import numpy as np

    from surya_spark.functions.metrics import (_covered_grid,
                                               _covered_pairwise)

    rng = np.random.RandomState(5)
    for _ in range(10):
        npred, nref = rng.randint(1, 60), rng.randint(1, 60)
        def mk(n):
            a = rng.randint(0, 900, n).astype(float)
            b = rng.randint(0, 900, n).astype(float)
            return np.stack(
                [a, b, a + rng.randint(-3, 150, n),
                 b + rng.randint(-3, 100, n)], axis=1)
        px, rx = mk(npred), mk(nref)
        g, p = _covered_grid(px, rx), _covered_pairwise(px, rx)
        assert np.array_equal(g, p)


def test_coverage_kernel_fractional_fallback(spark):
    """Fractional coordinates route through the pairwise fallback and
    still produce the exact covered sums."""
    import pandas as pd

    from surya_spark.functions.metrics import coverage_per_box_kernel

    pred = spark.createDataFrame(pd.DataFrame(
        [("p", 1, 0.5, 0.5, 10.25, 9.75), ("p", 2, 20.0, 0.0, 31.5, 8.5)],
        columns=["key", "box_id", "x1", "y1", "x2", "y2"]))
    ref = spark.createDataFrame(pd.DataFrame(
        [("p", 1.0, 1.0, 9.0, 9.0), ("p", 22.25, 1.0, 30.0, 7.0)],
        columns=["key", "x1", "y1", "x2", "y2"]))
    rows = {r["box_id"]: r for r in
            coverage_per_box_kernel(pred, ref).collect()}
    assert abs(rows[1]["covered"] - 8.0 * 8.0) < 1e-9
    assert abs(rows[2]["covered"] - 7.75 * 6.0) < 1e-9


def test_clean_contained_boxes_kernel_matches_anti_join(spark):
    """The kernel the clean_boxes driver query runs keeps the survivors
    the anti-join keeps, with duplicate (key, id) rows dropped inside
    the kernel (dedup_ids) and only output_cols returned."""
    from surya_spark.operators import detection

    rows = [
        ("a", 1, 0.0, 0.0, 100.0, 50.0),
        ("a", 2, 10.0, 10.0, 40.0, 30.0),    # inside 1
        ("a", 2, 10.0, 10.0, 40.0, 30.0),    # duplicate row of 2
        ("a", 3, 200.0, 0.0, 230.0, 20.0),
        ("a", 4, 200.0, 0.0, 230.0, 20.0),   # equal area: lower id wins
        ("a", 5, 60.0, 60.0, 60.0, 90.0),    # zero area
        ("b", 1, 5.0, 5.0, 25.0, 25.0),
        ("b", 1, 5.0, 5.0, 25.0, 25.0),      # duplicate row of 1
        ("b", 7, 20.0, 20.0, 70.0, 70.0),    # overlaps 1, contains nothing
    ]
    boxes = _boxes(spark, rows,
                   cols=("page_id", "box_id", "x1", "y1", "x2", "y2"))
    got = detection.clean_contained_boxes_kernel(
        boxes, key="page_id", id_col="box_id", dedup_ids=True,
        output_cols=["page_id", "box_id"])
    assert got.columns == ["page_id", "box_id"]
    lines = boxes.dropDuplicates().select(
        F.col("page_id").alias("media_ref"),
        F.col("box_id").alias("line_idx"), "x1", "y1", "x2", "y2")
    want = detection.clean_contained_boxes(lines).select(
        "media_ref", "line_idx")
    assert (sorted(tuple(r) for r in got.collect())
            == sorted(tuple(r) for r in want.collect())
            == [("a", 1), ("a", 3), ("b", 1), ("b", 7)])
