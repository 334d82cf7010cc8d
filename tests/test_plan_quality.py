"""Plan-quality regression tests: the physical plans we tuned for must
not silently regress. Checks predicate pushdown, column pruning,
broadcast strategy, and rank-limit pushdown — the properties that decide
whether these operators survive a 100× scale-up."""

from __future__ import annotations

import sys

import pytest

sys.path.insert(0, ".")

import __spark_entry__ as entry_mod  # noqa: E402

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _exchange_inputs(df) -> list[str]:
    """The `Input [...]` column list of every Exchange node, from the
    FORMATTED explain — the toString() form prints only partitioning
    key expressions on Exchange lines, so grepping it for a carried
    column name is vacuous (a blob column riding a media_ref-keyed
    shuffle never appears there)."""
    import contextlib
    import io
    import re

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    sections = re.split(r"\n\n", buf.getvalue())
    out = []
    for sec in sections:
        lines = sec.strip().splitlines()
        if lines and re.match(r"\(\d+\) Exchange", lines[0]):
            out.append(next(
                (ln for ln in lines if ln.startswith("Input")), ""))
    return out


def test_pricing_summary_pushdown(spark):
    plan = _plan(entry_mod.q_pricing_summary(spark, SF))
    assert "PushedFilters" in plan and "l_shipdate" in plan.split(
        "PushedFilters", 1)[1][:200]
    # column pruning: untouched wide columns never leave the scan
    # (plan string truncates the schema, so check the prefix)
    read_schema = plan.split("ReadSchema", 1)[1][:120]
    assert read_schema.startswith(": struct<l_quantity")
    assert "l_partkey" not in read_schema


def test_dim_joins_broadcast(spark):
    plan = _plan(entry_mod.q_top_revenue_nations(spark, SF))
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan


def test_knn_rank_pushdown(spark):
    plan = _plan(entry_mod.q_knn_bruteforce(spark, SF))
    # Spark's rank-limit pushdown: top-k filtered map-side before the
    # final window — without it every (query, vector) pair shuffles
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin" in plan  # small side broadcast


def test_minhash_no_interpreted_hofs(spark):
    # signature must be explode+min-aggregate (codegen), not the
    # interpreted nested-transform formulation
    from surya_spark.training import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(dedup.minhash_signatures(docs))
    assert "Generate explode" in plan or "Generate" in plan
    assert "lambdafunction" not in plan
    # md5 shingle ids, then min() over the linear permutations
    assert "md5(" in plan and "min(pmod(" in plan


def test_clean_boxes_anti_join_shape(spark):
    from surya_spark import datagen, pipeline
    from surya_spark.operators import detection

    docs = datagen.gen_documents(spark, 10, partitions=2)
    blobs = datagen.gen_page_blobs(spark, 10, partitions=2)
    pages = pipeline.pages_for(docs, blobs)
    plan = _plan(detection.clean_contained_boxes(
        detection.detect_lines(pages)))
    assert "LeftAnti" in plan  # containment filter is a real anti-join


def test_minhash_verify_no_array_shuffle(spark):
    """Verification must count co-occurrences on flat rows — the round-1
    collect_list formulation shipped full shingle arrays on every
    candidate pair (10^5-element arrays per pair on long docs)."""
    from surya_spark.training import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(dedup.minhash_lsh_pairs(docs, threshold=0.3))
    assert "collect_list" not in plan
    assert "array_intersect" not in plan and "array_union" not in plan


def test_simhash_blocking_join_is_equi(spark):
    """Candidate generation must stay an equi hash/sort-merge join on
    (segment idx, segment value) — never a nested-loop cross join."""
    from surya_spark.training import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sim = dedup.simhash(docs)
    plan = _plan(dedup.simhash_pairs(sim, max_dist=3))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_extract_no_driver_broadcasts(spark):
    """Every join side in the extraction DAG derives from the corpus, so
    NO BroadcastExchange may appear — auto-broadcast of data-derived
    aggregates makes the driver serially collect data proportional to
    corpus size (the round-2 scaling fix; BENCH.md)."""
    from surya_spark import datagen, pipeline

    docs = datagen.gen_documents(spark, 12, partitions=2)
    blobs = datagen.gen_page_blobs(spark, 12, partitions=2)
    out = pipeline.extract(docs, blobs, with_tables=True)
    plan = _plan(out)
    assert "BroadcastExchange" not in plan
    assert "BroadcastHashJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_extract_blob_bytes_shuffle_once(spark):
    """Round-3 property: page blob bytes (img_bytes) cross the wire at
    most once — inside the persisted pages subtree — and NEVER in the
    downstream executed plan. A partition-count mismatch or a lost
    shuffle_hash hint would reintroduce a blob re-shuffle here."""
    from surya_spark import datagen, pipeline

    docs = datagen.gen_documents(spark, 12, partitions=2)
    blobs = datagen.gen_page_blobs(spark, 12, partitions=2)
    out = pipeline.extract(docs, blobs, with_tables=True)
    inputs = _exchange_inputs(out)
    assert inputs, "expected Exchange nodes in the extract plan"
    # page blob bytes cross EXACTLY ONE exchange: the media_ref
    # pre-partition of the pages semi-join input (executed once under
    # the persist). A second img_bytes-carrying exchange means a lost
    # hint or partition-count mismatch re-shuffled the big side.
    blob_exchanges = [ln for ln in inputs if "img_bytes" in ln]
    assert len(blob_exchanges) == 1, blob_exchanges
    # the round-5 fusions' property: crop blobs flow UDF→UDF (detect→
    # order→slice→recognize, layout→table-crop→cell pass) and never
    # cross an exchange — only small span/cell rows shuffle downstream
    # of the pages persist
    crop_exchanges = [ln for ln in inputs if "crop_bytes" in ln]
    assert crop_exchanges == [], crop_exchanges


def test_debug_and_render_sinks_no_driver_broadcasts(spark):
    """The round-5 visualization operators reuse the aggregate-then-join
    shape; their item/line sides derive from the corpus, so no
    BroadcastExchange may appear, and page blob bytes must stay out of
    every exchange (only width/height join in)."""
    from surya_spark import datagen, pipeline
    from surya_spark.operators import detection, reading_order, recognition
    from surya_spark.sources import debug_draw, render_html

    docs = datagen.gen_documents(spark, 8, partitions=2)
    blobs = datagen.gen_page_blobs(spark, 8, partitions=2)
    pages = pipeline.pages_for(docs, blobs)
    lines = detection.detection_stage(pages)

    overlay_plan = _plan(debug_draw.debug_overlays(lines, pages))
    ocr = recognition.recognize(
        recognition.slice_crops(
            reading_order.order_lines(lines).select(
                "media_ref", "line_idx", "position",
                "x1", "y1", "x2", "y2", "polygon"), pages),
        emit_chars=False)
    render_plan = _plan(render_html.html_render_pages(ocr, pages))

    for plan in (overlay_plan, render_plan):
        assert "BroadcastExchange" not in plan
        assert "BroadcastHashJoin" not in plan
    # the render join reads only (media_ref, width, height) of pages —
    # blob bytes are pruned before any exchange on that branch
    render_blob_exchanges = [
        ln for ln in render_plan.splitlines()
        if "Exchange" in ln and "img_bytes" in ln
    ]
    assert render_blob_exchanges == [], render_blob_exchanges


def test_extract_no_page_blob_persist(spark):
    """The default extract plan persists nothing: pages feed only the
    page pass and its span items feed only assembly, so no
    InMemoryRelation may appear at all — in particular none holding raw
    page blobs (img_bytes), the pipeline's largest cache footprint."""
    from surya_spark import datagen, pipeline

    docs = datagen.gen_documents(spark, 12, partitions=2)
    blobs = datagen.gen_page_blobs(spark, 12, partitions=2)
    out = pipeline.extract(docs, blobs, with_tables=True)
    plan = _plan(out)
    assert "InMemoryRelation" not in plan, plan
