"""Kill-and-resume: a run stopped after some bucket groups must resume
without recomputing committed partitions, and the final output must equal
the non-checkpointed pipeline's output (Tier D, SURVEY.md §5.2)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from surya_spark import datagen, pipeline
from surya_spark.plans.checkpoint import CheckpointRunner, read_if_present

N_DOCS = 24


def _spans_dict(df):
    return {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in r["spans"]
        ]
        for r in df.collect()
    }


def test_stage_resume_skips_committed(spark, tmp_path):
    base = str(tmp_path / "ckpt")
    docs = datagen.gen_documents(spark, N_DOCS, partitions=2)
    blobs = datagen.gen_page_blobs(spark, N_DOCS, partitions=2)
    runner = CheckpointRunner(spark, base, n_buckets=8, n_groups=4)

    # "killed" run: only 2 of 4 groups commit
    runner.stage("pages", lambda: pipeline.pages_for(docs, blobs),
                 bucket_key="media_ref", max_groups=2)
    lin1 = runner.lineage()
    assert lin1.filter(F.col("stage") == "pages").count() == 4  # 2 groups × 2 buckets

    # resume: completes the remaining groups only
    out = runner.stage("pages", lambda: pipeline.pages_for(docs, blobs),
                       bucket_key="media_ref")
    lin2 = runner.lineage()
    assert lin2.filter(F.col("stage") == "pages").count() == 8
    # exactly one lineage record per bucket → nothing was recomputed
    per_bucket = (
        lin2.filter(F.col("stage") == "pages")
        .groupBy("bucket").count().collect()
    )
    assert all(r["count"] == 1 for r in per_bucket)

    expected = pipeline.pages_for(docs, blobs).count()
    assert out.count() == expected

    # second resume call: fully committed → no new lineage rows
    runner.stage("pages", lambda: pipeline.pages_for(docs, blobs),
                 bucket_key="media_ref")
    assert runner.lineage().filter(F.col("stage") == "pages").count() == 8


def test_runner_rejects_uneven_groups(spark, tmp_path):
    """Groups are equal runs of buckets: n_buckets=10 in 4 groups would
    leave buckets 8 and 9 in no group, so their rows would never be
    written. The check must survive python -O, so it is no assert."""
    with pytest.raises(ValueError):
        CheckpointRunner(spark, str(tmp_path / "ckpt"), n_buckets=10,
                         n_groups=4)


def test_checkpointed_extract_matches_direct(spark, tmp_path):
    base = str(tmp_path / "ckpt_e2e")
    docs = datagen.gen_documents(spark, N_DOCS, partitions=2)
    blobs = datagen.gen_page_blobs(spark, N_DOCS, partitions=2)

    direct = _spans_dict(pipeline.extract(docs, blobs, with_tables=True))
    out = pipeline.checkpointed_extract(spark, docs, blobs, base,
                                        n_buckets=8, n_groups=2)
    assert _spans_dict(out) == direct
    # assembly reads the committed items: no page pass, no cache
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas page_pass(" not in plan
    assert "InMemoryRelation" not in plan

    runner = CheckpointRunner(spark, base, n_buckets=8, n_groups=2)
    m = runner.metrics().collect()
    stages = {r["stage"] for r in m}
    # the resumable path checkpoints the flagship plan's one inference
    # stage, the page pass's span items — the pages semi-join stays lazy
    assert stages == {"items"}
    assert all(r["errors"] == 0 for r in m)


def test_checkpointed_resume_on_fused_stages(spark, tmp_path):
    """Kill-and-resume of the items stage: a run that commits only the
    first bucket group must, on re-invocation, complete the rest without
    recomputing committed groups and still equal the direct pipeline
    byte-for-byte."""
    base = str(tmp_path / "ckpt_resume_fused")
    docs = datagen.gen_documents(spark, N_DOCS, partitions=2)
    blobs = datagen.gen_page_blobs(spark, N_DOCS, partitions=2)

    # "killed" run: 1 of 2 groups
    pipeline.checkpointed_extract(spark, docs, blobs, base,
                                  n_buckets=4, n_groups=2, max_groups=1)
    runner = CheckpointRunner(spark, base, n_buckets=4, n_groups=2)
    lin1 = runner.lineage()
    assert lin1.filter(F.col("stage") == "items").count() == 2

    # resume to completion
    out = pipeline.checkpointed_extract(spark, docs, blobs, base,
                                        n_buckets=4, n_groups=2)
    lin2 = CheckpointRunner(spark, base, n_buckets=4, n_groups=2).lineage()
    per_stage = {r["stage"]: r["cnt"] for r in
                 lin2.groupBy("stage").agg(F.count("*").alias("cnt")).collect()}
    assert per_stage == {"items": 4}
    # committed groups were NOT recomputed (still exactly one lineage row
    # per committed bucket)
    assert lin2.groupBy("stage", "bucket").count().filter(
        F.col("count") > 1).count() == 0

    direct = _spans_dict(pipeline.extract(docs, blobs, with_tables=True))
    assert _spans_dict(out) == direct


def test_checkpointed_highres_matches_extract_and_resumes(spark, tmp_path):
    """The dual-DPI resumable run checkpoints the same items stage as
    the default run, resumes after a partial (max_groups) run
    without recomputing committed groups, and equals the dual-DPI
    extract span for span."""
    base = str(tmp_path / "ckpt_highres")
    docs = datagen.gen_documents(spark, N_DOCS, partitions=2)
    blobs = datagen.gen_page_blobs(spark, N_DOCS, partitions=2)

    # the surrogate recognizer reads the same text at either resolution,
    # so the 2× render gets upper-cased line text: spans then show
    # which render the line crops came from
    @F.udf("binary")
    def shout(blob):
        desc = datagen.decode_page(bytes(blob))
        for ln in desc["lines"]:
            ln["text"] = ln["text"].upper()
        return datagen.encode_page(desc)

    hi = datagen.gen_page_blobs(spark, N_DOCS, partitions=2, scale=2.0) \
        .withColumn("img_bytes", shout("img_bytes"))

    # "killed" run: 1 of 2 groups
    pipeline.checkpointed_extract(spark, docs, blobs, base, n_buckets=4,
                                  n_groups=2, max_groups=1,
                                  highres_blobs=hi)
    out = pipeline.checkpointed_extract(spark, docs, blobs, base,
                                        n_buckets=4, n_groups=2,
                                        highres_blobs=hi)
    lin = CheckpointRunner(spark, base, n_buckets=4, n_groups=2).lineage()
    per_stage = {r["stage"]: r["cnt"] for r in
                 lin.groupBy("stage").agg(F.count("*").alias("cnt")).collect()}
    assert per_stage == {"items": 4}
    assert lin.groupBy("stage", "bucket").count().filter(
        F.col("count") > 1).count() == 0

    direct = _spans_dict(pipeline.extract(docs, blobs, with_tables=True,
                                          highres_blobs=hi))
    assert _spans_dict(out) == direct and len(direct) == N_DOCS
    lowres = _spans_dict(pipeline.extract(docs, blobs, with_tables=True))
    assert direct != lowres


def test_failed_group_write_records_error_and_resumes(spark, tmp_path):
    """A group whose write raises appends one lineage row per bucket with
    rows=0 and the error, re-raises, and stays uncommitted: metrics()
    counts errors on exactly its buckets and a healthy re-run writes it."""
    base = str(tmp_path / "ckpt_err")
    docs = datagen.gen_documents(spark, N_DOCS, partitions=2)
    blobs = datagen.gen_page_blobs(spark, N_DOCS, partitions=2)
    runner = CheckpointRunner(spark, base, n_buckets=8, n_groups=4)
    bucket = F.pmod(F.xxhash64(F.col("media_ref")), F.lit(8))
    bad = [2, 3]  # group 1

    def healthy():
        return pipeline.pages_for(docs, blobs)

    def failing():
        return healthy().withColumn(
            "img_bytes",
            F.when(bucket.isin(bad), F.raise_error(F.lit("bad page")))
            .otherwise(F.col("img_bytes")))

    # group 0 commits, then group 1's write raises
    runner.stage("pages", healthy, bucket_key="media_ref", max_groups=1)
    with pytest.raises(Exception, match="bad page"):
        runner.stage("pages", failing, bucket_key="media_ref")
    errors = {r["bucket"]: r["errors"]
              for r in runner.metrics().filter(F.col("stage") == "pages")
              .collect()}
    assert {b for b, n in errors.items() if n > 0} == set(bad)
    err_rows = runner.lineage().filter(F.col("error").isNotNull()).collect()
    assert all(r["rows"] == 0 and "bad page" in r["error"]
               for r in err_rows)

    out = runner.stage("pages", healthy, bucket_key="media_ref")
    assert out.count() == healthy().count()
    ok = runner.lineage().filter(F.col("error").isNull())
    assert {r["bucket"] for r in ok.collect()} == set(range(8))


def _keys(spark):
    return spark.range(64).select(F.col("id").cast("string").alias("k"))


def test_corrupt_lineage_raises(spark, tmp_path):
    """An unreadable lineage file must stop the run: read as "nothing
    committed", it would make every later run forget and recompute all
    committed buckets."""
    import glob

    base = str(tmp_path / "ckpt_corrupt")
    runner = CheckpointRunner(spark, base, n_buckets=2, n_groups=1)
    runner.stage("keys", lambda: _keys(spark), bucket_key="k")
    [lineage_file] = glob.glob(f"{base}/_lineage/*.parquet")
    with open(lineage_file, "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(Exception):
        runner.stage("keys", lambda: _keys(spark), bucket_key="k")


def test_lineage_with_only_temporary_is_fresh(spark, tmp_path):
    """A run killed during its first lineage append leaves only
    _lineage/_temporary/: that is a fresh run, not an error."""
    base = tmp_path / "ckpt_tmp"
    (base / "_lineage" / "_temporary" / "0").mkdir(parents=True)
    runner = CheckpointRunner(spark, str(base), n_buckets=2, n_groups=1)
    assert runner.lineage() is None
    out = runner.stage("keys", lambda: _keys(spark), bucket_key="k")
    assert out.count() == 64
    assert runner.lineage().count() == 2


def test_lineage_rows_are_the_committed_bucket_counts(spark, tmp_path):
    """Each lineage row's `rows` is its bucket's row count in the
    committed output — 0 for a bucket the group wrote no row into."""
    base = str(tmp_path / "ckpt_counts")
    runner = CheckpointRunner(spark, base, n_buckets=8, n_groups=2)
    runner.stage("keys", lambda: _keys(spark).limit(5), bucket_key="k")
    committed = {r["_bucket"]: r["count"] for r in spark.read.parquet(
        f"{base}/keys").groupBy("_bucket").count().collect()}
    lineage = {r["bucket"]: r["rows"]
               for r in runner.lineage().collect()}
    assert lineage == {b: committed.get(b, 0) for b in range(8)}
    assert 0 in lineage.values() and sum(lineage.values()) == 5


def test_read_if_present_raises_on_a_present_unreadable_table(spark,
                                                             tmp_path):
    """Only an absent or data-less table reads as None; any other
    analysis error propagates. Here: columns `a` and `A`, written
    case-sensitively, read case-insensitively (COLUMN_ALREADY_EXISTS)."""
    from pyspark.errors import AnalysisException

    (tmp_path / "empty").mkdir()
    assert read_if_present(spark, str(tmp_path / "absent")) is None
    assert read_if_present(spark, str(tmp_path / "empty")) is None
    path = str(tmp_path / "case_dup")
    case_sensitive = spark.conf.get("spark.sql.caseSensitive")
    spark.conf.set("spark.sql.caseSensitive", "true")
    try:
        spark.createDataFrame([(1, 2)], "a long, A long").write.parquet(path)
        spark.conf.set("spark.sql.caseSensitive", "false")
        with pytest.raises(AnalysisException,
                           match="COLUMN_ALREADY_EXISTS"):
            read_if_present(spark, path)
    finally:
        spark.conf.set("spark.sql.caseSensitive", case_sensitive)
