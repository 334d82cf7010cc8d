"""Persist-lifecycle regression tests (round-2 verdict finding #2):
library operators persist fan-out intermediates but must not leak
InMemoryRelations across queries — after a driver query's terminal
action, getPersistentRDDs() must be empty."""

from __future__ import annotations

import sys

import pytest

sys.path.insert(0, ".")

import __spark_entry__ as entry_mod  # noqa: E402

SF = "/root/testdata/sf0.001"


def _n_persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


# every driver query whose implementation persists intermediates
_CACHED_QUERIES = ["minhash_lsh", "knn_ivf", "embedding_lsh",
                   "extract_pipeline", "extract_parity"]


@pytest.mark.parametrize("name", _CACHED_QUERIES)
def test_driver_query_releases_caches(spark, name):
    spark.catalog.clearCache()
    fn = entry_mod.queries()[name]
    df = fn(spark, SF)
    df.collect()
    assert _n_persisted(spark) == 0, (
        f"{name} leaked persisted RDDs after its terminal action")


def test_library_call_releases_on_first_action(spark):
    from surya_spark.training import dedup

    spark.catalog.clearCache()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.3)
    pairs.count()
    assert _n_persisted(spark) == 0


def test_transformed_result_reaped_by_own_session(spark):
    """A caller transforming the operator result loses the owning wrapper;
    own_session (used by every driver query) must reap the leftovers."""
    from surya_spark.plans import caching
    from surya_spark.training import dedup

    spark.catalog.clearCache()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.3)
    transformed = pairs.select("doc_a")  # plain DataFrame, wrapper lost
    wrapped = caching.own_session(transformed)
    wrapped.collect()
    assert _n_persisted(spark) == 0


def _owned_range(spark, caching, n=100, materialize=False):
    d = caching.managed(spark.range(n))
    w = caching.own_session(d)
    if materialize:
        d.count()  # materialize the cache via the UNWRAPPED handle
    return w


def test_write_releases_caches(spark, tmp_path):
    """df.write...parquet() is a terminal action: the writer proxy must
    release after the sink call, including through builder chains."""
    from surya_spark.plans import caching

    spark.catalog.clearCache()
    w = _owned_range(spark, caching, materialize=True)
    assert _n_persisted(spark) >= 1
    w.write.mode("overwrite").parquet(str(tmp_path / "out.parquet"))
    assert _n_persisted(spark) == 0


def test_tolocaliterator_releases_on_exhaustion(spark):
    from surya_spark.plans import caching

    spark.catalog.clearCache()
    w = _owned_range(spark, caching, materialize=True)
    it = w.toLocalIterator()
    assert _n_persisted(spark) >= 1  # not released until exhaustion
    n = sum(1 for _ in it)
    assert n == 100
    assert _n_persisted(spark) == 0


def test_extract_caches_released_but_used(spark):
    """extract has no fan-out left to pin — its page pass
    emits span items straight to assembly — so it must leave no
    persisted RDD behind after its terminal action."""
    from surya_spark import datagen, pipeline

    spark.catalog.clearCache()
    docs = datagen.gen_documents(spark, 8, partitions=2)
    blobs = datagen.gen_page_blobs(spark, 8, partitions=2)
    out = pipeline.extract(docs, blobs, with_tables=True)
    rows = out.collect()
    assert len(rows) == 8
    assert _n_persisted(spark) == 0
