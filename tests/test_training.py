"""Training-data operators: dedup family, similarity search, text stats,
multimodal plumbing."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from surya_spark import datagen
from surya_spark.training import dedup, multimodal, similarity, textstats

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog", "a"),
    (2, "The quick  brown fox jumps over the lazy dog", "a"),  # ws/case dup
    (3, "the quick brown fox jumps over the lazy cat", "a"),   # near dup
    (4, "completely different text about spark engines and shuffles", "a"),
    (5, "der hund ist nicht auf der couch mit der katze", "b"),
    (6, "le chat est dans la maison et le jardin", "b"),
]


def _docs(spark):
    return spark.createDataFrame(
        pd.DataFrame(DOCS, columns=["doc_id", "text", "source"])
    )


def test_exact_dedup(spark):
    out = {r["doc_id"]: (r["dup_rank"], r["keep"])
           for r in dedup.exact_dedup(_docs(spark)).collect()}
    assert out[1] == (1, True)
    assert out[2] == (2, False)  # same fingerprint after normalization
    assert out[3] == (1, True)


def test_ngram_jaccard_pairs(spark):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in dedup.ngram_jaccard_pairs(
                 _docs(spark), threshold=0.3).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs


def test_minhash_lsh_pairs(spark):
    pairs = {(r["doc_a"], r["doc_b"])
             for r in dedup.minhash_lsh_pairs(
                 _docs(spark), threshold=0.3).collect()}
    assert (1, 2) in pairs
    assert (1, 3) in pairs
    assert (1, 4) not in pairs


def test_simhash_signature_parity(spark):
    """simhash pinned against an independent driver-side expectation:
    each Spark-normalized token hashes to the low 8 bytes (little-endian)
    of its md5 (the rule the DuckDB oracle replicates), then the ±1 vote
    + strict-sign pack is recomputed in numpy — any drift in the kernel's
    token hash, memo or pack is a hard mismatch. Also pins the
    token-less-document rule (signature 0)."""
    import hashlib

    import numpy as np

    from surya_spark.functions import text as TX

    docs = _docs(spark).unionByName(
        spark.createDataFrame(
            pd.DataFrame([(7, "", "c"), (8, "   ", "c")],
                         columns=["doc_id", "text", "source"])))
    got = {r["doc_id"]: r["simhash"]
           for r in dedup.simhash(docs).collect()}

    toks = docs.select(
        "doc_id",
        F.explode(F.split(TX.normalize_text(F.col("text")), " "))
        .alias("tok"),
    ).filter(F.col("tok") != "").collect()
    votes: dict[int, np.ndarray] = {}
    for r in toks:
        h = np.uint64(int.from_bytes(
            hashlib.md5(r["tok"].encode()).digest()[:8], "little"))
        bits = ((h >> np.arange(64, dtype=np.uint64)) & np.uint64(1))
        votes.setdefault(r["doc_id"], np.zeros(64, np.int64))
        votes[r["doc_id"]] += 2 * bits.astype(np.int64) - 1
    for did, _, _ in [(7, "", "c"), (8, "   ", "c")]:
        votes.setdefault(did, np.zeros(64, np.int64))
    assert set(got) == set(votes)
    for did, acc in votes.items():
        val = int(((acc > 0).astype(np.uint64)
                   << np.arange(64, dtype=np.uint64)).sum())
        exp = val - (1 << 64) if val >= (1 << 63) else val
        assert got[did] == exp, f"doc {did}: {got[did]} != {exp}"
    assert got[7] == 0 and got[8] == 0
    # the dup pair must still collide bit-for-bit
    assert got[1] == got[2]


def test_simhash_near_pairs(spark):
    sim = dedup.simhash(_docs(spark))
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"]
             for r in dedup.simhash_pairs(sim, max_dist=12).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 0
    assert (1, 4) not in pairs


def test_simhash_blocking_recall_exact(spark):
    """Pigeonhole guarantee: segment blocking must find EVERY pair within
    max_dist — compare against the brute-force cross join at several
    max_dist values (the round-1 bug was max_dist=16 with only 4 segments)."""
    sim = dedup.simhash(_docs(spark))
    rows = {r["doc_id"]: r["simhash"] for r in sim.collect()}
    ids = sorted(rows)
    for max_dist in (1, 3, 8, 16):
        blocked = {(r["doc_a"], r["doc_b"])
                   for r in dedup.simhash_pairs(sim, max_dist).collect()}
        brute = {(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]
                 if bin((rows[a] ^ rows[b]) & ((1 << 64) - 1)).count("1")
                 <= max_dist}
        assert blocked == brute, f"recall broken at max_dist={max_dist}"


def test_ngram_df_cap_drops_hot_shingles(spark):
    """A stop-shingle present in every doc must not contribute to jaccard
    when df_cap binds; pairs related ONLY through the hot shingle vanish."""
    docs = spark.createDataFrame(
        pd.DataFrame(
            [(i, f"common stop shingle unique{i} tail{i} word{i}", "a")
             for i in range(1, 7)],
            columns=["doc_id", "text", "source"],
        )
    )
    uncapped = dedup.ngram_jaccard_pairs(docs, threshold=0.01).count()
    capped = dedup.ngram_jaccard_pairs(docs, threshold=0.01, df_cap=3).count()
    assert uncapped > 0      # every pair shares 'common stop shingle'
    assert capped == 0       # hot shingle removed → no shared shingles left


def test_minhash_signatures_wrap_minhash_index(spark):
    """minhash_signatures' `sig` is minhash_index's h0..h63 row, row for
    row: one signature family behind both."""
    docs = _docs(spark)
    sig = {r["doc_id"]: list(r["sig"])
           for r in dedup.minhash_signatures(docs).collect()}
    idx = {r["doc_id"]: [r[f"h{i}"] for i in range(dedup.N_HASHES)]
           for r in dedup.minhash_index(docs).collect()}
    assert len(sig) == len(DOCS)
    assert sig == idx


def test_knn_and_near_dup(spark):
    vecs = spark.createDataFrame(
        pd.DataFrame({
            "vec_id": [0, 1, 2, 3],
            "embedding": [[1.0, 0.0], [0.99, 0.01], [0.0, 1.0], [-1.0, 0.0]],
            "label": [0, 0, 1, 1],
        })
    )
    q = vecs.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = similarity.knn_bruteforce(vecs, q, k=2).collect()
    ranked = sorted([(r["rank"], r["neighbor_id"]) for r in out])
    assert ranked[0] == (1, 0)   # self first (cosine 1)
    assert ranked[1][1] == 1     # near vector second

    nd = similarity.cosine_near_dup(vecs, threshold=0.9, block_col="label")
    assert {(r["id_a"], r["id_b"]) for r in nd.collect()} == {(0, 1)}

    # blockless = O(n^2) cross join: must raise unless explicitly allowed
    # (round-6 guard; embedding_lsh_pairs is the label-free scale path)
    import pytest

    with pytest.raises(ValueError, match="cross join"):
        similarity.cosine_near_dup(vecs, threshold=0.9)
    nd_all = similarity.cosine_near_dup(
        vecs, threshold=0.9, allow_cross_join=True)
    assert {(r["id_a"], r["id_b"]) for r in nd_all.collect()} == {(0, 1)}


def test_knn_ivf_buckets(spark):
    vecs = spark.createDataFrame(
        pd.DataFrame({
            "vec_id": list(range(6)),
            "embedding": [[1.0, 0.0], [0.9, 0.1], [0.8, 0.05],
                          [0.0, 1.0], [0.1, 0.9], [0.05, 0.95]],
        })
    )
    cents = spark.createDataFrame(
        pd.DataFrame({
            "centroid_id": [0, 1],
            "embedding": [[1.0, 0.0], [0.0, 1.0]],
        })
    )
    out = similarity.knn_ivf(vecs, cents, k=2).collect()
    for r in out:
        same_side = (r["query_id"] < 3) == (r["neighbor_id"] < 3)
        assert same_side  # neighbors only come from the same IVF bucket


def test_text_profile_and_rollup(spark):
    prof = {r["doc_id"]: r for r in textstats.text_profile(_docs(spark)).collect()}
    assert prof[1]["lang_pred"] == "en"
    assert prof[5]["lang_pred"] == "de"
    assert prof[6]["lang_pred"] == "fr"
    assert prof[1]["n_tokens"] == 9
    assert 0.0 <= prof[1]["quality"] <= 1.0
    assert prof[1]["fp"] == prof[2]["fp"]

    roll = textstats.corpus_language_rollup(_docs(spark)).collect()
    assert sum(r["n_docs"] for r in roll) == len(DOCS)


def test_media_metadata_and_features(spark):
    blobs = datagen.gen_page_blobs(spark, 10, partitions=2)
    meta = multimodal.media_metadata(blobs)
    rows = meta.collect()
    assert rows and all(r["format"] == "spg1" for r in rows)
    # width/height recovered from blob must match the blob table
    chk = blobs.select("media_ref", F.col("width").alias("w0")).join(
        meta.select("media_ref", "width"), "media_ref")
    assert chk.filter(F.col("w0") != F.col("width")).count() == 0

    feats = multimodal.media_features(blobs, dim=8).collect()
    assert all(len(r["feature"]) == 8 for r in feats)
    assert all(abs(sum(r["feature"]) - 1.0) < 1e-5 for r in feats)


def test_train_centroids_and_ivf(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = similarity.train_centroids(emb, k=4, max_iter=5)
    rows = cents.collect()
    assert len(rows) == 4 and all(len(r["embedding"]) == 64 for r in rows)
    out = similarity.knn_ivf(emb, cents, k=2, dim=64)
    assert out.count() > 0
    # every vector's neighbors come from one cluster; ranks are 1..k
    ranks = {r["rank"] for r in out.limit(50).collect()}
    assert ranks <= {1, 2}


def test_knn_ivf_nprobe_and_cap(spark):
    """nprobe=2 must not lose recall vs nprobe=1 (recall@k vs brute force),
    and cluster_cap bounds each cluster's index side."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = similarity.train_centroids(emb, k=6, max_iter=5)

    q = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    exact = {(r["query_id"], r["neighbor_id"])
             for r in similarity.knn_bruteforce(emb, q, k=4, dim=64).collect()
             if r["query_id"] != r["neighbor_id"]}

    def recall(nprobe):
        got = {(r["query_id"], r["neighbor_id"])
               for r in similarity.knn_ivf(
                   emb, cents, k=3, dim=64, nprobe=nprobe).collect()}
        return len(got & exact) / max(1, len(exact))

    r1, r2 = recall(1), recall(2)
    assert r2 >= r1            # probing more clusters never hurts recall
    assert r2 >= 0.5           # floor gate on the fixture embeddings

    capped = similarity.knn_ivf(emb, cents, k=3, dim=64, nprobe=1,
                                cluster_cap=10)
    # every query's neighbors come from a <=10-vector index per cluster
    n_per = (capped.groupBy("query_id").count().agg(
        F.max("count")).collect()[0][0])
    assert n_per <= 3  # still top-k
    assert capped.count() > 0


def test_embedding_lsh_pairs(spark):
    """Random-hyperplane LSH: identical/near-identical vectors share all
    sign bits -> always candidates; orthogonal vectors drop out at the
    cosine verify."""
    vecs = spark.createDataFrame(
        pd.DataFrame({
            "vec_id": [0, 1, 2, 3],
            "embedding": [
                [1.0, 0.2] * 32,
                [0.99, 0.21] * 32,           # near-dup of 0
                [-1.0, 0.5] * 32,            # far
                [0.0, 1.0] * 32,             # different direction
            ],
        })
    )
    out = {(r["id_a"], r["id_b"]): r["cosine"]
           for r in similarity.embedding_lsh_pairs(
               vecs, threshold=0.9, dim=64).collect()}
    assert (0, 1) in out and out[(0, 1)] > 0.99
    assert all(a != 2 and b != 2 for a, b in out)


def test_curate_corpus_keep_and_shards(spark):
    """Quality gate + dedup keep + per-language token-budget sharding."""
    from surya_spark.training import curation

    out = {r["doc_id"]: r for r in
           curation.curate_corpus(_docs(spark), min_quality=0.0,
                                  shard_tokens=15).collect()}
    assert out[1]["keep"] is True
    assert out[2]["keep"] is False        # dup of doc 1 → dropped
    assert out[2]["shard_id"] is None
    # kept docs pack shards by cumulative token prefix within language
    en = sorted((d, r) for d, r in out.items()
                if r["keep"] and r["lang_pred"] == "en")
    cum = 0
    for d, r in en:
        assert r["shard_id"] == cum // 15
        cum += r["n_tokens"]


def test_minhash_novelty_flags_known_dup(spark):
    """New batch vs corpus: a near-copy of a corpus doc must be flagged
    non-novel; an unrelated doc must stay novel; max_est is an exact
    multiple of 1/64."""
    from surya_spark.training import dedup

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep green forest tonight")
    corpus = spark.createDataFrame(
        [(0, base), (2, "completely different corpus material here "
                        "about spark shuffles and partitions")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, base + " extra"),   # near-copy of doc 0
         (3, "unrelated new content nothing shared with any corpus "
             "document at all in any shingle")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in dedup.minhash_novelty(
        new, corpus, threshold=0.5).collect()}
    assert rows[1]["is_novel"] is False and rows[1]["max_est"] >= 0.5
    assert rows[3]["is_novel"] is True and rows[3]["max_est"] < 0.5
    for r in rows.values():
        assert abs(r["max_est"] * 64 - round(r["max_est"] * 64)) < 1e-9


@pytest.mark.parametrize("dim", [64, None])
def test_knn_ivf_kernel_matches_sql_path(spark, dim):
    """The r7 cogroup numpy top-k kernel must reproduce the SQL
    cluster-join scoring BIT-for-bit (left-associated accumulation =
    identical IEEE op sequence), including rank assignment — both for
    the expanded dot (dim given) and the any-length fold (dim=None)."""
    from pyspark.sql import Window

    from surya_spark.plans import caching

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("centroid_id"), "embedding")

    new = similarity.knn_ivf(emb, cents, k=3, dim=dim, nprobe=2) \
        .orderBy("query_id", "rank").collect()
    spark.catalog.clearCache()

    probes = caching.managed(similarity.assign_clusters(
        emb, cents, dim=dim, nprobe=2))
    index = probes.filter(F.col("probe_rank") == 1)
    scored = similarity._cluster_score_sql(probes, index, dim)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id"))
    old = (scored.withColumn("rank", F.row_number().over(w).cast("long"))
           .filter(F.col("rank") <= 3)).orderBy("query_id", "rank").collect()
    spark.catalog.clearCache()

    assert len(new) == len(old) > 0
    assert new == old


def test_simhash_nonnumeric_id_raises(spark):
    """simhash must fail loudly on non-numeric doc ids (a silently-NULL
    cast would collapse such docs into one NULL signature group): the
    kernel's int(did) raises ValueError naming the id."""
    import pandas as pd
    import pytest

    bad = spark.createDataFrame(pd.DataFrame(
        {"doc_id": ["a1", "b2"], "text": ["x y", "z w"]}))
    with pytest.raises(Exception, match="non-numeric doc id|CAST_INVALID"):
        dedup.simhash(bad).collect()
