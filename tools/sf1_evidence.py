"""Empirical sub-quadratic evidence for the training-data operators
(round-3 verdict stretch item #9): run the dedup/ANN/curation headline
set at 1x and 10x the sf0.1 corpus and measure CANDIDATE fan-out — the
quantity whose growth decides whether an operator survives 100 TB — next
to wall time.

The 10x corpus derives deterministically from the driver's sf0.1 tables
(no new synthetic distribution):
  * documents x10 — replica r re-keys doc_id by +r*10^7 and suffixes
    EVERY word with a replica tag ("zz"+letter): a bijection of the
    word (hence shingle) space per replica, so the within-replica
    shingle/df/near-dup structure mirrors the original corpus EXACTLY
    while cross-replica shingle overlap is zero — candidate counts must
    grow by exactly the replica factor if the operator is linear.
    (Earlier designs that INSERTED salt tokens between words failed both
    ways: every-3rd-word left 1/4 of shingles unsalted (cross-replica
    overlap), every-2nd-word shortened the collision unit from 3-word to
    2-word phrases (within-replica df inflation).)
  * embeddings x10 — replica r rolls the 64 dims by r (norm/distribution
    preserved, correlation with the original destroyed).

Expected shapes (printed as growth factors; see BENCH.md for a recorded
run):
  * minhash/ngram/incremental candidates: ~linear (bucket membership
    needs signature agreement, which salting denies to replicas).
  * IVF probe fan-out PER QUERY: grows with cluster size at fixed
    centroid count — the standard IVF scale knob is centroids ~ corpus
    (k ~ sqrt(N) or N/const); the tool measures both fixed-8 and
    scaled-80 centroids to show the knob restoring flat per-query cost.
  * embedding-LSH bucket pairs: occupancy ~ N/2^bits per band, so pairs
    grow ~N^2/2^bits at fixed band width — the knob is band WIDTH
    (per-band bits ~ log2 N); measured at 8 bits and 12 bits.

Usage:
  python tools/sf1_evidence.py [src_sf_dir] [work_dir] [reps] [replicas]
Defaults: /root/testdata/sf0.1 /tmp/sf1_evidence 2 10
replicas=100 gives the second decade (x100 corpus); the ANN knobs scale
with it (IVF centroids ~ corpus, LSH band bits ~ log2 corpus).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from surya_spark.session import get_spark  # noqa: E402
from surya_spark.training import dedup, similarity  # noqa: E402

TIMED = ["exact_dedup", "ngram_jaccard", "minhash_lsh", "simhash_pairs",
         "incremental_dedup", "knn_bruteforce", "knn_ivf",
         "embedding_lsh", "curate_corpus"]

OFFSET = 10_000_000


def _rep_tag(r: int) -> str:
    """Replica word suffix: pure letters (tokenization-proof). r<=26
    keeps the original zza..zz? scheme the x10 records used."""
    if r <= 26:
        return "zz" + chr(96 + r)
    s = ""
    while r:
        s = chr(97 + r % 26) + s
        r //= 26
    return "zz" + s


def extra_lsh_bits(scale: int) -> int:
    import math

    return max(1, math.ceil(math.log2(max(2, scale))))


def build_scaled(spark, src_dir: str, out_dir: str,
                 replicas: int) -> None:
    """Materialize the xN documents/embeddings tables (idempotent)."""
    if os.path.exists(f"{out_dir}/embeddings.parquet"):
        return
    docs = spark.read.parquet(f"{src_dir}/documents.parquet")
    emb = spark.read.parquet(f"{src_dir}/embeddings.parquet")

    def salt_run(batches):
        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                r = int(row["rep"])
                if r == 0:
                    text = row["text"]
                else:
                    tag = _rep_tag(r)
                    text = " ".join(
                        w + tag for w in (row["text"] or "").split(" "))
                out.append({
                    "doc_id": int(row["doc_id"]) + r * OFFSET,
                    "text": text,
                    "lang": row["lang"],
                    "source": row["source"],
                    "n_chars": len(text),
                })
            yield pd.DataFrame(
                out, columns=["doc_id", "text", "lang", "source", "n_chars"])

    reps = spark.range(replicas).select(F.col("id").alias("rep"))
    (docs.crossJoin(F.broadcast(reps))
         .repartition(64)
         .mapInPandas(salt_run, schema="doc_id long, text string, "
                                       "lang string, source string, "
                                       "n_chars long")
         .write.mode("overwrite")
         .parquet(f"{out_dir}/documents.parquet"))

    def roll_run(batches):
        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                r = int(row["rep"])
                v = list(row["embedding"])
                k = r % len(v)
                rolled = v[-k:] + v[:-k] if k else list(v)
                # beyond a full rotation, negate: a roll of dim is the
                # identity, which would duplicate replica 0's vectors
                if (r // len(v)) % 2:
                    rolled = [-x for x in rolled]
                out.append({
                    "vec_id": int(row["vec_id"]) + r * OFFSET,
                    "embedding": rolled,
                    "label": int(row["label"]),
                })
            yield pd.DataFrame(out, columns=["vec_id", "embedding", "label"])

    (emb.crossJoin(F.broadcast(reps))
        .repartition(32)
        .mapInPandas(roll_run, schema="vec_id long, "
                                      "embedding array<float>, label int")
        .write.mode("overwrite")
        .parquet(f"{out_dir}/embeddings.parquet"))


def _c2(df, *keys) -> tuple[int, int]:
    """(sum of c*(c-1)/2 over groups, max group size) — the self-join
    fan-out a bucketed candidate generator pays."""
    agg = df.groupBy(*keys).count().agg(
        F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("pairs"),
        F.max("count").alias("mx"),
    ).collect()[0]
    return int(agg["pairs"] or 0), int(agg["mx"] or 0)


def telemetry(spark, sf_dir: str, cent_scaled: int = 80,
              planes_scaled: int = 48) -> dict:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out: dict = {"docs": docs.count(), "vectors": emb.count()}

    # --- minhash band buckets (the candidate generator of minhash_lsh)
    banded = dedup._banded(dedup.minhash_index(docs))
    out["minhash_cand_pairs"], out["minhash_max_bucket"] = _c2(
        banded, "band", "bucket")

    # --- ngram inverted index with df_cap (q_ngram_jaccard params)
    rows = dedup.shingle_id_rows(docs, extra_cols=("source",))
    dfc = rows.groupBy("source", "s").count()
    out["ngram_capped_keys"] = dfc.filter(F.col("count") > 50).count()
    kept = dfc.filter(F.col("count") <= 50)
    agg = kept.agg(
        F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("p"),
        F.max("count").alias("m")).collect()[0]
    out["ngram_cand_pairs"] = int(agg["p"] or 0)

    # --- incremental dedup: new (odd) -> corpus (even) bucket fan-out
    new_b = dedup._banded(
        dedup.minhash_index(docs.filter(F.col("doc_id") % 2 == 1)))
    corp_b = dedup._banded(
        dedup.minhash_index(docs.filter(F.col("doc_id") % 2 == 0)))
    n = new_b.groupBy("band", "bucket").count() \
        .withColumnRenamed("count", "n_new")
    c = corp_b.groupBy("band", "bucket").count() \
        .withColumnRenamed("count", "n_corp")
    fan = n.join(c, ["band", "bucket"]).agg(
        F.sum(F.col("n_new") * F.col("n_corp")).alias("f")).collect()[0]
    out["incremental_cand_pairs"] = int(fan["f"] or 0)
    n_new_docs = docs.filter(F.col("doc_id") % 2 == 1).count()
    out["incremental_cand_per_new_doc"] = round(
        out["incremental_cand_pairs"] / max(1, n_new_docs), 2)

    # --- IVF probe fan-out (q_knn_ivf: nprobe=2, queries = all vectors)
    for label, n_cent in (("ivf_fixed", 8), ("ivf_scaled", cent_scaled)):
        cents = emb.filter(F.col("vec_id") < n_cent).select(
            F.col("vec_id").alias("centroid_id"), "embedding")
        assigned = similarity.assign_clusters(emb, cents, dim=64, nprobe=2)
        sizes = assigned.filter(F.col("probe_rank") == 1) \
            .groupBy("cluster").count().withColumnRenamed("count", "c_size")
        fan = assigned.join(sizes, "cluster").agg(
            F.sum("c_size").alias("f")).collect()[0]
        out[f"{label}_probe_fanout"] = int(fan["f"] or 0)
        out[f"{label}_probe_per_query"] = round(
            out[f"{label}_probe_fanout"] / out["vectors"], 1)

    # --- embedding LSH bucket pairs at fixed (8-bit) and scaled bands
    for label, n_planes in (("lsh_fixed", 32), ("lsh_scaled",
                                                planes_scaled)):
        planes = similarity.random_hyperplanes(n_planes, 64)
        per_band = n_planes // 4
        bit_cols = []
        for p, w in enumerate(planes):
            terms = " + ".join(
                f"CAST(element_at(embedding, {i}) AS DOUBLE) * {float(wi)}"
                for i, wi in enumerate(w, start=1) if wi)
            bit_cols.append(F.expr(
                f"CASE WHEN ({terms}) > 0 THEN '1' ELSE '0' END")
                .alias(f"b{p}"))
        bitted = emb.select("vec_id", *bit_cols)
        band_cols = [
            F.concat_ws("", *[F.col(f"b{b * per_band + j}")
                              for j in range(per_band)])
            for b in range(4)
        ]
        bb = bitted.select(
            "vec_id", F.posexplode(F.array(*band_cols)).alias("band", "bk"))
        out[f"{label}_cand_pairs"], out[f"{label}_max_bucket"] = _c2(
            bb, "band", "bk")

    spark.catalog.clearCache()
    return out


def timings(spark, sf_dir: str, reps: int, scale: int) -> dict:
    """Wall time min-of-reps per op. The two ANN ops run in their
    DEPLOYMENT config for the scale — centroids ~ corpus (8*scale) and
    LSH band bits ~ log2(corpus) (32→48 planes at x10): the quadratic
    cost of leaving those knobs fixed is already proven by the fan-out
    telemetry; wall-clock follows the config a real pipeline would run."""
    from surya_spark.plans import caching

    qs = entry_mod.queries()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    def ivf():
        cents = emb.filter(F.col("vec_id") < 8 * scale).select(
            F.col("vec_id").alias("centroid_id"), "embedding")
        return similarity.knn_ivf(emb, cents, k=3, dim=64, nprobe=2)

    def lsh():
        planes = (32 if scale == 1
                  else 32 + 4 * extra_lsh_bits(scale))
        return similarity.embedding_lsh_pairs(
            emb, threshold=0.3, dim=64, n_planes=planes)

    times = {}
    for name in TIMED:
        if name == "knn_ivf":
            fn = lambda: ivf()  # noqa: E731
        elif name == "embedding_lsh":
            fn = lambda: lsh()  # noqa: E731
        else:
            fn = lambda: qs[name](spark, sf_dir)  # noqa: E731
        best = float("inf")
        for _ in range(reps):
            t0 = time.time()
            fn().write.mode("overwrite").format("noop").save()
            best = min(best, time.time() - t0)
            caching.release_all()
            spark.catalog.clearCache()
        times[name] = round(best, 3)
    return times


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    work = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf1_evidence"
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    replicas = int(sys.argv[4]) if len(sys.argv) > 4 else 10

    spark = get_spark(app="sf1_evidence", cores=32, shuffle_partitions=32)
    xn_dir = f"{work}/x{replicas}"
    build_scaled(spark, src, xn_dir, replicas)

    cent_scaled = 8 * replicas
    planes_scaled = 32 + 4 * extra_lsh_bits(replicas)
    result = {}
    for label, d, scale in (("x1", src, 1),
                            (f"x{replicas}", xn_dir, replicas)):
        result[label] = {
            "telemetry": telemetry(spark, d, cent_scaled, planes_scaled),
            "times": timings(spark, d, reps, scale),
        }
        print(json.dumps({label: result[label]}), flush=True)

    growth = {}
    t1 = result["x1"]["telemetry"]
    tn = result[f"x{replicas}"]["telemetry"]
    for k in t1:
        if isinstance(t1[k], (int, float)) and t1[k]:
            growth[k] = round(tn[k] / t1[k], 2)
    print(json.dumps({"growth": growth}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
