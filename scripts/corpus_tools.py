"""spark-submit entry point: corpus/training-data operations over a
documents table — dedup, text profiling, similarity.

Usage:
  spark-submit scripts/corpus_tools.py dedup --input docs.parquet --out d/
  spark-submit scripts/corpus_tools.py profile --input docs.parquet --out d/
  spark-submit scripts/corpus_tools.py neardup --input docs.parquet --out d/ \
      [--method minhash|simhash|jaccard] [--threshold 0.5]
  spark-submit scripts/corpus_tools.py knn --vectors emb.parquet --out d/ -k 5

--method minhash signs with the md5lin family the DuckDB oracle
replicates. Its default signature values changed from an xxhash64
family to md5lin, so pairs can differ from older runs' output where
banding recall did.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from surya_spark.session import get_spark  # noqa: E402
from surya_spark.training import dedup, similarity, textstats  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("cmd", choices=["dedup", "profile", "neardup", "knn"])
    ap.add_argument("--input")
    ap.add_argument("--vectors")
    ap.add_argument("--out", required=True)
    ap.add_argument("--method", default="minhash")
    ap.add_argument("--threshold", type=float, default=0.5)
    ap.add_argument("-k", type=int, default=5)
    ap.add_argument("--dim", type=int, default=None)
    ap.add_argument("--cores", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()

    spark = get_spark(app=f"corpus_{args.cmd}", cores=args.cores)

    if args.cmd == "dedup":
        out = dedup.exact_dedup(spark.read.parquet(args.input))
    elif args.cmd == "profile":
        out = textstats.text_profile(spark.read.parquet(args.input))
    elif args.cmd == "neardup":
        docs = spark.read.parquet(args.input)
        if args.method == "minhash":
            out = dedup.minhash_lsh_pairs(docs, threshold=args.threshold)
        elif args.method == "simhash":
            out = dedup.simhash_pairs(dedup.simhash(docs))
        else:
            out = dedup.ngram_jaccard_pairs(docs, threshold=args.threshold)
    else:  # knn
        vecs = spark.read.parquet(args.vectors)
        q = vecs.select(F.col("vec_id").alias("query_id"), "embedding")
        out = similarity.knn_bruteforce(vecs, q, k=args.k, dim=args.dim)

    out.write.mode("overwrite").parquet(args.out)
    print(f"{args.cmd}: {spark.read.parquet(args.out).count()} rows -> {args.out}")
    spark.stop()


if __name__ == "__main__":
    main()
