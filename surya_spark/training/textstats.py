"""Text-analysis operators over a document corpus — thin DataFrame views
over the column-expression library in functions/text.py. Everything here
is JVM-side whole-stage-codegen; no UDFs."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as TX


def text_profile(docs: DataFrame) -> DataFrame:
    """Per-doc (doc_id): whitespace tokens, BPE-ish tokens, detected
    language, quality score, fingerprint of the `text` column."""
    from ..plans import partitioning

    t = F.col("text")
    # r7: the profile's regex chains are heavy per-row work, and corpus
    # files with one row group scan as ONE task — spread first (no-op on
    # well-partitioned inputs; see partitioning.spread_small_input)
    docs = partitioning.spread_small_input(docs, "doc_id")
    return docs.select(
        F.col("doc_id"),
        TX.token_count(t).alias("n_tokens"),
        TX.bpe_ish_token_count(t).alias("n_bpe_tokens"),
        TX.lang_id(t).alias("lang_pred"),
        TX.quality_score(t).alias("quality"),
        TX.fingerprint(t).alias("fp"),
    )


def corpus_language_rollup(docs: DataFrame) -> DataFrame:
    """Language × quality-band rollup — the kind of corpus report a
    training-data pipeline runs after extraction. Carries the
    human-readable language name (functions/languages.py, mirroring ref
    surya/recognition/languages.py) next to the predicted code — the
    reference's user-visible language-metadata surface."""
    from surya_spark.functions.languages import language_name_col

    from ..plans import partitioning

    prof = partitioning.spread_small_input(docs).select(
        TX.lang_id(F.col("text")).alias("lang_pred"),
        TX.quality_score(F.col("text")).alias("quality"),
        TX.token_count(F.col("text")).alias("n_tokens"),
    )
    band = F.floor(F.col("quality") * 5).cast("int")
    return (
        prof.withColumn("q_band", band)
        .groupBy("lang_pred", "q_band")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("quality"), 6).alias("avg_quality"),
        )
        .withColumn("lang_name", language_name_col("lang_pred"))
    )
