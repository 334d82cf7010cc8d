"""Corpus curation: the end-to-end training-set selection flow — language
ID + quality scoring + exact dedup + token counting composed into a keep
decision, then token-budget shard assignment for training-data packing.

All stages are existing operators (textstats profile expressions, dedup
fingerprint ranking); the only new machinery is the shard assigner: a
cumulative-token window per language, divided by the shard budget.

Scale note: the cumulative window is partitioned by language — each
language's running sum is independent, so the shuffle key is (lang) and
the window never sees a global ordering. At 100 TB a single giant
language would make one partition hot; production splits it with
repartitionByRange(doc_id) + per-range token offsets computed from a
two-phase aggregation (the same pattern as plans/partitioning.two_phase_agg)
— the shard ids stay deterministic because ranges are keyed, not
arrival-ordered. The single-window form here is the per-language
building block of that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import textstats


def curate_corpus(docs: DataFrame, min_quality: float = 0.5,
                  shard_tokens: int = 2000) -> DataFrame:
    """(doc_id, lang_pred, quality, n_tokens, keep, shard_id): keep =
    quality ≥ min_quality AND first occurrence of the content fingerprint;
    kept docs are packed into shards of ~shard_tokens tokens per language
    (cumulative token count ordered by doc_id — deterministic, not
    arrival-ordered)."""
    prof = textstats.text_profile(docs)
    w_fp = Window.partitionBy("fp").orderBy("doc_id")
    ranked = prof.withColumn("dup_rank", F.row_number().over(w_fp))
    keep = (F.col("quality") >= min_quality) & (F.col("dup_rank") == 1)
    flagged = ranked.withColumn("keep", keep)
    w_cum = (
        Window.partitionBy("lang_pred")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum(
        F.when(F.col("keep"), F.col("n_tokens")).otherwise(F.lit(0))
    ).over(w_cum)
    return flagged.select(
        "doc_id", "lang_pred", "quality", "n_tokens", "keep",
        F.when(
            F.col("keep"),
            F.floor((cum - F.col("n_tokens")) / F.lit(shard_tokens))
            .cast("long"),
        ).alias("shard_id"),
    )
