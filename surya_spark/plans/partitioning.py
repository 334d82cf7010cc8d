"""Skew-aware partitioning utilities (north-rule: salt-key repartitioning
for image-heavy documents + explicit shuffle tuning per stage).

The reference packs GPU batches by *split count* rather than image count
(/root/reference/surya/detection/__init__.py:73-90) because one 4096-px
page costs 3× a 1024-px page. The Spark equivalents:

  * page_cost        — the split-count column (ceil(height/chunk))
  * pack_by_cost     — range-partition on cost so each task/Arrow batch
                       sees pages of similar weight (no straggler tasks
                       stuck behind a run of tall pages)
  * salted_key       — doc-grain salt: heavy documents get their rows
                       spread over ceil(cost/max_cost) sub-keys so no
                       single reducer owns a whale document; re-aggregate
                       in a second phase on the bare key
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DETECTOR_CHUNK_PX = 1400  # vertical split height, settings.py:58-60 analog


def page_cost(height: Column) -> Column:
    return F.greatest(F.lit(1), F.ceil(
        height.cast("double") / DETECTOR_CHUNK_PX)).cast("int")


def pack_by_cost(df: DataFrame, cost_col: str, n_partitions: int,
                 tiebreak: str) -> DataFrame:
    """Range-repartition on (cost, tiebreak): equal-cost rows land together
    so inference batches are uniform, and the tiebreak keeps the range keys
    unique enough for even ranges."""
    return df.repartitionByRange(n_partitions, F.col(cost_col), F.col(tiebreak))


def salted_key(key: Column, cost: Column, max_cost_per_salt: int,
               child: Column) -> Column:
    """(key, salt) composite for first-phase aggregation. salt spreads a
    heavy key over ceil(cost/max_cost) buckets, chosen deterministically
    from the child id (page/span), so retries are stable."""
    n_salts = F.greatest(
        F.lit(1),
        F.ceil(cost.cast("double") / F.lit(max_cost_per_salt)),
    ).cast("long")
    return F.concat_ws(
        "#", key, F.pmod(F.xxhash64(child), n_salts).cast("string")
    )


def two_phase_agg(df: DataFrame, key: str, cost_col: str, child: str,
                  aggs: list, max_cost_per_salt: int = 64) -> DataFrame:
    """Generic salted two-phase aggregation: groupBy(salted key) partial →
    groupBy(key) final. `aggs` are (partial_expr, final_expr_builder)
    pairs is overkill here — we take simple re-aggregable pairs:
    list of (colname, 'sum'|'count'|'min'|'max')."""
    salted = df.withColumn(
        "_sk", salted_key(F.col(key), F.col(cost_col), max_cost_per_salt,
                          F.col(child))
    )
    partial = salted.groupBy("_sk", key).agg(*[
        (F.count(F.lit(1)) if how == "count" else getattr(F, how)(c)).alias(
            f"_{c}_{how}")
        for c, how in aggs
    ])
    final_aggs = []
    for c, how in aggs:
        src = F.col(f"_{c}_{how}")
        agg = F.sum(src) if how in ("sum", "count") else getattr(F, how)(src)
        final_aggs.append(agg.alias(f"{c}_{how}"))
    return partial.groupBy(key).agg(*final_aggs)


# spread_small_input leaves an input with at least this share of
# defaultParallelism partitions as it is
SPREAD_MIN_RATIO = 0.5


def spread_small_input(df: DataFrame, *key_cols: str) -> DataFrame:
    """Repartition a SMALL input so heavy per-row expressions downstream
    (regex normalization, wide projections, Python kernels) use the whole
    cluster instead of the scan's split count.

    Why: parquet scans parallelize at row-group granularity — a
    single-row-group file is a ONE-task scan no matter how many cores
    exist, and Catalyst evaluates every downstream narrow projection
    inside that task (measured: the dedup family's normalize+tokenize ran
    on 2 of 32 cores at sf1.0, 5.2 s of pure serial regex). Scale-aware:
    a no-op whenever the input already has ≥ SPREAD_MIN_RATIO ×
    defaultParallelism partitions — a 100 TB table with thousands of
    splits is never reshuffled, so this costs nothing on the deployment
    path.

    With key_cols, hash-repartitions on them (spark.sql.shuffle.partitions
    many) so a downstream window/groupBy/cogroup on the same key reuses
    the exchange (no second shuffle); without, round-robin."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= max(1, int(target * SPREAD_MIN_RATIO)):
        return df
    if key_cols:
        return df.repartition(*[F.col(c) for c in key_cols])
    return df.repartition(target)
