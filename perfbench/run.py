"""Benchmark of the extraction engine on a local Spark session.

    python3 perfbench/run.py --workload mixed_corpus --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Each run is one fresh process: it writes
its seeded inputs (cached under .perfbench_work/cache), starts Spark with
every scratch dir under .perfbench_work/tmp, warms up with two full-size
untimed jobs, runs jobs back to back (a closed loop, one at a time) for
--seconds, checks the first warm-up job's output and reports medians.

The last stdout line is the result, {"correct", "attempted", "failed",
"metrics"}: the end-to-end metrics with --trace 0, the per-layer metrics
of BENCHMARK.json with --trace 1. The line before it is a detail record
(samples, checks, host load and CPU, layers that did not run).
Workloads, metrics and which layer metric should move which end-to-end
metric are described in perfbench/README.md and perfbench/layers.json.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # setup_s counts from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

MIXED_DOCS = 1000
CKPT_DOCS = 250  # corpus of the checkpoint kill/resume in the traced run
CKPT_BUCKETS, CKPT_GROUPS = 16, 4  # checkpointed_extract's defaults
KERNEL_DOCS = 100  # fixed page sample for the kernel-level trace
FILES = 4  # parquet files per input table
SUITE = ["clean_boxes", "overlap_pairs", "reading_order", "penalized_iou",
         "simhash_pairs", "knn_ivf"]
# sf0.1 round() half-boundary edges (OPTIMIZATION_r07.md): reported by
# name if they differ, never counted as failures
KNOWN_EDGES = {"overlap_pairs", "windowed_events"}


class MixedCorpus:
    """mixed_corpus: pipeline.extract(with_tables=True) over datagen's
    default interleaved mix, to the noop sink. Its traced run also times
    the flagship's stages, the page kernels and a checkpointed run that
    is stopped after half its bucket groups and resumed."""

    def __init__(self, seed: int, trace: bool, tmp: str):
        self.seed, self.traced, self.tmp = seed, trace, tmp
        self.lineage_check: dict = {}

    def prepare(self) -> None:
        from inputs import corpus
        cache = os.path.join(WORK, "cache")
        self.dir = corpus(cache, self.seed, MIXED_DOCS, FILES)
        if self.traced:
            self.ckpt_dir = corpus(cache, self.seed, CKPT_DOCS, FILES)

    @staticmethod
    def _read(spark, corpus_dir: str):
        return (spark.read.parquet(f"{corpus_dir}/documents_spans.parquet"),
                spark.read.parquet(f"{corpus_dir}/page_blobs.parquet"))

    def warm_up(self, spark) -> None:
        from surya_spark import pipeline
        docs, blobs = self._read(spark, self.dir)
        self.out_rows = pipeline.extract(docs, blobs,
                                         with_tables=True).collect()
        spark.catalog.clearCache()

    def job(self, spark) -> float:
        from surya_spark import pipeline
        from tracing import materialize
        docs, blobs = self._read(spark, self.dir)
        t0 = time.perf_counter()
        materialize(pipeline.extract(docs, blobs, with_tables=True))
        dt = time.perf_counter() - t0
        spark.catalog.clearCache()
        return dt

    def check(self, spark) -> dict:
        from inputs import check_extraction
        out = check_extraction(self.out_rows, self.dir)
        if self.traced:
            ck = check_extraction(self.ckpt_rows, self.ckpt_dir)
            out = {"attempted": out["attempted"] + ck["attempted"],
                   "failed": out["failed"] + ck["failed"],
                   "examples": out["examples"] + ck["examples"]}
        return out

    def detail(self, job_s: float) -> dict:
        return {"docs": MIXED_DOCS, "docs_per_s": MIXED_DOCS / job_s,
                **self.lineage_check}

    def trace(self, spark, plain_s: float, cores: int) -> dict:
        import tracing as T
        from inputs import kernel_pages
        from surya_spark import pipeline
        docs, blobs = self._read(spark, self.dir)
        t0 = time.perf_counter()
        out = pipeline.extract(docs, blobs, with_tables=True)
        m = {"driver.plan_build_s": time.perf_counter() - t0}
        with T.spark_span(spark, "extract"):
            T.materialize(out)
        spark.catalog.clearCache()
        m.update(T.extract_stages(spark, docs, blobs, cores))
        m["trace.steps_s"] = sum(m[f"{s}.wall_s"] for s in (
            "pages_for", "fused", "recognize", "table_stage", "assemble"))
        m["trace.overhead_frac"] = m["trace.steps_s"] / plain_s - 1
        m.update(T.kernels(kernel_pages(KERNEL_DOCS)))
        m.update(self._checkpoint(spark))
        return m

    def _checkpoint(self, spark) -> dict:
        """Stop a checkpointed run after half its groups, then time the
        resume with CheckpointRunner.stage and .lineage wrapped."""
        import tracing as T
        from surya_spark import pipeline
        from surya_spark.plans.checkpoint import CheckpointRunner
        docs, blobs = self._read(spark, self.ckpt_dir)
        base = os.path.join(self.tmp, "checkpoint")

        def run(max_groups=None):
            return pipeline.checkpointed_extract(
                spark, docs, blobs, base, n_buckets=CKPT_BUCKETS,
                n_groups=CKPT_GROUPS, max_groups=max_groups)

        def groups() -> int:
            lin = CheckpointRunner(spark, base).lineage()
            return lin.select("stage", "grp").distinct().count()

        def size_mb() -> float:
            return sum(os.path.getsize(os.path.join(d, f))
                       for d, _, fs in os.walk(base) for f in fs) / 1e6

        T.materialize(run(max_groups=CKPT_GROUPS // 2))
        spark.catalog.clearCache()
        before, mb0 = groups(), size_mb()
        tracer = T.Tracer()
        with T.checkpoint_spans(spark, tracer), \
                T.spark_span(spark, "checkpoint.resume") as s:
            T.materialize(run())
        spark.catalog.clearCache()
        stages = ("pages", "all_crops", "ocr_lines", "cells")
        total = len(stages) * CKPT_GROUPS
        self.ckpt_written = groups() - before
        m = {f"checkpoint.{st}.wall_s": tracer.total[f"checkpoint.{st}"]
             for st in stages}
        m.update({
            "checkpoint.resume_s": s["wall_s"],
            "checkpoint.groups_written": float(self.ckpt_written),
            "checkpoint.groups_skipped": float(total - self.ckpt_written),
            "checkpoint.rework_ratio": self.ckpt_written / (total - before),
            "checkpoint.written_mb": size_mb() - mb0,
            "checkpoint.lineage_read_s": tracer.total["checkpoint.lineage"],
        })
        committed = CheckpointRunner(spark, base).metrics().collect()
        self.lineage_check = {
            "checkpoint_buckets_committed": len(committed),
            "checkpoint_lineage_errors": sum(r["errors"] for r in committed)}
        # every group is committed now: this reads the stages back
        self.ckpt_rows = run().collect()
        spark.catalog.clearCache()
        return m

    def from_events(self, ev: dict) -> dict:
        def g(span, key):
            return ev.get(span, {}).get(key, 0.0)
        ckpt_jobs = sum(v.get("jobs", 0) for k, v in ev.items()
                        if k.startswith("checkpoint.")
                        and k != "checkpoint.resume")
        return {
            "pages_for.shuffle_mb": g("pages_for", "shuffle_mb"),
            "recognize.shuffle_mb": g("recognize", "shuffle_mb"),
            "assemble.shuffle_mb": g("assemble", "shuffle_mb"),
            "assemble.spill_mb": g("assemble", "spill_mb"),
            "driver.jobs": g("extract", "jobs"),
            "driver.stages": g("extract", "stages"),
            "driver.tasks": g("extract", "tasks"),
            "checkpoint.jobs_per_group": ckpt_jobs / self.ckpt_written,
        }


class QuerySuite:
    """query_suite: __spark_entry__ queries over the sf0.01 tables in
    suite_data/, in a seeded order, clearCache between queries."""

    def __init__(self, seed: int, trace: bool, tmp: str):
        self.order = list(SUITE)
        random.Random(seed).shuffle(self.order)

    def prepare(self) -> None:
        import __spark_entry__ as entry_mod
        from inputs import SUITE_DATA
        self.data = SUITE_DATA
        self.queries = entry_mod.queries()

    def warm_up(self, spark) -> None:
        self.results = {}
        for name in self.order:
            self.results[name] = self.queries[name](spark,
                                                    self.data).toPandas()
            spark.catalog.clearCache()

    def check(self, spark) -> dict:
        from inputs import check_suite
        return check_suite(self.results, KNOWN_EDGES)

    def job(self, spark) -> float:
        from tracing import materialize
        t0 = time.perf_counter()
        for name in self.order:
            materialize(self.queries[name](spark, self.data))
            spark.catalog.clearCache()
        return time.perf_counter() - t0

    def detail(self, job_s: float) -> dict:
        return {"queries": self.order, "suite_s": job_s}

    def trace(self, spark, plain_s: float, cores: int) -> dict:
        import tracing as T
        m = {}
        for name in self.order:
            with T.spark_span(spark, f"query.{name}") as s:
                T.materialize(self.queries[name](spark, self.data))
                spark.catalog.clearCache()
            m[f"query.{name}.s"] = s["wall_s"]
        m["trace.steps_s"] = sum(m.values())
        m["trace.overhead_frac"] = m["trace.steps_s"] / plain_s - 1
        return m

    @staticmethod
    def from_events(ev: dict) -> dict:
        return {}


WORKLOADS = {"mixed_corpus": MixedCorpus, "query_suite": QuerySuite}


def _clean_stale(tmp_root: str) -> None:
    """Remove temp dirs of runs whose process is gone."""
    if not os.path.isdir(tmp_root):
        return
    for name in os.listdir(tmp_root):
        pid = name.rpartition("-")[2]
        if not (pid.isdigit() and os.path.exists(f"/proc/{pid}")):
            shutil.rmtree(os.path.join(tmp_root, name), ignore_errors=True)


def run(args) -> tuple[dict, dict]:
    import host

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cores = min(4, len(os.sched_getaffinity(0)))
    tmp_root = os.path.join(WORK, "tmp")
    _clean_stale(tmp_root)
    tmp = os.path.join(tmp_root, f"run-{os.getpid()}")
    os.makedirs(tmp)
    wl = WORKLOADS[args.workload](args.seed, bool(args.trace), tmp)
    try:
        t0 = time.perf_counter()
        wl.prepare()
        gen_s = time.perf_counter() - t0
        spark = host.start_spark(ROOT, tmp, cores, event_log=args.trace)
        try:
            wl.warm_up(spark)
            wl.job(spark)  # the first job after the warm-up is still ~20% slow
            setup_s = time.perf_counter() - T_START - gen_s
            load0, cpu0, w0 = host.loadavg(), host.tree_cpu_s(), time.time()
            samples = []
            with host.PeakRss() as rss:
                while not samples or time.time() - w0 < args.seconds:
                    samples.append(wl.job(spark))
            load1, cpu1, w1 = host.loadavg(), host.tree_cpu_s(), time.time()
            job_s = statistics.median(samples)
            layer = wl.trace(spark, job_s, cores) if args.trace else {}
            check = wl.check(spark)
        finally:
            host.stop_spark(spark)
        if args.trace:
            from tracing import event_log_spans
            layer.update(wl.from_events(
                event_log_spans(os.path.join(tmp, "events"))))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    run_s = time.perf_counter() - T_START

    detail = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "input_gen_s": gen_s, "run_s": run_s, "job_samples_s": samples,
        **wl.detail(job_s), **check,
        "failed_frac": check["failed"] / check["attempted"],
        "host": {"loadavg_before": load0, "loadavg_after": load1,
                 "tree_cpu_s": cpu1 - cpu0, "wall_s": w1 - w0,
                 "cpu_util": (cpu1 - cpu0) / ((w1 - w0) * cores)},
    }
    if args.trace:
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        unknown = set(layer) - set(units)
        if unknown:
            raise KeyError(f"undeclared per-layer metrics: {sorted(unknown)}")
        detail["layers_not_run"] = sorted(set(units) - set(layer))
        values = {n: layer.get(n, 0.0) for n in units}
    else:
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        values = {"job_s": job_s, "setup_s": setup_s,
                  "peak_rss_mb": rss.peak_mb}
    result = {
        "correct": check["failed"] == 0,
        "attempted": check["attempted"], "failed": check["failed"],
        "metrics": {n: {"value": float(values[n]), "unit": units[n]}
                    for n in units},
    }
    return detail, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be >= 0")
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]
    import surya_spark  # noqa: F401  (fails fast outside a checkout)
    detail, result = run(args)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
