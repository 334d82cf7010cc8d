"""Per-layer tracing for the traced run (--trace 1).

Every span is recorded from outside the program: the benchmark wraps
calls into the modules' public functions, and tags the Spark jobs a span
launches with a local property so the event log's per-stage task metrics
(run time, CPU, shuffle bytes, spill) can be summed per span.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

SPAN_PROP = "perfbench.span"


class Tracer:
    """In-memory spans: total and self time (total minus child spans)
    and call count per name."""

    def __init__(self):
        self.total = defaultdict(float)
        self.self_ = defaultdict(float)
        self.calls = defaultdict(int)
        self._stack: list[list] = []

    @contextmanager
    def span(self, name: str):
        frame = [name, 0.0]  # name, time covered by child spans
        self._stack.append(frame)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            self._stack.pop()
            self.total[name] += dt
            self.self_[name] += dt - frame[1]
            self.calls[name] += 1
            if self._stack:
                self._stack[-1][1] += dt

    def wrap(self, fn, name: str):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced


@contextmanager
def spark_span(spark, name: str):
    """Tag every job started inside with SPAN_PROP=name; yields a dict
    that gets the span's wall seconds."""
    sc = spark.sparkContext
    outer = sc.getLocalProperty(SPAN_PROP)
    sc.setLocalProperty(SPAN_PROP, name)
    out = {}
    t0 = time.perf_counter()
    try:
        yield out
    finally:
        out["wall_s"] = time.perf_counter() - t0
        sc.setLocalProperty(SPAN_PROP, outer)


def _acc(stage_info: dict) -> dict[str, float]:
    """A completed stage's numeric accumulables by name."""
    out = {}
    for a in stage_info.get("Accumulables", []):
        try:
            out[a["Name"]] = float(a["Value"])
        except (KeyError, TypeError, ValueError):
            pass  # unnamed, or not a number (e.g. a SQL metric's text)
    return out


def event_log_spans(events_dir: str) -> dict[str, dict[str, float]]:
    """Sum the event log's task metrics per span: jobs, stages, tasks,
    shuffle write MB and spill MB. Read after the session stopped, when
    the log is complete. (Its executorCpuTime counts JVM threads only,
    not the Python workers that run the UDF kernels, so task CPU is read
    from /proc instead; see extract_stages.)"""
    stage_span, out = {}, defaultdict(lambda: defaultdict(float))
    for path in glob.glob(os.path.join(events_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    name = (ev.get("Properties") or {}).get(SPAN_PROP)
                    if name:
                        out[name]["jobs"] += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_span[sid] = name
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    name = stage_span.get(info["Stage ID"])
                    if not name:
                        continue
                    acc = _acc(info)
                    m = out[name]
                    m["stages"] += 1
                    m["tasks"] += info.get("Number of Tasks", 0)
                    m["shuffle_mb"] += acc.get(
                        "internal.metrics.shuffle.write.bytesWritten", 0) / 1e6
                    m["spill_mb"] += (
                        acc.get("internal.metrics.memoryBytesSpilled", 0)
                        + acc.get("internal.metrics.diskBytesSpilled", 0)
                    ) / 1e6
    return {k: dict(v) for k, v in out.items()}


def cached_mb(spark) -> float:
    """Memory plus disk size of every cached RDD in the session."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def materialize(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def extract_stages(spark, docs, blobs, cores: int) -> dict[str, float]:
    """Marginal wall time per flagship stage with upstream stages
    persisted: the decomposition bench.py's extract_stage_times uses.
    Each stage's jobs are tagged with its span name. task_cpu_s is the
    CPU time the JVM and its Python workers spent during the span."""
    from host import tree_cpu_s
    from surya_spark import pipeline
    from surya_spark.operators import assemble, fused, recognition, tables

    m: dict[str, float] = {}
    held = []

    def step(name, df):
        df = df.persist()
        held.append(df)
        before, cpu0 = cached_mb(spark), tree_cpu_s()
        with spark_span(spark, name) as s:
            materialize(df)
        m[f"{name}.task_cpu_s"] = tree_cpu_s() - cpu0
        m[f"{name}.wall_s"] = s["wall_s"]
        m[f"{name}.rows_out"] = float(df.count())
        m[f"{name}.cache_mb"] = cached_mb(spark) - before
        return df

    pages = step("pages_for", pipeline.pages_for(docs, blobs,
                                                 partitions=cores))
    allc = step("fused", fused.fused_all_crops(pages))
    ocr = step("recognize", recognition.recognize(fused.line_crops(allc),
                                                  emit_chars=False))
    step("table_stage", tables.table_stage_from_crops(
        fused.table_crops(allc), ocr))
    cpu0 = tree_cpu_s()
    with spark_span(spark, "assemble") as s:
        materialize(assemble.assemble_spans(docs, ocr, held[-1]))
    m["assemble.task_cpu_s"] = tree_cpu_s() - cpu0
    m["assemble.wall_s"] = s["wall_s"]
    for df in held:
        df.unpersist()
    spark.catalog.clearCache()
    return m


def kernels(pages: list, passes: int = 3) -> dict[str, float]:
    """Call the page, recognition and table-cell kernels over a fixed
    page sample in this process, with the slot and page-codec entry
    points wrapped. Each metric is the median over `passes`; the counts
    are the same in every pass."""
    import statistics

    from surya_spark import datagen
    from surya_spark.operators import recognition, slots, tables

    # every module that binds decode_page by name, and the crop encoders
    decode, encode_crop, encode_table_crop = (
        datagen.decode_page, slots.encode_crop, slots.encode_table_crop)
    codec_users = (datagen, slots, recognition, tables)
    per_pass: list[dict[str, float]] = []
    try:
        for _ in range(passes):
            tr = Tracer()
            crop_bytes = 0

            def sized_encode_crop(*args, **kwargs):
                nonlocal crop_bytes
                out = encode_crop(*args, **kwargs)
                crop_bytes += len(out)
                return out

            for mod in codec_users:
                mod.decode_page = tr.wrap(decode, "decode_page")
            slots.encode_crop = tr.wrap(sized_encode_crop, "encode_crop")
            slots.encode_table_crop = tr.wrap(encode_table_crop,
                                              "encode_table_crop")
            detect = tr.wrap(slots.surrogate_detect, "surrogate_detect")
            layout = tr.wrap(slots.surrogate_layout, "surrogate_layout")
            page_crops = tr.wrap(recognition.page_crop_rows,
                                 "page_crop_rows")
            table_crops = tr.wrap(tables.table_crop_rows, "table_crop_rows")
            lines, tabs = [], []
            for ref, w, h, blob in pages:
                # the call sequence fused.fused_all_crops runs per page
                rows, desc = page_crops(ref, w, h, blob, detect,
                                        float(datagen.BAND))
                t_rows, _ = table_crops(ref, w, h, blob, layout, desc=desc)
                lines.extend(rows)
                tabs.extend(t_rows)
            recognize = tr.wrap(slots.surrogate_recognize,
                                "surrogate_recognize")
            for r in lines:
                recognize(r["crop_bytes"])
            cells = tr.wrap(tables.cells_for_table, "cells_for_table")
            for t in tabs:
                cells([tables.normalize_table_item(it, t["x1"], t["y1"])
                       for it in slots.surrogate_table(t["crop_bytes"])])
            n_pages, n_lines = len(pages), max(len(lines), 1)
            us = 1e6
            per_pass.append({
                "kernel.decode_page.calls_per_page":
                    tr.calls["decode_page"] / n_pages,
                "kernel.decode_page.us":
                    us * tr.total["decode_page"]
                    / max(tr.calls["decode_page"], 1),
                "kernel.surrogate_detect.us_per_page":
                    us * tr.total["surrogate_detect"] / n_pages,
                "kernel.surrogate_layout.us_per_page":
                    us * tr.total["surrogate_layout"] / n_pages,
                "kernel.page_crop_rows.self_us_per_page":
                    us * tr.self_["page_crop_rows"] / n_pages,
                "kernel.table_crop_rows.self_us_per_page":
                    us * tr.self_["table_crop_rows"] / n_pages,
                "kernel.encode_crop.us_per_line":
                    us * tr.total["encode_crop"] / n_lines,
                "kernel.encode_crop.bytes_per_line": crop_bytes / n_lines,
                "kernel.lines_per_page": len(lines) / n_pages,
                "kernel.surrogate_recognize.us_per_line":
                    us * tr.total["surrogate_recognize"] / n_lines,
                "kernel.cells_for_table.us_per_table":
                    us * tr.total["cells_for_table"] / max(len(tabs), 1),
            })
    finally:
        for mod in codec_users:
            mod.decode_page = decode
        slots.encode_crop = encode_crop
        slots.encode_table_crop = encode_table_crop
    return {k: statistics.median(p[k] for p in per_pass)
            for k in per_pass[0]}


@contextmanager
def checkpoint_spans(spark, tracer: Tracer):
    """Wrap CheckpointRunner.stage and .lineage for the duration: each
    stage call becomes a span named checkpoint.<stage> whose Spark jobs
    carry that span tag; lineage reads become checkpoint.lineage."""
    from surya_spark.plans.checkpoint import CheckpointRunner

    stage, lineage = CheckpointRunner.stage, CheckpointRunner.lineage

    def traced_stage(self, name, *args, **kwargs):
        with tracer.span(f"checkpoint.{name}"), \
                spark_span(spark, f"checkpoint.{name}"):
            return stage(self, name, *args, **kwargs)

    def traced_lineage(self):
        with tracer.span("checkpoint.lineage"):
            return lineage(self)

    CheckpointRunner.stage = traced_stage
    CheckpointRunner.lineage = traced_lineage
    try:
        yield
    finally:
        CheckpointRunner.stage = stage
        CheckpointRunner.lineage = lineage
