"""spark-submit entry point: extraction runs, full or per-stage.

Parity with the reference CLIs (/root/reference/pyproject.toml:42-48)
re-expressed for a cluster — input is the interleaved documents table +
page-blob table, not a local folder; output is a parquet table per
stage:

  --stage extract  surya_ocr + tables  → out_spans (default)
  --stage ocr      surya_ocr           → out_spans, no table cells
  --stage detect   surya_detect        → line polygons + confidence
  --stage layout   surya_layout        → regions (label, order, top_k)
  --stage table    surya_table         → table cells (row/col ids, text)
  --stage latex    surya_latex_ocr     → whole-page block decode,
                                         <math>-wrapped text

--checkpoint makes the full-extract run resumable; --json-export adds
the reference-shaped JSON view of out_spans.

Usage:
  spark-submit --py-files surya_spark.zip scripts/extract.py \
      --documents /data/docs.parquet --blobs /data/blobs.parquet \
      --out /data/out --stage detect [--synthetic N] [--cores N]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from surya_spark import datagen, pipeline  # noqa: E402
from surya_spark.session import get_spark  # noqa: E402
from surya_spark.sources import json_sink  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--documents")
    ap.add_argument("--blobs")
    ap.add_argument("--synthetic", type=int, default=0,
                    help="generate N synthetic docs instead of reading")
    ap.add_argument("--out", required=True)
    ap.add_argument("--checkpoint", default=None,
                    help="enable resumable checkpointed run at this base dir")
    ap.add_argument("--json-export", default=None)
    ap.add_argument("--no-tables", action="store_true")
    ap.add_argument("--stage", default="extract",
                    choices=["extract", "ocr", "detect", "layout",
                             "table", "latex"])
    ap.add_argument("--debug-images", default=None, metavar="DIR",
                    help="also write per-page PNG overlays of the "
                         "detected lines to DIR (the reference CLIs' "
                         "--images flag; sources/debug_draw.py)")
    ap.add_argument("--render-html", default=None, metavar="DIR",
                    help="also re-typeset recognized lines as one HTML "
                         "page per media_ref in DIR (the reference's "
                         "KaTeX debug renderer; sources/render_html.py)")
    ap.add_argument("--cores", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()
    if args.checkpoint and (args.stage != "extract" or args.no_tables):
        # checkpointed_extract always runs the full extract with tables
        ap.error("--checkpoint supports only the full extract "
                 "(--stage extract without --no-tables)")

    spark = get_spark(app="surya_spark_extract", cores=args.cores)
    if args.synthetic:
        docs = datagen.gen_documents(spark, args.synthetic)
        blobs = datagen.gen_page_blobs(spark, args.synthetic)
    else:
        if not (args.documents and args.blobs):
            ap.error("--documents/--blobs or --synthetic required")
        docs = spark.read.parquet(args.documents)
        blobs = spark.read.parquet(args.blobs)

    t0 = time.time()
    reuse_ocr = None  # set by stages whose plan already carries ocr lines
    if args.stage in ("extract", "ocr"):
        with_tables = args.stage == "extract" and not args.no_tables
        if args.checkpoint:
            out = pipeline.checkpointed_extract(
                spark, docs, blobs, args.checkpoint)
        else:
            out = pipeline.extract(docs, blobs, with_tables=with_tables)
        unit = "docs"
    else:
        from surya_spark.operators import (detection, fused, layout,
                                           recognition, tables)

        pages = pipeline.pages_for(docs, blobs)
        if args.stage == "detect":
            out = detection.detection_stage(pages)
            unit = "lines"
        elif args.stage == "layout":
            out = layout.layout_stage_tiled(pages)
            unit = "regions"
        elif args.stage == "latex":
            out = recognition.recognize_blocks(pages)
            unit = "blocks"
        else:  # table
            # the combined page pass feeds recognize AND the table
            # stage — persist its crop union (rule 2), as extract does
            allc = fused.fused_all_crops(pages).persist()
            ocr = recognition.recognize(fused.line_crops(allc))
            if args.render_html:
                # the render flag consumes the same ocr frame — persist
                # BEFORE the table write materializes it so the render
                # pass reads the cache instead of re-running the page
                # pass + recognize (rule 2)
                ocr = ocr.persist()
                reuse_ocr = ocr
            out = tables.table_stage_from_crops(fused.table_crops(allc),
                                                ocr)
            unit = "cells"
    out.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    dt = time.time() - t0
    print(f"extracted {n} {unit} in {dt:.1f}s "
          f"({n / dt:.1f} {unit}/s) -> {args.out}")

    if args.json_export:
        json_sink.write_results_json(spark.read.parquet(args.out),
                                     args.json_export)
        print(f"json export -> {args.json_export}")

    if args.debug_images or args.render_html:
        # reuse the stage result already written to --out when it IS the
        # needed frame (detect → lines; table → the persisted ocr above),
        # recompute otherwise: the overlays draw detection_stage's lines,
        # the render recognizes the line crops of the page pass.
        # pages feeds both sinks' inputs AND joins (rule 2)
        pages = pipeline.pages_for(docs, blobs).persist()

        if args.debug_images:
            from surya_spark.operators import detection as det_op
            from surya_spark.sources import debug_draw

            lines = (spark.read.parquet(args.out) if args.stage == "detect"
                     else det_op.detection_stage(pages))
            # two actions (file write + count) — persist (rule 2) so the
            # draw+encode lineage runs once
            overlays = debug_draw.debug_overlays(lines, pages).persist()
            debug_draw.write_pngs(overlays, args.debug_images)
            n_png = overlays.count()
            print(f"debug overlays: {n_png} pages -> {args.debug_images}")
            overlays.unpersist()

        if args.render_html:
            from surya_spark.operators import fused, recognition
            from surya_spark.sources import render_html as rh

            ocr = reuse_ocr
            if ocr is None:
                ocr = recognition.recognize(
                    fused.line_crops(
                        fused.fused_all_crops(pages, layout_slot=None)),
                    emit_chars=False)
            # two actions (file write + count) — persist (rule 2) so the
            # page pass+recognize+render lineage runs once
            rendered = rh.html_render_pages(ocr, pages).persist()
            rh.write_html(rendered, args.render_html)
            print(f"html render: {rendered.count()} pages "
                  f"-> {args.render_html}")
            rendered.unpersist()
        pages.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
