"""UTF-16 code-unit model + CLI entry points driven as subprocesses."""

from __future__ import annotations

import subprocess
import sys

import pandas as pd
from pyspark.sql import functions as F

from surya_spark.functions import utf16


def test_utf16_units_and_roundtrip(spark):
    texts = ["plain ascii", "naïve café", "emoji 😀😀 pair", "𝕏 astral", ""]
    df = spark.createDataFrame(pd.DataFrame({"t": texts}))
    out = df.select(
        "t",
        utf16.utf16_units(F.col("t")).alias("units"),
        utf16.from_code_units(utf16.to_code_units(F.col("t"))).alias("rt"),
        F.size(utf16.to_code_units(F.col("t"))).alias("n_units_arr"),
    ).collect()
    for r in out:
        expected = len(r["t"].encode("utf-16-le")) // 2
        assert r["units"] == expected, r["t"]
        assert r["n_units_arr"] == expected
        assert r["rt"] == r["t"]
    # astral chars really take 2 units
    emoji = [r for r in out if "😀" in r["t"]][0]
    assert emoji["units"] == len("emoji  pair") + 2 * 2  # 2 astral × 2 units


def test_extract_cli(tmp_path):
    out = tmp_path / "out"
    r = subprocess.run(
        [sys.executable, "scripts/extract.py", "--synthetic", "12",
         "--out", str(out), "--cores", "4",
         "--json-export", str(tmp_path / "json")],
        capture_output=True, text=True, cwd=".",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "extracted 12 docs" in r.stdout
    assert (tmp_path / "json").exists()


def test_checkpoint_rejects_partial_extract(tmp_path):
    """--checkpoint always runs the full extract with tables, so
    combining it with --stage ocr or --no-tables must fail instead of
    silently writing table cells."""
    for extra in (["--stage", "ocr"], ["--no-tables"]):
        r = subprocess.run(
            [sys.executable, "scripts/extract.py", "--synthetic", "4",
             "--out", str(tmp_path / "out"), "--cores", "1",
             "--checkpoint", str(tmp_path / "ckpt"), *extra],
            capture_output=True, text=True, cwd=".",
        )
        assert r.returncode != 0, extra
        assert "--checkpoint" in r.stderr, r.stderr[-2000:]
        assert not (tmp_path / "out").exists()


def test_stage_cli(tmp_path):
    """The per-stage CLI modes mirroring the reference's surya_detect /
    surya_table entry points: detect emits line rows, table emits cell
    rows, both as parquet."""
    import pyarrow.parquet as pq

    for stage, unit, cols in (
        ("detect", "lines", {"media_ref", "line_idx", "polygon",
                             "confidence"}),
        ("table", "cells", {"media_ref", "row_id", "col_id"}),
    ):
        out = tmp_path / stage
        r = subprocess.run(
            [sys.executable, "scripts/extract.py", "--synthetic", "8",
             "--out", str(out), "--cores", "4", "--stage", stage],
            capture_output=True, text=True, cwd=".",
        )
        assert r.returncode == 0, (stage, r.stderr[-2000:])
        assert f" {unit} in " in r.stdout, (stage, r.stdout)
        schema = set(pq.read_schema(
            next(out.glob("*.parquet")).as_posix()).names)
        assert cols <= schema, (stage, schema)


def test_cli_debug_render_flags_shared_pass(tmp_path):
    """--debug-images and --render-html combined with a stage (round-6
    reuse fix): intermediates are computed once and shared — detect's
    --out is reused as the overlay lines, the table stage's ocr frame
    feeds the render pass — and both sinks land files."""
    out = tmp_path / "tbl"
    r = subprocess.run(
        [sys.executable, "scripts/extract.py", "--synthetic", "6",
         "--out", str(out), "--cores", "4", "--stage", "table",
         "--debug-images", str(tmp_path / "png"),
         "--render-html", str(tmp_path / "html")],
        capture_output=True, text=True, cwd=".",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "debug overlays:" in r.stdout
    assert "html render:" in r.stdout
    assert list((tmp_path / "png").rglob("*.png"))
    assert list((tmp_path / "html").rglob("*.html"))
