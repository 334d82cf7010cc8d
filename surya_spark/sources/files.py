"""File sources: folder scans of media bytes + page-range parsing.

Reference: load_from_file / load_from_folder route pdf-vs-image loaders
and skip dotfiles (/root/reference/surya/input/load.py:42-78); the CLI
parses page ranges like "0,5-10,20"
(/root/reference/surya/scripts/config.py:52-63).

Spark shape: the binaryFile data source handles globbing, recursive
listing and gives (path, modificationTime, length, content); dispatch by
extension is a column expression; decode stays in the multimodal UDF
slots.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def parse_page_range(spec: str) -> list[int]:
    """'0,5-10,20' → sorted unique ints (reference parse_range_str parity)."""
    out: set[int] = set()
    for part in spec.split(","):
        part = part.strip()
        if not part:
            continue
        if "-" in part:
            lo, hi = part.split("-", 1)
            out.update(range(int(lo), int(hi) + 1))
        else:
            out.add(int(part))
    return sorted(out)


def load_media_folder(spark: SparkSession, path: str,
                      glob: str = "*.{png,jpg,jpeg,pdf,spg}",
                      recursive: bool = True) -> DataFrame:
    """Folder scan → (media_ref, ext, n_bytes, img_bytes). Dotfiles are
    excluded; extension dispatch is a column, so downstream can route
    pdf-render vs image-decode slots with a filter instead of driver-side
    branching."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", str(recursive).lower())
        .load(path)
    )
    name = F.element_at(F.split(F.col("path"), "/"), -1)
    return (
        df.filter(~name.startswith("."))
        .select(
            F.col("path").alias("media_ref"),
            F.lower(F.element_at(F.split(name, r"\."), -1)).alias("ext"),
            F.col("length").alias("n_bytes"),
            F.col("content").alias("img_bytes"),
        )
    )

