"""Column-aware reading order as pure relational ops.

The reference sorts lines into y-bands then left→right
(sort_text_lines, /root/reference/surya/recognition/util.py:72-97); the
north-star variant is column-aware. Implementation:

1. page column-mode detection: a page is two-column iff no detected line
   crosses the central vertical strip — one boolean window aggregate;
2. col_id = which half the line's center falls in (0 for one-column pages);
3. position = row_number() over (media_ref) ORDER BY (col_id, y_band, x1).

Everything is window + expression; order is pinned to explicit sort keys,
never arrival order (Spark shuffles destroy arrival order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..datagen import BAND
from ..functions import geometry as G

# a page is two-column iff no line crosses the central strip
# x ∈ [STRIP_LO·w, STRIP_HI·w]
STRIP_LO, STRIP_HI = 0.48, 0.52


def order_lines_with_separators(lines: DataFrame,
                                separators: DataFrame) -> DataFrame:
    """Column-aware ordering driven by DETECTED vertical separators (the
    affinity-map vertical lines of the reference, merged by
    operators/matching.merge_vertical_lines): col_id = number of
    separators left of the line's center. Topological within a page:
    columns left→right, bands top→bottom, x within a band.

    Separator xs are folded into one small array per page (collect_list)
    and joined on — counting is a higher-order filter over an array of a
    handful of separators, not a pairwise join."""
    seps = separators.groupBy("media_ref").agg(
        F.sort_array(
            F.collect_list((F.col("x1") + F.col("x2")) / 2.0)
        ).alias("sep_xs")
    )
    cx = G.center_x(F.col("x1"), F.col("x2"))
    df = (
        lines.join(seps, "media_ref", "left")
        .withColumn(
            "col_id",
            F.when(
                F.col("sep_xs").isNotNull(),
                F.size(F.filter("sep_xs", lambda s: s < cx)),
            ).otherwise(F.lit(0)),
        )
        .withColumn("y_band", G.y_band(F.col("y1"), float(BAND)))
        .drop("sep_xs")
    )
    w = Window.partitionBy("media_ref").orderBy("col_id", "y_band", "x1", "y1")
    return df.withColumn("position", F.row_number().over(w))


def order_lines(lines: DataFrame) -> DataFrame:
    """Adds col_id, y_band (datagen.BAND px bands), position (1-based
    reading order per page).
    Requires columns media_ref, x1, y1, x2, y2, page_width."""
    w_page = Window.partitionBy("media_ref")
    cx = G.center_x(F.col("x1"), F.col("x2"))
    half = F.col("page_width").cast("double") / 2.0
    crossing = F.when(
        (F.col("x1") < F.col("page_width") * STRIP_LO)
        & (F.col("x2") > F.col("page_width") * STRIP_HI),
        1,
    ).otherwise(0)
    df = (
        lines.withColumn("_crossing", F.max(crossing).over(w_page))
        .withColumn(
            "col_id",
            F.when((F.col("_crossing") == 0) & (cx >= half), 1).otherwise(0),
        )
        .withColumn("y_band", G.y_band(F.col("y1"), float(BAND)))
        .drop("_crossing")
    )
    # line_idx as final tie-break: matches recognition.batch_line_crops'
    # sort key, so exact (col_id, y_band, x1, y1) ties order identically
    # across paths AND across shuffles (row_number on a non-total order
    # is partition-order-dependent)
    tie = ["line_idx"] if "line_idx" in lines.columns else []
    w_order = Window.partitionBy("media_ref").orderBy(
        "col_id", "y_band", "x1", "y1", *tie
    )
    return df.withColumn("position", F.row_number().over(w_order))
