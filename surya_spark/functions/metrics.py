"""Benchmark metrics as Spark aggregates (SURVEY.md §5.2 Tier C).

Re-expresses the reference's evaluation kernels —
coverage precision/recall (/root/reference/benchmark/utils/metrics.py:113-168),
pairwise rank accuracy (/root/reference/benchmark/utils/metrics.py:189-205),
fuzzy overlap scoring (/root/reference/benchmark/utils/scoring.py:7-26) —
as joins + groupBy aggregates, so a whole benchmark dataset is scored in
one distributed pass instead of a Python loop per page.

Box-frame convention: (key, box_id, x1, y1, x2, y2); `key` is the page /
image grain.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import geometry as G


# a box counts as covered when more than this fraction of its area
# is covered (ref benchmark/utils/metrics.py:113-168)
COVERAGE_THRESHOLD = 0.5


_GRID_MAX = 4096  # grid path applies while max coordinate stays below this


def _covered_pairwise(px, rx):
    """Reference O(|pred|×|ref|) covered-area sweep (the pre-r7 kernel
    body): per-pred sum of intersection areas with every ref box. Kept as
    the fallback for non-integer/out-of-range geometry and as the pytest
    equivalence anchor for the grid path."""
    import numpy as np

    ix = np.clip(
        np.minimum(px[:, None, 2], rx[None, :, 2])
        - np.maximum(px[:, None, 0], rx[None, :, 0]), 0, None)
    iy = np.clip(
        np.minimum(px[:, None, 3], rx[None, :, 3])
        - np.maximum(px[:, None, 1], rx[None, :, 1]), 0, None)
    return (ix * iy).sum(axis=1)


def _covered_grid(px, rx):
    """O(|pred| + |ref| + G²) covered-area sweep for integer geometry in
    [0, _GRID_MAX): Σ_r area(p ∩ r) counted on the unit-cell grid. A 2D
    difference array scatter-adds every ref box, two cumsums turn it into
    the per-cell cover count, two more give the summed-area table S, and
    each pred box reads covered = S[x2,y2]−S[x1,y2]−S[x2,y1]+S[x1,y1].
    All arithmetic is integer (cell counts ≤ |ref|, rectangle sums ≪
    2^53), so the result is bit-identical to the pairwise float sweep —
    itself exact on integer boxes regardless of summation order. The
    pairwise sweep allocates |pred|×|ref| float64 temporaries (~300
    MB/page at sf1.0 bench densities — 226 s driver-measured for the
    coverage query); this is O(G²) ≈ 9 MB flat per page."""
    import numpy as np

    rx1, ry1 = rx[:, 0].astype(np.int64), rx[:, 1].astype(np.int64)
    # degenerate (zero/negative extent) boxes contribute exactly 0 in the
    # pairwise sweep; clamping x2/y2 up to x1/y1 makes their four
    # difference-array entries cancel to the same 0
    rx2 = np.maximum(rx[:, 2].astype(np.int64), rx1)
    ry2 = np.maximum(rx[:, 3].astype(np.int64), ry1)
    w = int(max(rx2.max(initial=0), px[:, 2].max(initial=0))) + 1
    h = int(max(ry2.max(initial=0), px[:, 3].max(initial=0))) + 1
    diff = np.zeros((w + 1, h + 1), dtype=np.int64)
    np.add.at(diff, (rx1, ry1), 1)
    np.add.at(diff, (rx2, ry1), -1)
    np.add.at(diff, (rx1, ry2), -1)
    np.add.at(diff, (rx2, ry2), 1)
    cover = diff.cumsum(axis=0).cumsum(axis=1)  # count covering cell (x,y)
    sat = np.zeros((w + 1, h + 1), dtype=np.int64)
    sat[1:, 1:] = cover[:w, :h].cumsum(axis=0).cumsum(axis=1)
    px1, py1 = px[:, 0].astype(np.int64), px[:, 1].astype(np.int64)
    px2 = np.maximum(px[:, 2].astype(np.int64), px1)
    py2 = np.maximum(px[:, 3].astype(np.int64), py1)
    covered = (sat[px2, py2] - sat[px1, py2]
               - sat[px2, py1] + sat[px1, py1])
    return covered.astype(np.float64)


def coverage_per_box_kernel(pred: DataFrame, ref: DataFrame) -> DataFrame:
    """Per-pred-box covered area: the sum of its intersections with the
    key's ref boxes (overlapping refs count twice;
    coverage_precision_recall caps the ratio at 1), by a vectorized numpy
    sweep per key. Returns (key, box_id, area, covered).

    Strategy per key (r7): when every coordinate is a non-negative
    integer under _GRID_MAX — always true for the bench's
    lineitem/orders-derived geometry — covered is computed on a unit-cell
    count grid in O(|pred|+|ref|+G²) instead of the O(|pred|×|ref|)
    pairwise sweep, which goes quadratic as boxes-per-page grows with
    corpus size. The pairwise sweep remains the general-geometry
    fallback; both paths return bit-identical doubles on integer boxes
    (pytest-pinned)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    p = pred.select("key", "box_id", "x1", "y1", "x2", "y2")
    r = ref.select("key", "x1", "y1", "x2", "y2")

    out_schema = T.StructType([
        p.schema["key"],
        p.schema["box_id"],
        T.StructField("area", T.DoubleType(), False),
        T.StructField("covered", T.DoubleType(), False),
    ])

    # COGROUP, not join: joining a collect_list of refs onto every pred row
    # replicates the ref set per box (|pred|×|ref| structs through the
    # shuffle — measured 196 s at sf0.1). Cogrouping ships each side once
    # per key and the kernel does the |pred|×|ref| work as one numpy op
    # (4 s at sf0.1).
    def sweep(pdf: pd.DataFrame, rdf: pd.DataFrame):
        if not len(pdf):
            return pd.DataFrame(columns=[f.name for f in out_schema])
        px = pdf[["x1", "y1", "x2", "y2"]].to_numpy(dtype=float)
        area = (px[:, 2] - px[:, 0]) * (px[:, 3] - px[:, 1])
        if not len(rdf):
            covered = np.zeros(len(pdf))
        else:
            rx = rdf[["x1", "y1", "x2", "y2"]].to_numpy(dtype=float)
            both = np.concatenate([px.ravel(), rx.ravel()])
            # grid pays O(G²) regardless of box count — only switch once
            # the pairwise matrix is decidedly bigger than the grid
            # (sparse pages stay on the cheaper pairwise sweep; measured
            # 1.9 s vs 3.7 s at sf0.1 with grid-always)
            grid_cells = (both.max() + 1) ** 2 if len(both) else 0.0
            if (len(pdf) * len(rdf) > 2 * grid_cells
                    and np.all(both == np.floor(both)) and both.min() >= 0
                    and both.max() < _GRID_MAX):
                covered = _covered_grid(px, rx)
            else:
                covered = _covered_pairwise(px, rx)
        return pd.DataFrame({
            "key": pdf["key"], "box_id": pdf["box_id"],
            "area": area, "covered": covered,
        })

    return (
        p.groupBy("key")
        .cogroup(r.groupBy("key"))
        .applyInPandas(sweep, schema=out_schema)
    )


def coverage_precision_recall(pred: DataFrame, ref: DataFrame) -> DataFrame:
    """Per-key precision (pred boxes covered by ref) and recall (ref boxes
    covered by pred) — one row per key. A box's coverage is
    min(covered / area, 1), 0 when area <= 0 (coverage_per_box_kernel in
    each direction); it counts as covered above COVERAGE_THRESHOLD. Every
    input row is a box, duplicate (key, box_id) rows included, as in the
    reference's box lists."""
    def share_covered(boxes: DataFrame, by: DataFrame, name: str):
        per_box = coverage_per_box_kernel(boxes, by)
        cov = F.least(
            F.when(F.col("area") > 0, F.col("covered") / F.col("area"))
            .otherwise(0.0),
            F.lit(1.0))
        return per_box.groupBy("key").agg(
            (F.sum((cov > COVERAGE_THRESHOLD).cast("int"))
             / F.count(F.lit(1))).alias(name))

    return (share_covered(pred, ref, "precision")
            .join(share_covered(ref, pred, "recall"), "key", "outer")
            .fillna(0.0))


def mean_iou_matched(pred: DataFrame, ref: DataFrame) -> DataFrame:
    """Per-key mean of best-IoU per ref box (the relational core of the
    reference's penalized IoU; the greedy 1-1 used for final reporting is
    in operators/matching.py)."""
    p, r = pred.alias("p"), ref.alias("r")
    iou = G.iou(
        F.col("p.x1"), F.col("p.y1"), F.col("p.x2"), F.col("p.y2"),
        F.col("r.x1"), F.col("r.y1"), F.col("r.x2"), F.col("r.y2"),
    )
    joined = r.join(p, F.col("p.key") == F.col("r.key"), "left").select(
        F.col("r.key").alias("key"),
        F.col("r.box_id").alias("ref_id"),
        F.coalesce(iou, F.lit(0.0)).alias("iou"),
    )
    best = joined.groupBy("key", "ref_id").agg(F.max("iou").alias("best_iou"))
    return best.groupBy("key").agg(F.avg("best_iou").alias("mean_best_iou"))


def fuzzy_overlap_score(pred_lines: DataFrame, ref_lines: DataFrame) -> DataFrame:
    """Best fuzzy-similarity reference line per predicted line, averaged
    per key — the recognition benchmark's overlap_score
    (/root/reference/benchmark/utils/scoring.py:7-26). Similarity =
    difflib SequenceMatcher ratio (stdlib; rapidfuzz-compatible scale) in
    an Arrow-vectorized cogroup kernel; candidate pairing stays bounded
    per key. Frames: (key, line_id, text)."""
    import difflib

    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType([
        pred_lines.schema["key"],
        T.StructField("mean_score", T.DoubleType(), False),
        T.StructField("n_lines", T.IntegerType(), False),
    ])

    def score(pdf: pd.DataFrame, rdf: pd.DataFrame):
        if not len(pdf):
            return pd.DataFrame(columns=[f.name for f in out_schema])
        refs = list(rdf["text"]) if len(rdf) else []
        scores = []
        for t in pdf["text"]:
            best = 0.0
            for rt in refs:
                r = difflib.SequenceMatcher(None, t or "", rt or "").ratio()
                if r > best:
                    best = r
            scores.append(best)
        return pd.DataFrame({
            "key": [pdf["key"].iloc[0]],
            "mean_score": [float(sum(scores) / len(scores))],
            "n_lines": [len(scores)],
        })

    return (
        pred_lines.select("key", "text").groupBy("key")
        .cogroup(ref_lines.select("key", "text").groupBy("key"))
        .applyInPandas(score, schema=out_schema)
    )


def rank_accuracy(pred_order: DataFrame, ref_order: DataFrame) -> DataFrame:
    """Fraction of item pairs whose relative order matches the reference
    (/root/reference/benchmark/utils/metrics.py:189-205) — a self-join per
    key over (item_id, position) frames."""
    j = pred_order.select(
        "key", F.col("item_id").alias("i"), F.col("position").alias("pp")
    ).join(
        ref_order.select(
            "key", F.col("item_id").alias("i"), F.col("position").alias("rp")
        ),
        ["key", "i"],
    )
    a, b = j.alias("a"), j.alias("b")
    pairs = a.join(
        b,
        (F.col("a.key") == F.col("b.key")) & (F.col("a.i") < F.col("b.i")),
    ).select(
        F.col("a.key").alias("key"),
        (
            (F.col("a.pp") < F.col("b.pp")) == (F.col("a.rp") < F.col("b.rp"))
        ).cast("int").alias("ok"),
    )
    return pairs.groupBy("key").agg(
        (F.sum("ok") / F.count(F.lit(1))).alias("pair_accuracy")
    )


def normalize_for_edit(text: Column) -> Column:
    """texify benchmark normalization before edit distance: strip/unwrap all
    tags (keep inner text), collapse whitespace, trim.
    Ref: /root/reference/benchmark/texify.py:19-28."""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(text, "<[^>]+>", ""), r"\s+", " "))


def normalized_edit_distance(p: Column, r: Column) -> Column:
    """Levenshtein normalized_distance: dist / max(len(p), len(r)), 0 when
    both empty — rapidfuzz semantics, computed with the JVM builtin
    F.levenshtein (whole-stage codegen, no Python).
    Ref: /root/reference/benchmark/texify.py:31-38."""
    d = F.levenshtein(p, r).cast("double")
    m = F.greatest(F.length(p), F.length(r)).cast("double")
    return F.when(m > 0, d / m).otherwise(F.lit(0.0))


def edit_distance_mean(pred: DataFrame) -> DataFrame:
    """Dataset-level texify metric: mean normalized edit distance after
    normalization; the CI floor gate asserts mean < 0.2
    (ref benchmark/utils/verify_benchmark_scores.py:41-44)."""
    nd = normalized_edit_distance(
        normalize_for_edit(F.col("pred")), normalize_for_edit(F.col("ref")))
    return pred.select(nd.alias("nd")).agg(
        F.avg("nd").alias("mean_edit_distance"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )


def _render_norm(text: str) -> str:
    """Python twin of normalize_for_edit (tag strip, whitespace collapse,
    trim) for the render check's rasterization path."""
    import re

    return re.sub(r"\s+", " ", re.sub(r"<[^>]+>", "", text or "")).strip()


def render_ink_iou(pred: str, ref: str) -> float:
    """Render-based visual check for one (pred, ref) pair: both texts are
    normalized (tag strip — so <math>x</math> and x render identically),
    rasterized with the debug 3x5 font onto a shared canvas, and scored
    by INK-PIXEL IoU — the deterministic stand-in for the reference's
    KaTeX-render visual comparison path (surya/debug/render_html.py +
    benchmark/texify.py edit gate). 1.0 when both render empty."""
    import numpy as np

    from ..sources.debug_draw import draw_text

    p, r = _render_norm(pred), _render_norm(ref)
    w = 4 * max(len(p), len(r), 1) + 2
    masks = []
    for t in (p, r):
        arr = np.zeros((7, w, 3), dtype=np.uint8)
        draw_text(arr, 1, 1, t, (255, 255, 255))
        masks.append(arr[:, :, 0] > 0)
    a, b = masks
    union = int((a | b).sum())
    return float((a & b).sum() / union) if union else 1.0


def render_overlap_score(pairs: DataFrame) -> DataFrame:
    """(key, pred, ref) → per-pair render_ink_iou, Arrow-batched. The
    render happens where the pair row lives — no shuffle beyond the
    input's partitioning; cost ∝ text length, perfectly parallel."""
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType([
        pairs.schema["key"],
        T.StructField("render_iou", T.DoubleType(), False),
    ])

    def run(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "key": pdf["key"],
                "render_iou": [
                    render_ink_iou(p, r)
                    for p, r in zip(pdf["pred"], pdf["ref"])
                ],
            })

    return pairs.select("key", "pred", "ref").mapInPandas(
        run, schema=out_schema)
