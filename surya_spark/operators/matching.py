"""Sequential per-group kernels that plain SQL can't express (SURVEY.md
§7.3): greedy 1-1 IoU assignment and transitive vertical-line merging.
Both run as applyInPandas over a page-grain group — bounded group sizes,
vectorized numpy inside, keyed shuffle outside.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# coverage_score sums coverage in integer units of 1/COVER_UNITS, so the
# per-key sums are exact on both engines
COVER_UNITS = 1_000_000

_MATCH_OUT = T.StructType([
    T.StructField("key", T.StringType(), False),
    T.StructField("pred_id", T.LongType(), False),
    T.StructField("ref_id", T.LongType(), False),
    T.StructField("iou", T.DoubleType(), False),
])


def greedy_iou_match(pred: DataFrame, ref: DataFrame,
                     metric: str = "iou") -> DataFrame:
    """Greedy 1-1 matching: repeatedly take the highest-scoring unmatched
    (pred, ref) pair — the reference's benchmark matcher
    (/root/reference/benchmark/utils/metrics.py:23-60). Inherently
    sequential per page → applyInPandas on the page key.

    metric: 'iou' (symmetric, the detection benchmark) or 'coverage'
    (intersection / REF-box area — the box1_only=True form the table
    benchmark's penalized score matches on, metrics.py:12-20).

    Physical shape (r7): COGROUP pred and ref by key — the former inner
    join on the bare key materialized |pred|×|ref| rows per page through
    the shuffle and the Arrow boundary before the kernel deduped them
    back down (the exact anti-pattern metrics.coverage_per_box_kernel
    documents; at sf1.0 densities that join alone dominated the query).
    Cogrouping ships each side once; the kernel sees (pred_rows,
    ref_rows) directly."""
    p = pred.select("key", F.col("box_id").alias("pred_id"),
                    "x1", "y1", "x2", "y2")
    r = ref.select("key", F.col("box_id").alias("ref_id"),
                   F.col("x1").alias("rx1"), F.col("y1").alias("ry1"),
                   F.col("x2").alias("rx2"), F.col("y2").alias("ry2"))

    def match(pdf: pd.DataFrame, rdf: pd.DataFrame) -> pd.DataFrame:
        # inner-join semantics: a key with either side empty matches
        # nothing (the pre-r7 join produced no rows for it at all)
        if not len(pdf) or not len(rdf):
            return pd.DataFrame(columns=[f.name for f in _MATCH_OUT])
        key = pdf["key"].iloc[0]
        preds = pdf[["pred_id", "x1", "y1", "x2", "y2"]].drop_duplicates(
            "pred_id").to_numpy()
        refs = rdf[["ref_id", "rx1", "ry1", "rx2", "ry2"]].drop_duplicates(
            "ref_id").to_numpy()
        px = preds[:, 1:].astype(float)
        rx = refs[:, 1:].astype(float)
        ix1 = np.maximum(px[:, None, 0], rx[None, :, 0])
        iy1 = np.maximum(px[:, None, 1], rx[None, :, 1])
        ix2 = np.minimum(px[:, None, 2], rx[None, :, 2])
        iy2 = np.minimum(px[:, None, 3], rx[None, :, 3])
        inter = np.clip(ix2 - ix1, 0, None) * np.clip(iy2 - iy1, 0, None)
        pa = (px[:, 2] - px[:, 0]) * (px[:, 3] - px[:, 1])
        ra = (rx[:, 2] - rx[:, 0]) * (rx[:, 3] - rx[:, 1])
        if metric == "coverage":
            denom = np.broadcast_to(ra[None, :], inter.shape).copy()
        else:
            denom = pa[:, None] + ra[None, :] - inter
        iou = np.divide(inter, denom, out=np.zeros_like(inter),
                        where=denom > 0)
        out = []
        used_p: set[int] = set()
        used_r: set[int] = set()
        # deterministic greedy order: iou DESC, then (pred_id, ref_id)
        # ASC — without the id tie-break the result depends on pandas
        # group row order (shuffle-dependent), which would make the
        # output non-reproducible across runs and engines
        pid = preds[:, 0].astype(np.int64)
        rid = refs[:, 0].astype(np.int64)
        flat = iou.ravel()
        # only POSITIVE pairs can ever match (the greedy stops at the
        # first non-positive score), so sort just those — at bench box
        # densities ~1.5% of the |P|×|R| matrix is positive, and the
        # full-matrix lexsort was the kernel's hottest line. (pid, rid)
        # fully tie-breaks, so the restricted order is exactly the
        # positive prefix of the old full order.
        pos = np.flatnonzero(flat > 0)
        pi_pos, ri_pos = np.unravel_index(pos, iou.shape)
        order = np.lexsort((rid[ri_pos], pid[pi_pos], -flat[pos]))
        for oidx in order:
            pi, ri = int(pi_pos[oidx]), int(ri_pos[oidx])
            if pi in used_p or ri in used_r:
                continue
            used_p.add(pi)
            used_r.add(ri)
            out.append((key, int(pid[pi]), int(rid[ri]),
                        float(iou[pi, ri])))
        return pd.DataFrame(out, columns=[f.name for f in _MATCH_OUT])

    return (
        p.groupBy("key")
        .cogroup(r.groupBy("key"))
        .applyInPandas(match, schema=_MATCH_OUT)
    )


# merge_vertical_lines joins two vertical segments whose x centres are
# within VLINE_X_TOL px and whose y-intervals overlap or lie within
# VLINE_Y_MARGIN px (ref surya/detection/affinity.py:105-153)
VLINE_X_TOL = 12.0
VLINE_Y_MARGIN = 4.0

_VLINE_OUT = T.StructType([
    T.StructField("key", T.StringType(), False),
    T.StructField("group_id", T.IntegerType(), False),
    T.StructField("x1", T.DoubleType(), False),
    T.StructField("y1", T.DoubleType(), False),
    T.StructField("x2", T.DoubleType(), False),
    T.StructField("y2", T.DoubleType(), False),
    T.StructField("n_segments", T.IntegerType(), False),
])


def merge_vertical_lines(segments: DataFrame) -> DataFrame:
    """Transitive merge of vertical segments at similar x with overlapping
    y-intervals — union-find per page, mirroring
    /root/reference/surya/detection/affinity.py:105-153. Input columns:
    key, seg_id, x1, y1, x2, y2."""

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        key = pdf["key"].iloc[0]
        segs = pdf.sort_values("seg_id").reset_index(drop=True)
        n = len(segs)
        parent = list(range(n))

        def find(i):
            while parent[i] != i:
                parent[i] = parent[parent[i]]
                i = parent[i]
            return i

        xs = (segs["x1"].to_numpy() + segs["x2"].to_numpy()) / 2
        y1 = segs["y1"].to_numpy()
        y2 = segs["y2"].to_numpy()
        for i in range(n):
            for j in range(i + 1, n):
                if abs(xs[i] - xs[j]) <= VLINE_X_TOL and (
                    min(y2[i], y2[j]) + VLINE_Y_MARGIN >= max(y1[i], y1[j])
                ):
                    ri, rj = find(i), find(j)
                    if ri != rj:
                        parent[rj] = ri
        roots = [find(i) for i in range(n)]
        # canonical group ids: dense rank of each component's MIN seg_id —
        # union-find root indices depend on the union sequence, so they
        # are not a stable contract (and not oracle-replicable); min
        # seg_id is
        seg_ids = segs["seg_id"].to_numpy()
        comp_min = {}
        for i, r in enumerate(roots):
            m = comp_min.get(r)
            if m is None or seg_ids[i] < m:
                comp_min[r] = seg_ids[i]
        out = []
        for gid, (root, _) in enumerate(
                sorted(comp_min.items(), key=lambda kv: kv[1])):
            idx = [i for i, r in enumerate(roots) if r == root]
            out.append((
                key, gid,
                float(segs["x1"].iloc[idx].min()),
                float(segs["y1"].iloc[idx].min()),
                float(segs["x2"].iloc[idx].max()),
                float(segs["y2"].iloc[idx].max()),
                len(idx),
            ))
        return pd.DataFrame(out, columns=[f.name for f in _VLINE_OUT])

    return segments.groupBy("key").applyInPandas(merge, schema=_VLINE_OUT)


def penalized_iou_scores(pred: DataFrame, ref: DataFrame) -> DataFrame:
    """The table benchmark's penalized IoU score per key
    (/root/reference/benchmark/utils/metrics.py:57-60 + match_boxes
    :23-55): greedy max-coverage assignment (coverage = intersection /
    ref-box area, the box1_only form), matched coverage > 0.95 snapped
    to 1.0, −1 per unmatched ref box, 0 per unmatched pred box,
    denominator = n_pred + n_ref − min(n_pred, n_ref).

    Two deliberate deviations: (1) score-identical — the reference
    assigns even zero-coverage pairs while preds and refs both remain;
    a zero assignment contributes exactly 0, the same as the unmatched
    pred it displaces, and never changes the unmatched-REF count
    (min(n_pred, n_ref) pairs always assign), so only the >0 greedy
    matches need materializing; (2) ties break (score DESC, pred_id,
    ref_id). On EQUAL-coverage ties the greedy pick order can steer
    later assignments and therefore the total score, and the reference
    itself is input-list-order-dependent there (shuffle-dependent in a
    distributed setting) — so the deterministic order is a
    reproducibility contract, not a score-parity guarantee on tied
    inputs.

    Exactness: per-match coverage is floored to 1e-6 units (BIGINT), so
    per-key sums are exact integer arithmetic on both engines — the
    score ships as (score_num_u, denom) integers plus a convenience
    float. Scale: one applyInPandas per key + two count aggregates; no
    all-pairs shuffle beyond the per-key matcher."""
    from ..plans import caching

    # pred/ref each feed TWO consumers (the matcher and the count
    # aggregate) — unpersisted, the upstream lineage (often a deduped
    # scan) re-executes per branch (CLAUDE.md rule 2)
    pred = caching.managed(pred)
    ref = caching.managed(ref)
    matched = greedy_iou_match(pred, ref, metric="coverage")
    snapped = F.when(F.col("iou") > 0.95, F.lit(1.0)).otherwise(F.col("iou"))
    agg = matched.groupBy("key").agg(
        F.sum(F.floor(snapped * COVER_UNITS)).cast("long").alias("cov_sum_u"))
    n_p = pred.groupBy("key").agg(
        F.count(F.lit(1)).cast("long").alias("n_pred"))
    n_r = ref.groupBy("key").agg(
        F.count(F.lit(1)).cast("long").alias("n_ref"))
    j = (
        n_p.join(n_r, "key", "outer")
        .join(agg, "key", "left")
        .na.fill({"n_pred": 0, "n_ref": 0, "cov_sum_u": 0})
    )
    mn = F.least("n_pred", "n_ref")
    denom = F.col("n_pred") + F.col("n_ref") - mn
    num = F.col("cov_sum_u") - (F.col("n_ref") - mn) * F.lit(COVER_UNITS)
    return j.select(
        "key",
        num.cast("long").alias("score_num_u"),
        denom.cast("long").alias("denom"),
        (num / denom / F.lit(COVER_UNITS)).alias("score"),
    )
