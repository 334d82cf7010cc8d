"""Pure-numpy pixel/array kernels for the slot UDF bodies (SURVEY.md
§2.7) — the image ops the reference does with cv2/PIL, re-implemented
with no native-library dependency so they run inside any Python worker:

* dynamic thresholds          (ref surya/detection/heatmap.py:14-24)
* connected components        (ref cv2.connectedComponentsWithStats use,
                               heatmap.py:35-37)
* component stats / →box      (ref heatmap.py:44-86)
* binary dilation             (ref cv2.dilate, heatmap.py:73-75)
* min-area rectangle (quads)  (ref cv2.minAreaRect/boxPoints,
                               heatmap.py:83-97)
* heatmap→boxes pipeline      (ref detect_boxes, heatmap.py:27-107)
* bilinear resize             (ref cv2.resize INTER_LINEAR logit resize)
* Sobel edge map + morphology (ref surya/detection/affinity.py:19-41)
* Canny edges                 (ref affinity.py:50, cv2.Canny)
* vertical/horizontal segment extraction
                              (ref affinity.py:58, cv2.HoughLinesP
                               restricted to the near-axis angles the
                               caller keeps — implemented as gap-tolerant
                               run extraction, same output contract)
* scale_to_fit_dims / normalize / patch tiling
                              (ref surya/common/surya/processor/
                               __init__.py:140-230)

These run INSIDE mapInPandas/applyInPandas slot bodies — per-row numpy
work on decoded arrays, never on the driver, so everything scales with
partition count. Interpolation: all three cv2 filters the reference
uses are implemented with half-pixel centers and replicated borders —
INTER_LINEAR (bilinear_resize, logit/heatmap resize), INTER_LANCZOS4
(lanczos_resize), INTER_CUBIC Keys A=-0.75 (cubic_resize, patch
tiling).
"""

from __future__ import annotations

import math

import numpy as np

# ------------------------------------------------------------- thresholds


def dynamic_thresholds(linemap: np.ndarray, text_threshold: float,
                       low_text: float,
                       typical_top10_avg: float = 0.7) -> tuple[float, float]:
    """Scale thresholds by the mean of the brightest 10% of pixels —
    pages with faint heatmaps get proportionally lower cutoffs.
    Ref: surya/detection/heatmap.py:14-24 (same formula)."""
    flat = np.asarray(linemap, dtype=np.float64).ravel()
    if flat.size == 0:
        # degenerate crop/chunk: no pixels to scale by — return the
        # unscaled thresholds clipped to the same bounds
        return (
            float(np.clip(text_threshold, 0.15, 0.8)),
            float(np.clip(low_text, 0.1, 0.6)),
        )
    k = int(flat.size * 0.9)
    top_mean = float(np.mean(np.partition(flat, k)[k:]))
    scale = float(np.clip(top_mean / typical_top10_avg, 0.0, 1.0) ** 0.5)
    return (
        float(np.clip(text_threshold * scale, 0.15, 0.8)),
        float(np.clip(low_text * scale, 0.1, 0.6)),
    )


# ------------------------------------------------- connected components


def connected_components(mask: np.ndarray,
                         connectivity: int = 4) -> tuple[int, np.ndarray]:
    """Label the connected components of a boolean mask — two-pass
    row-run union-find (the classic CCL algorithm cv2 implements
    natively). Returns (n_components, labels) with labels in 1..n, 0 =
    background. Vectorized within rows; the Python loop is over rows
    only."""
    m = np.asarray(mask) != 0
    h, w = m.shape
    labels = np.zeros((h, w), dtype=np.int32)
    parent = [0]

    def find(i: int) -> int:
        root = i
        while parent[root] != root:
            root = parent[root]
        while parent[i] != root:
            parent[i], i = root, parent[i]
        return root

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    next_label = 1
    pad = 0 if connectivity == 4 else 1
    prev_runs: list[tuple[int, int, int]] = []
    for y in range(h):
        row = m[y]
        if not row.any():
            prev_runs = []
            continue
        d = np.diff(row.astype(np.int8))
        starts = np.flatnonzero(d == 1) + 1
        ends = np.flatnonzero(d == -1) + 1
        if row[0]:
            starts = np.concatenate(([0], starts))
        if row[-1]:
            ends = np.concatenate((ends, [w]))
        runs: list[tuple[int, int, int]] = []
        for s, e in zip(starts.tolist(), ends.tolist()):
            lab = 0
            for ps, pe, pl in prev_runs:
                if ps < e + pad and pe > s - pad:
                    if lab == 0:
                        lab = find(pl)
                    else:
                        union(lab, pl)
            if lab == 0:
                parent.append(next_label)
                lab = next_label
                next_label += 1
            labels[y, s:e] = lab
            runs.append((s, e, lab))
        prev_runs = runs
    if next_label == 1:
        return 0, labels
    root_of = np.fromiter((find(i) for i in range(next_label)),
                          dtype=np.int32, count=next_label)
    uniq = np.unique(root_of[1:])
    dense = np.zeros(next_label, dtype=np.int32)
    dense[uniq] = np.arange(1, len(uniq) + 1, dtype=np.int32)
    return len(uniq), dense[root_of[labels]]


def component_stats(labels: np.ndarray, n: int) -> np.ndarray:
    """Per-component (x, y, w, h, area) — the cv2.CC_STAT_* quintuple.
    Row i (1-based label i+1) of the result, background excluded."""
    ys, xs = np.nonzero(labels)
    ls = labels[ys, xs]
    stats = np.zeros((n, 5), dtype=np.int64)
    if not len(ls):
        return stats
    minx = np.full(n + 1, np.iinfo(np.int64).max)
    miny = np.full(n + 1, np.iinfo(np.int64).max)
    maxx = np.full(n + 1, -1)
    maxy = np.full(n + 1, -1)
    np.minimum.at(minx, ls, xs)
    np.minimum.at(miny, ls, ys)
    np.maximum.at(maxx, ls, xs)
    np.maximum.at(maxy, ls, ys)
    area = np.bincount(ls, minlength=n + 1)
    stats[:, 0] = minx[1:]
    stats[:, 1] = miny[1:]
    stats[:, 2] = maxx[1:] - minx[1:] + 1
    stats[:, 3] = maxy[1:] - miny[1:] + 1
    stats[:, 4] = area[1:]
    return stats


# ----------------------------------------------------------- morphology


def binary_dilate(mask: np.ndarray, ksize: int) -> np.ndarray:
    """Rectangular dilation with a ksize×ksize structuring element.
    Anchor convention matches cv2's default for even kernels: the element
    spans offsets [-(ksize//2), ksize-1-ksize//2] around each pixel."""
    if ksize <= 1:
        return np.asarray(mask) != 0
    m = np.asarray(mask) != 0
    lo = ksize // 2
    hi = ksize - 1 - lo
    out = np.zeros_like(m)
    h, w = m.shape
    acc = np.zeros_like(m)
    for dy in range(-lo, hi + 1):
        ys = slice(max(0, -dy), min(h, h - dy))
        yd = slice(max(0, dy), min(h, h + dy))
        acc[yd, :] |= m[ys, :]
    for dx in range(-lo, hi + 1):
        xs = slice(max(0, -dx), min(w, w - dx))
        xd = slice(max(0, dx), min(w, w + dx))
        out[:, xd] |= acc[:, xs]
    return out


def _sliding_extreme_1d(a: np.ndarray, k: int, axis: int,
                        take_max: bool) -> np.ndarray:
    """Sliding max/min of window k along axis, replicate-padded so the
    output keeps the input shape (cv2 erode/dilate border semantics)."""
    lo = k // 2
    hi = k - 1 - lo
    pad = [(0, 0), (0, 0)]
    pad[axis] = (lo, hi)
    ap = np.pad(a, pad, mode="edge")
    win = np.lib.stride_tricks.sliding_window_view(ap, k, axis=axis)
    return win.max(axis=-1) if take_max else win.min(axis=-1)


def erode_v(img: np.ndarray, k: int) -> np.ndarray:
    """Vertical-kernel (k,1) grayscale erosion (sliding column min)."""
    return _sliding_extreme_1d(np.asarray(img), k, axis=0, take_max=False)


def dilate_v(img: np.ndarray, k: int, iterations: int) -> np.ndarray:
    """Vertical-kernel (k,1) grayscale dilation (sliding column max)."""
    out = np.asarray(img)
    for _ in range(iterations):
        out = _sliding_extreme_1d(out, k, axis=0, take_max=True)
    return out


# ------------------------------------------------------- min-area rect


def convex_hull(points: np.ndarray) -> np.ndarray:
    """Andrew monotone chain. points: (N,2) float; returns CCW hull.

    Pixel-cloud inputs (every component pixel from
    detect_boxes_from_heatmap) are first reduced to per-row x-extremes —
    a hull vertex must be the min or max x among points sharing its y —
    dropping N from component AREA to ≤2·height. Together with the
    scalar cross product (np.cross on 2-vectors pays ~30 µs of
    axis-bookkeeping per call) this took a dense 4096×1024 page from
    61 s to milliseconds."""
    pts = np.unique(np.asarray(points, dtype=np.float64), axis=0)
    if len(pts) > 1024:
        order = np.argsort(pts[:, 1], kind="mergesort")
        p = pts[order]
        yvals, starts = np.unique(p[:, 1], return_index=True)
        xmin = np.minimum.reduceat(p[:, 0], starts)
        xmax = np.maximum.reduceat(p[:, 0], starts)
        pts = np.unique(np.concatenate([
            np.column_stack([xmin, yvals]),
            np.column_stack([xmax, yvals]),
        ]), axis=0)
    if len(pts) <= 2:
        return pts
    # np.unique(axis=0) already sorted rows lexicographically by (x, y)
    xs, ys = pts[:, 0].tolist(), pts[:, 1].tolist()

    def half(idx_iter):
        out: list[int] = []
        for i in idx_iter:
            while len(out) >= 2:
                j, k = out[-2], out[-1]
                if ((xs[k] - xs[j]) * (ys[i] - ys[j])
                        - (ys[k] - ys[j]) * (xs[i] - xs[j])) <= 0:
                    out.pop()
                else:
                    break
            out.append(i)
        return out

    n = len(pts)
    lower = half(range(n))
    upper = half(range(n - 1, -1, -1))
    return pts[lower[:-1] + upper[:-1]]


def min_area_rect(points: np.ndarray) -> np.ndarray:
    """Minimum-area enclosing rectangle via rotating calipers over hull
    edges — the cv2.minAreaRect + boxPoints pair. Returns 4 corners,
    clockwise in image coordinates (y down), rolled so the corner with
    the smallest x+y comes first (the reference's alignment step,
    surya/detection/heatmap.py:96-97)."""
    hull = convex_hull(points)
    if len(hull) == 0:
        return np.zeros((4, 2))
    if len(hull) == 1:
        return np.repeat(hull, 4, axis=0)
    if len(hull) == 2:
        p, q = hull
        return np.array([p, q, q, p], dtype=np.float64)
    edges = np.diff(np.vstack([hull, hull[:1]]), axis=0)
    angles = np.unique(np.mod(np.arctan2(edges[:, 1], edges[:, 0]),
                              np.pi / 2))
    best = None
    for th in angles:
        c, s = math.cos(th), math.sin(th)
        rot = np.array([[c, s], [-s, c]])
        r = hull @ rot.T
        mn, mx = r.min(axis=0), r.max(axis=0)
        area = (mx[0] - mn[0]) * (mx[1] - mn[1])
        if best is None or area < best[0]:
            corners_r = np.array([[mn[0], mn[1]], [mx[0], mn[1]],
                                  [mx[0], mx[1]], [mn[0], mx[1]]])
            best = (area, corners_r @ rot)
    box = best[1]
    # enforce clockwise in image coords (shoelace > 0 with y down = CW)
    x, y = box[:, 0], box[:, 1]
    if (np.dot(x, np.roll(y, -1)) - np.dot(np.roll(x, -1), y)) < 0:
        box = box[::-1]
    start = int(box.sum(axis=1).argmin())
    return np.roll(box, -start, axis=0)


# ----------------------------------------------------- heatmap -> boxes

# a heatmap component of fewer pixels is noise, not a line
# (ref surya/detection/heatmap.py:44-50)
MIN_COMPONENT_SIZE = 10


def detect_boxes_from_heatmap(linemap: np.ndarray, text_threshold: float,
                              low_text: float
                              ) -> tuple[list[np.ndarray], list[float]]:
    """The CRAFT-style polygonization the reference's detection slot runs
    after the model (surya/detection/heatmap.py:27-107): dynamic
    thresholds → binarize → 4-connected components → per component: size
    filter, peak-heat gate, dilate by 1+int(sqrt(min(w,h))), min-area
    rect, near-square boxes snapped axis-aligned, confidences normalized
    by the page max."""
    linemap = np.asarray(linemap, dtype=np.float64)
    img_h, img_w = linemap.shape
    text_threshold, low_text = dynamic_thresholds(
        linemap, text_threshold, low_text)
    n, labels = connected_components(linemap > low_text, connectivity=4)
    stats = component_stats(labels, n)
    det: list[np.ndarray] = []
    confs: list[float] = []
    max_conf = 0.0
    for k in range(1, n + 1):
        x, y, w, h, size = stats[k - 1]
        if size < MIN_COMPONENT_SIZE:
            continue
        niter = int(math.sqrt(min(w, h)))
        buffer = 1
        sx, sy = max(0, x - niter - buffer), max(0, y - niter - buffer)
        ex = min(img_w, x + w + niter + buffer)
        ey = min(img_h, y + h + niter + buffer)
        window = labels[sy:ey, sx:ex] == k
        line_max = float(linemap[sy:ey, sx:ex][window].max())
        if line_max < text_threshold:
            continue
        grown = binary_dilate(window, buffer + niter)
        ys, xs = np.nonzero(grown)
        pts = np.column_stack((xs + sx, ys + sy)).astype(np.float64)
        box = min_area_rect(pts)
        bw = float(np.linalg.norm(box[0] - box[1]))
        bh = float(np.linalg.norm(box[1] - box[2]))
        ratio = max(bw, bh) / (min(bw, bh) + 1e-5)
        if abs(1 - ratio) <= 0.1:
            left, right = pts[:, 0].min(), pts[:, 0].max()
            top, bottom = pts[:, 1].min(), pts[:, 1].max()
            box = np.array([[left, top], [right, top],
                            [right, bottom], [left, bottom]])
        max_conf = max(max_conf, line_max)
        det.append(box)
        confs.append(line_max)
    if max_conf > 0:
        confs = [c / max_conf for c in confs]
    return det, confs


# ----------------------------------------------------------- resampling


def bilinear_resize(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Bilinear resize with half-pixel centers (cv2 INTER_LINEAR
    convention) — the logit/heatmap resize between model resolution and
    page resolution. Works on (H,W) and (H,W,C)."""
    img = np.asarray(img, dtype=np.float64)
    h, w = img.shape[:2]
    if (out_h, out_w) == (h, w):
        return img.copy()
    ys = (np.arange(out_h) + 0.5) * (h / out_h) - 0.5
    xs = (np.arange(out_w) + 0.5) * (w / out_w) - 0.5
    y0 = np.clip(np.floor(ys).astype(int), 0, h - 1)
    x0 = np.clip(np.floor(xs).astype(int), 0, w - 1)
    y1 = np.clip(y0 + 1, 0, h - 1)
    x1 = np.clip(x0 + 1, 0, w - 1)
    wy = np.clip(ys - y0, 0.0, 1.0)
    wx = np.clip(xs - x0, 0.0, 1.0)
    if img.ndim == 3:
        wy_ = wy[:, None, None]
        wx_ = wx[None, :, None]
    else:
        wy_ = wy[:, None]
        wx_ = wx[None, :]
    top = img[y0][:, x0] * (1 - wx_) + img[y0][:, x1] * wx_
    bot = img[y1][:, x0] * (1 - wx_) + img[y1][:, x1] * wx_
    return top * (1 - wy_) + bot * wy_


def _resample_axis(img: np.ndarray, out_n: int, axis: int,
                   kernel, support: int) -> np.ndarray:
    """Separable 1-D resample along `axis` with half-pixel centers and
    replicated borders (the cv2.resize sampling convention). `kernel` is
    an even function of tap distance; weights are normalized per output
    sample, matching cv2's normalized interpolation tables."""
    in_n = img.shape[axis]
    scale = in_n / out_n
    centers = (np.arange(out_n, dtype=np.float64) + 0.5) * scale - 0.5
    left = np.floor(centers).astype(np.int64) - (support - 1)
    offs = np.arange(2 * support)
    idx = left[:, None] + offs[None, :]            # (out_n, taps)
    w = kernel(idx - centers[:, None])
    w /= w.sum(axis=1, keepdims=True)
    idx = np.clip(idx, 0, in_n - 1)
    moved = np.moveaxis(np.asarray(img, dtype=np.float64), axis, 0)
    out = np.einsum("ot,ot...->o...", w, moved[idx])
    return np.moveaxis(out, 0, axis)


# Keys cubic convolution constant of cv2 INTER_CUBIC
CUBIC_A = -0.75


def _cubic_kernel(x: np.ndarray) -> np.ndarray:
    """Keys cubic convolution kernel with A=CUBIC_A — cv2 INTER_CUBIC's
    constant (exactly reproduces linear functions at any phase)."""
    A = CUBIC_A
    ax = np.abs(x)
    return np.where(
        ax <= 1.0,
        (A + 2.0) * ax ** 3 - (A + 3.0) * ax ** 2 + 1.0,
        np.where(
            ax < 2.0,
            A * ax ** 3 - 5.0 * A * ax ** 2 + 8.0 * A * ax - 4.0 * A,
            0.0,
        ),
    )


def _lanczos4_kernel(x: np.ndarray) -> np.ndarray:
    """Lanczos windowed sinc, a=4 — cv2 INTER_LANCZOS4."""
    ax = np.abs(np.asarray(x, dtype=np.float64))
    out = np.sinc(ax) * np.sinc(ax / 4.0)
    return np.where(ax < 4.0, out, 0.0)


def cubic_resize(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Bicubic resize (Keys A=-0.75, half-pixel centers, replicate
    border) — cv2.resize INTER_CUBIC, the reference's tiling resize
    (ref surya/common/surya/processor/__init__.py:200)."""
    out = _resample_axis(img, out_h, 0, _cubic_kernel, 2)
    return _resample_axis(out, out_w, 1, _cubic_kernel, 2)


def lanczos_resize(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Lanczos-4 resize (half-pixel centers, replicate border) —
    cv2.resize INTER_LANCZOS4, the reference's scale_to_fit resize
    (ref surya/common/surya/processor/__init__.py:176-177)."""
    out = _resample_axis(img, out_h, 0, _lanczos4_kernel, 4)
    return _resample_axis(out, out_w, 1, _lanczos4_kernel, 4)


def double_resize(img: np.ndarray) -> np.ndarray:
    """2x upsample — the highres detection path's double-resolution
    render analog (ref scripts/config.py highres_dpi = 2x dpi)."""
    h, w = img.shape[:2]
    return bilinear_resize(img, h * 2, w * 2)


# scale_to_fit_dims grows an image below this (h, w) pixel budget
# (ref surya/common/surya/processor/__init__.py:140-176)
MIN_IMAGE_SIZE = (168, 168)


def scale_to_fit_dims(height: int, width: int,
                      max_size: tuple[int, int]) -> tuple[int, int]:
    """Target (h, w) under the reference's pixel-budget rule: shrink by
    sqrt(max_pixels/current) with floor when over budget, grow with ceil
    when under the minimum, identity otherwise.
    Ref: surya/common/surya/processor/__init__.py:140-176."""
    if width == 0 or height == 0:
        return height, width
    cur = width * height
    mx = max_size[0] * max_size[1]
    mn = MIN_IMAGE_SIZE[0] * MIN_IMAGE_SIZE[1]
    if cur > mx:
        f = (mx / cur) ** 0.5
        return math.floor(height * f), math.floor(width * f)
    if cur < mn:
        f = (mn / cur) ** 0.5
        return math.ceil(height * f), math.ceil(width * f)
    return height, width


# pixel values are rescaled from 0..255 to 0..1 before standardizing
RESCALE_FACTOR = 1.0 / 255.0


def normalize_image(img: np.ndarray, mean, std) -> np.ndarray:
    """rescale → standardize, the processor's _image_processor
    (ref surya/common/surya/processor/__init__.py:178-181)."""
    out = np.asarray(img, dtype=np.float64) * RESCALE_FACTOR
    return (out - np.asarray(mean)) / np.asarray(std)


def patch_tile(img: np.ndarray, patch_size: int,
               merge_size: int) -> tuple[np.ndarray, tuple[int, int, int]]:
    """Resize to the nearest multiple of patch_size*merge_size (ceil) and
    cut into non-overlapping patch_size tiles: returns
    (tiles[C*p*p, grid_h*grid_w] layout as (N, C, p, p), (C, grid_h,
    grid_w)). Ref: _process_and_tile
    (surya/common/surya/processor/__init__.py:184-230)."""
    factor = patch_size * merge_size
    h, w = img.shape[:2]
    hb = math.ceil(h / factor) * factor
    wb = math.ceil(w / factor) * factor
    if (hb, wb) != (h, w):
        # reference resizes to the tile grid with INTER_CUBIC
        # (processor/__init__.py:200)
        img = cubic_resize(img, hb, wb)
    if img.ndim == 2:
        img = img[:, :, None]
    c = img.shape[2]
    gh, gw = hb // patch_size, wb // patch_size
    tiles = (
        img.transpose(2, 0, 1)
        .reshape(c, gh, patch_size, gw, patch_size)
        .transpose(1, 3, 0, 2, 4)
        .reshape(gh * gw, c, patch_size, patch_size)
    )
    return tiles, (c, gh, gw)


# ---------------------------------------------------- polygon raster


def fill_poly_mask(h: int, w: int, polygon) -> np.ndarray:
    """Boolean (h, w) mask of pixels whose integer coordinate lies inside
    the simple polygon (even-odd rule, vectorized crossing test over the
    pixel grid, one pass per edge) — the pure-numpy stand-in for
    cv2.fillPoly (ref surya/input/processing.py:93-97). cv2 additionally
    paints boundary pixels; this rasterization differs only in a ≤1 px
    boundary band, immaterial to crop masking — a deployment wanting
    cv2-exact rasterization swaps the mask call inside its slot."""
    pts = np.asarray(polygon, dtype=np.float64)
    if pts.ndim != 2 or len(pts) < 3 or h <= 0 or w <= 0:
        return np.zeros((max(h, 0), max(w, 0)), dtype=bool)
    X, Y = np.meshgrid(np.arange(w, dtype=np.float64),
                       np.arange(h, dtype=np.float64))
    inside = np.zeros((h, w), dtype=bool)
    n = len(pts)
    for i in range(n):
        x1, y1 = pts[i]
        x2, y2 = pts[(i + 1) % n]
        if y1 == y2:
            continue
        crosses = (y1 > Y) != (y2 > Y)
        xint = x1 + (Y - y1) * (x2 - x1) / (y2 - y1)
        inside ^= crosses & (X < xint)
    return inside


# slice_and_pad_poly paints pixels outside the polygon white
# (ref surya/input/processing.py:63-101)
POLY_PAD_VALUE = 255


def slice_and_pad_poly(image: np.ndarray, polygon) -> np.ndarray:
    """Crop the polygon's bbox from the image and set pixels outside the
    polygon to POLY_PAD_VALUE — the reference's slice_and_pad_poly
    (ref surya/input/processing.py:63-101): recognition crops of skewed
    lines must not carry neighbor-line ink in the bbox corners.
    Degenerate inputs (empty crop, <3 corners) return the unmasked crop,
    matching the reference's validation short-circuit."""
    pts = np.asarray(polygon, dtype=np.float64)
    x1 = int(max(0, math.floor(pts[:, 0].min())))
    y1 = int(max(0, math.floor(pts[:, 1].min())))
    x2 = int(min(image.shape[1], math.ceil(pts[:, 0].max())))
    y2 = int(min(image.shape[0], math.ceil(pts[:, 1].max())))
    crop = image[y1:y2, x1:x2].copy()
    ch, cw = crop.shape[:2]
    if ch == 0 or cw == 0 or len(pts) < 3:
        return crop
    mask = fill_poly_mask(ch, cw, pts - np.array([x1, y1], dtype=np.float64))
    crop[~mask] = POLY_PAD_VALUE
    return crop


# ------------------------------------------------------------ edge maps


_SOBEL_X = np.array([[-1, 0, 1], [-2, 0, 2], [-1, 0, 1]], dtype=np.float64)


def _conv3(img: np.ndarray, kernel: np.ndarray) -> np.ndarray:
    """3x3 correlation with reflect-101 border (cv2's default)."""
    p = np.pad(np.asarray(img, dtype=np.float64), 1, mode="reflect")
    out = np.zeros_like(img, dtype=np.float64)
    for dy in range(3):
        for dx in range(3):
            kv = kernel[dy, dx]
            if kv:
                out += kv * p[dy:dy + img.shape[0], dx:dx + img.shape[1]]
    return out


def sobel(img: np.ndarray, vertical: bool = True) -> np.ndarray:
    """3x3 Sobel derivative; vertical=True = d/dx (responds to vertical
    edges), matching the reference's dx/dy flag use
    (surya/detection/affinity.py:19-30)."""
    k = _SOBEL_X if vertical else _SOBEL_X.T
    return _conv3(img, k)


# vertical_edge_map erodes with a (EDGE_KERNEL_LEN, 1) kernel, then
# dilates with it EDGE_DILATE_ITERATIONS times
# (ref surya/detection/affinity.py:19-41)
EDGE_KERNEL_LEN = 20
EDGE_DILATE_ITERATIONS = 3


def vertical_edge_map(img: np.ndarray) -> np.ndarray:
    """abs-Sobel → scale to 0..255 → (EDGE_KERNEL_LEN,1) erode then
    dilate×3: keeps only edges that persist vertically
    (ref affinity.py:19-41)."""
    s = np.abs(sobel(img, vertical=True))
    mx = s.max()
    scaled = np.zeros_like(s) if mx == 0 else (255 * s / mx)
    scaled = scaled.astype(np.uint8).astype(np.float64)
    return dilate_v(erode_v(scaled, EDGE_KERNEL_LEN), EDGE_KERNEL_LEN,
                    EDGE_DILATE_ITERATIONS)


# canny's hysteresis thresholds on the L1 gradient magnitude
# (ref affinity.py:50)
CANNY_LOW = 150.0
CANNY_HIGH = 200.0


def canny(img: np.ndarray) -> np.ndarray:
    """Gradient-magnitude Canny: Sobel dx/dy → L1 magnitude → 4-direction
    non-max suppression → double threshold → hysteresis via connected
    components (weak pixels survive only in components touching a strong
    pixel). Boolean edge mask out. Ref use: affinity.py:50."""
    gx = sobel(img, vertical=True)
    gy = sobel(img, vertical=False)
    mag = np.abs(gx) + np.abs(gy)  # cv2 uses L1 by default
    ang = np.arctan2(gy, gx)
    # quantize to 0/45/90/135
    q = np.mod(np.round(ang / (np.pi / 4)), 4).astype(int)
    offs = {0: ((0, 1), (0, -1)), 1: ((1, 1), (-1, -1)),
            2: ((1, 0), (-1, 0)), 3: ((1, -1), (-1, 1))}
    h, w = mag.shape
    pad = np.pad(mag, 1, mode="constant")
    keep = np.ones_like(mag, dtype=bool)
    for d, ((dy1, dx1), (dy2, dx2)) in offs.items():
        sel = q == d
        n1 = pad[1 + dy1:1 + dy1 + h, 1 + dx1:1 + dx1 + w]
        n2 = pad[1 + dy2:1 + dy2 + h, 1 + dx2:1 + dx2 + w]
        keep &= ~sel | ((mag >= n1) & (mag >= n2))
    nms = np.where(keep, mag, 0.0)
    strong = nms >= CANNY_HIGH
    weak = nms >= CANNY_LOW
    if not strong.any():
        return np.zeros_like(strong)
    n, labels = connected_components(weak, connectivity=8)
    if n == 0:
        return strong
    strong_labels = np.unique(labels[strong])
    strong_labels = strong_labels[strong_labels > 0]
    lut = np.zeros(n + 1, dtype=bool)
    lut[strong_labels] = True
    return lut[labels]


# extract_axis_segments keeps runs at least this many pixels long
# (ref affinity.py:58)
SEGMENT_MIN_LENGTH = 10


def extract_axis_segments(edges: np.ndarray, vertical: bool = True,
                          max_gap: int = 100) -> list[list[float]]:
    """Near-axis line segments from an edge mask: per column (vertical) or
    row (horizontal), merge edge-pixel runs separated by ≤ max_gap and
    keep those ≥ SEGMENT_MIN_LENGTH. The axis-restricted replacement for
    HoughLinesP + the reference's own angle filter
    (affinity.py:58-96 keeps only near-vertical/-horizontal lines).
    Returns [x1, y1, x2, y2] with the same ordering fix-ups."""
    e = np.asarray(edges) != 0
    if not vertical:
        e = e.T
    segs: list[list[float]] = []
    h, w = e.shape
    for x in range(w):
        col = np.flatnonzero(e[:, x])
        if not len(col):
            continue
        start = prev = int(col[0])
        for yy in col[1:].tolist() + [None]:
            if yy is not None and yy - prev <= max_gap:
                prev = yy
                continue
            if prev - start + 1 >= SEGMENT_MIN_LENGTH:
                segs.append([float(x), float(start), float(x), float(prev)]
                            if vertical else
                            [float(start), float(x), float(prev), float(x)])
            if yy is not None:
                start = prev = yy
    return segs
