"""Pure-numpy §2.7 pixel kernels validated against independent
brute-force implementations and closed forms — no Spark session needed."""

from __future__ import annotations

import math

import numpy as np
import pytest

from surya_spark.functions import imageops as I


def _flood_labels(mask, connectivity):
    """Independent brute-force CC labeling (BFS flood fill)."""
    h, w = mask.shape
    labels = np.zeros((h, w), dtype=int)
    if connectivity == 4:
        nbrs = [(-1, 0), (1, 0), (0, -1), (0, 1)]
    else:
        nbrs = [(dy, dx) for dy in (-1, 0, 1) for dx in (-1, 0, 1)
                if (dy, dx) != (0, 0)]
    nxt = 0
    for sy in range(h):
        for sx in range(w):
            if not mask[sy, sx] or labels[sy, sx]:
                continue
            nxt += 1
            stack = [(sy, sx)]
            labels[sy, sx] = nxt
            while stack:
                y, x = stack.pop()
                for dy, dx in nbrs:
                    ny, nx_ = y + dy, x + dx
                    if (0 <= ny < h and 0 <= nx_ < w and mask[ny, nx_]
                            and not labels[ny, nx_]):
                        labels[ny, nx_] = nxt
                        stack.append((ny, nx_))
    return nxt, labels


@pytest.mark.parametrize("connectivity", [4, 8])
@pytest.mark.parametrize("seed", [0, 1, 2])
def test_connected_components_vs_flood_fill(connectivity, seed):
    rng = np.random.RandomState(seed)
    mask = rng.rand(40, 55) < 0.35
    n, labels = I.connected_components(mask, connectivity)
    n_ref, ref = _flood_labels(mask, connectivity)
    assert n == n_ref
    # same partition: label images equal up to renaming
    pairs = set(zip(labels.ravel().tolist(), ref.ravel().tolist()))
    assert len(pairs) == n + 1  # bijection incl. background
    assert {a == 0 for a, b in pairs} == {b == 0 for a, b in pairs}


def test_component_stats_brute_force():
    rng = np.random.RandomState(7)
    mask = rng.rand(30, 30) < 0.3
    n, labels = I.connected_components(mask, 4)
    stats = I.component_stats(labels, n)
    for k in range(1, n + 1):
        ys, xs = np.nonzero(labels == k)
        assert tuple(stats[k - 1]) == (
            xs.min(), ys.min(), xs.max() - xs.min() + 1,
            ys.max() - ys.min() + 1, len(xs))


def test_min_area_rect_rotated_and_axis():
    # axis-aligned points -> their bbox, clockwise from top-left
    pts = np.array([[2, 3], [9, 3], [9, 7], [2, 7], [5, 5]], dtype=float)
    box = I.min_area_rect(pts)
    assert np.allclose(box, [[2, 3], [9, 3], [9, 7], [2, 7]])
    # 3-4-5 rotated rectangle: corners known, area must be 12 (not the
    # bbox's 5x5=25)
    rect = np.array([[0, 3], [4, 0], [7, 4], [3, 7]], dtype=float)
    box = I.min_area_rect(rect)
    e1 = np.linalg.norm(box[0] - box[1])
    e2 = np.linalg.norm(box[1] - box[2])
    assert abs(e1 * e2 - 25.0) < 1e-9  # 5x5 rotated square encloses it
    # hull of the 4 corners themselves is the min rect
    got = {tuple(np.round(c, 6)) for c in box}
    want = {(0.0, 3.0), (4.0, 0.0), (7.0, 4.0), (3.0, 7.0)}
    assert got == want


def test_binary_dilate_rectangle_closed_form():
    m = np.zeros((20, 20), dtype=bool)
    m[5:9, 6:11] = True
    out = I.binary_dilate(m, 3)  # odd kernel: 1 px each side
    ys, xs = np.nonzero(out)
    assert (ys.min(), ys.max(), xs.min(), xs.max()) == (4, 9, 5, 11)
    out4 = I.binary_dilate(m, 4)  # even kernel: 2 up/left, 1 down/right
    ys, xs = np.nonzero(out4)
    assert (ys.min(), ys.max(), xs.min(), xs.max()) == (3, 9, 4, 11)


def test_dynamic_thresholds_closed_form():
    # 100 px map: 90 at 0.0, 10 at 0.9 -> top-10% mean = 0.9
    m = np.zeros((10, 10))
    m.ravel()[:10] = 0.9
    tt, lt = I.dynamic_thresholds(m, 0.6, 0.3, typical_top10_avg=0.9)
    assert (tt, lt) == (0.6, 0.3)  # scale exactly 1
    tt2, lt2 = I.dynamic_thresholds(m * 0.5, 0.6, 0.3,
                                    typical_top10_avg=0.9)
    s = math.sqrt(0.5)
    assert abs(tt2 - 0.6 * s) < 1e-12 and abs(lt2 - 0.3 * s) < 1e-12


def test_detect_boxes_from_heatmap_two_blobs():
    m = np.zeros((60, 80))
    m[10:16, 10:30] = 0.8   # blob A: 6x20
    m[40:46, 20:50] = 0.6   # blob B: 6x30
    boxes, confs = I.detect_boxes_from_heatmap(m, 0.5, 0.3)
    assert len(boxes) == 2
    # niter = int(sqrt(6)) = 2, ksize = 3 -> dilate 1 px each side
    a = boxes[0]
    assert np.allclose(a, [[9, 9], [30, 9], [30, 16], [9, 16]])
    b = boxes[1]
    assert np.allclose(b, [[19, 39], [50, 39], [50, 46], [19, 46]])
    assert confs == [1.0, pytest.approx(0.75)]  # normalized by page max


def test_bilinear_resize_exact_on_ramp():
    # bilinear interpolation reproduces affine functions exactly away
    # from clamped borders
    h, w = 20, 30
    yy, xx = np.mgrid[0:h, 0:w]
    img = 2.0 * xx + 3.0 * yy + 1.0
    out = I.bilinear_resize(img, 40, 60)
    yo = (np.arange(40) + 0.5) * 0.5 - 0.5
    xo = (np.arange(60) + 0.5) * 0.5 - 0.5
    expect = 2.0 * xo[None, :] + 3.0 * yo[:, None] + 1.0
    assert np.allclose(out[1:-1, 1:-1], expect[1:-1, 1:-1])
    assert I.double_resize(img).shape == (40, 60)


def test_sobel_and_vertical_edge_map():
    img = np.zeros((40, 40))
    img[:, 20:] = 1.0  # vertical step at x=20
    s = I.sobel(img, vertical=True)
    assert abs(s[:, 19:21]).min() == 4.0  # full Sobel response at edge
    assert abs(s[:, :18]).max() == 0.0
    v = I.vertical_edge_map(img)
    assert v[:, 19:21].max() == 255.0


def test_canny_vertical_edge():
    img = np.zeros((30, 30))
    img[:, 15:] = 255.0
    e = I.canny(img)
    assert e[:, 14:16].any()
    assert not e[:, :12].any() and not e[:, 19:].any()


def test_extract_axis_segments_gap_merge():
    e = np.zeros((50, 10), dtype=bool)
    e[5:15, 3] = True
    e[18:30, 3] = True  # 3-px gap -> merged when max_gap >= 3
    e[2:4, 7] = True    # too short
    segs = I.extract_axis_segments(e, vertical=True, max_gap=5)
    assert segs == [[3.0, 5.0, 3.0, 29.0]]
    segs2 = I.extract_axis_segments(e, vertical=True, max_gap=2)
    assert segs2 == [[3.0, 5.0, 3.0, 14.0], [3.0, 18.0, 3.0, 29.0]]
    hs = I.extract_axis_segments(e.T, vertical=False, max_gap=5)
    assert hs == [[5.0, 3.0, 29.0, 3.0]]


def test_scale_to_fit_and_normalize_and_tile():
    # over budget: floor(sqrt) shrink — ref formula
    assert I.scale_to_fit_dims(1000, 1000, (500, 500)) == (500, 500)
    h, w = I.scale_to_fit_dims(2000, 1000, (500, 500))
    f = (250000 / 2000000) ** 0.5
    assert (h, w) == (math.floor(2000 * f), math.floor(1000 * f))
    # under minimum: ceil growth
    h, w = I.scale_to_fit_dims(100, 100, (500, 500))
    f = (168 * 168 / 10000) ** 0.5
    assert (h, w) == (math.ceil(100 * f), math.ceil(100 * f))
    # identity inside the band
    assert I.scale_to_fit_dims(200, 200, (500, 500)) == (200, 200)

    img = np.full((4, 4, 3), 255.0)
    norm = I.normalize_image(img, mean=[0.5, 0.5, 0.5], std=[0.5, 0.5, 0.5])
    assert np.allclose(norm, 1.0)

    img = np.arange(28 * 28 * 3, dtype=float).reshape(28, 28, 3)
    tiles, (c, gh, gw) = I.patch_tile(img, patch_size=14, merge_size=2)
    assert (c, gh, gw) == (3, 2, 2) and tiles.shape == (4, 3, 14, 14)
    # content preserved: tile (0,0) equals the top-left patch
    assert np.allclose(tiles[0, 0], img[:14, :14, 0])


def test_heatmap_detect_slot_span_parity(spark):
    """End-to-end: extraction driven by the CRAFT heatmap polygonization
    (paint truth lines → threshold → CC → dilate → min-area rect) must
    reproduce the same span text sequence as the direct box surrogate —
    the pixel kernels are load-bearing in the flagship path, and the
    relational stages absorb the CC dilation exactly like real CRAFT
    output."""
    from surya_spark import datagen, pipeline
    from surya_spark.operators import slots

    docs = datagen.gen_documents(spark, 6, partitions=2)
    blobs = datagen.gen_page_blobs(spark, 6, partitions=2)

    def spans(detect_slot):
        out = pipeline.extract(docs, blobs, with_tables=True,
                               detect_slot=detect_slot)
        return {
            r["doc_id"]: [(s["kind"], s["text"]) for s in r["spans"]]
            for r in out.collect()
        }

    via_heatmap = spans(slots.surrogate_detect_heatmap)
    via_boxes = spans(slots.surrogate_detect)
    assert via_heatmap == via_boxes


def test_heatmap_skewed_lines_span_parity(spark):
    """Skewed-line fixture through the full pipeline: sheared heatmap
    paint → rotated min-area-rect quads → fused post-process (cornerwise
    expand) → crops → recognition must still produce the exact span
    sequence, and the quads must survive to the line table un-flattened."""
    from surya_spark import datagen, pipeline
    from surya_spark.operators import detection, slots

    # nested so cloudpickle ships it by VALUE (test modules aren't
    # importable on executors)
    def _skewed_heatmap_slot(media_ref, width, height, img_bytes):
        """Paint each truth line ROTATED ~2.5° about its center so
        min-area-rect recovers rotated quads — the real-CRAFT shape for
        slightly rotated scans. (A row-sheared wide strip keeps an
        axis-aligned min-area rect; genuine rotation does not.)"""
        import numpy as np

        from surya_spark.datagen import decode_page
        from surya_spark.functions import imageops as I

        desc = decode_page(img_bytes)
        w, h = int(width), int(height)
        th = np.radians(2.5)
        c, s = np.cos(th), np.sin(th)
        heat = np.zeros((h, w))
        for i, ln in enumerate(desc["lines"]):
            x1, y1, x2, y2 = (float(v) for v in ln["bbox"])
            cx, cy = (x1 + x2) / 2, (y1 + y2) / 2
            pad = int((x2 - x1) * s) + 3
            wy0 = max(0, int(y1) - pad)
            wy1 = min(h, int(y2) + pad)
            wx0 = max(0, int(x1) - pad)
            wx1 = min(w, int(x2) + pad)
            if wy1 <= wy0 or wx1 <= wx0:
                continue
            Y, X = np.mgrid[wy0:wy1, wx0:wx1]
            xr = (X - cx) * c + (Y - cy) * s + cx
            yr = -(X - cx) * s + (Y - cy) * c + cy
            m = (xr >= x1) & (xr < x2) & (yr >= y1) & (yr < y2)
            heat[wy0:wy1, wx0:wx1][m] = 0.7 + 0.05 * (i % 5)
        boxes, confs = I.detect_boxes_from_heatmap(heat, 0.6, 0.3)
        return [
            {"polygon": [[float(x), float(y)] for x, y in box],
             "confidence": float(c)}
            for box, c in zip(boxes, confs)
        ]

    docs = datagen.gen_documents(spark, 6, partitions=2)
    blobs = datagen.gen_page_blobs(spark, 6, partitions=2)

    def spans(detect_slot):
        out = pipeline.extract(docs, blobs, with_tables=True,
                               detect_slot=detect_slot)
        return {
            r["doc_id"]: [(s["kind"], s["text"]) for s in r["spans"]]
            for r in out.collect()
        }

    assert spans(_skewed_heatmap_slot) == spans(slots.surrogate_detect)

    pages = pipeline.pages_for(docs, blobs)
    lines = detection.detection_stage(pages, slot=_skewed_heatmap_slot)
    polys = [r["polygon"] for r in lines.collect()]
    assert polys
    skewed = [p for p in polys if p[0][0] != p[3][0] or p[1][0] != p[2][0]]
    assert skewed, "sheared paint should yield non-axis-aligned quads"


def test_fill_poly_mask_matches_bruteforce():
    """Vectorized even-odd raster == classic per-pixel crossing-number
    test, on a convex skewed quad and a concave polygon."""
    import numpy as np

    from surya_spark.functions import imageops as I

    def brute(h, w, poly):
        n = len(poly)
        out = np.zeros((h, w), dtype=bool)
        for y in range(h):
            for x in range(w):
                cross = 0
                for i in range(n):
                    x1, y1 = poly[i]
                    x2, y2 = poly[(i + 1) % n]
                    if (y1 > y) != (y2 > y):
                        xi = x1 + (y - y1) * (x2 - x1) / (y2 - y1)
                        if x < xi:
                            cross += 1
                out[y, x] = cross % 2 == 1
        return out

    quad = [[3.0, 2.0], [17.0, 5.0], [15.0, 14.0], [1.0, 11.0]]
    concave = [[2.0, 2.0], [18.0, 2.0], [10.0, 8.0], [18.0, 16.0],
               [2.0, 16.0]]
    for poly in (quad, concave):
        got = I.fill_poly_mask(18, 20, poly)
        want = brute(18, 20, poly)
        assert (got == want).all()
        assert want.any() and not want.all()
    # degenerate inputs
    assert I.fill_poly_mask(5, 5, [[1, 1], [2, 2]]).sum() == 0
    assert I.fill_poly_mask(0, 5, quad).shape == (0, 5)


def test_slice_and_pad_poly_masks_outside():
    import numpy as np

    from surya_spark.functions import imageops as I

    img = np.arange(30 * 40, dtype=np.int32).reshape(30, 40)
    quad = [[5.0, 4.0], [35.0, 8.0], [33.0, 24.0], [3.0, 20.0]]
    crop = I.slice_and_pad_poly(img, quad)
    assert crop.shape == (20, 32)  # bbox [3,4] .. [35,24]
    mask = I.fill_poly_mask(20, 32, np.asarray(quad) - [3.0, 4.0])
    assert (crop[~mask] == 255).all()
    assert (crop[mask] == img[4:24, 3:35][mask]).all()
    assert mask.any()
    # degenerate polygon returns the raw crop
    line = I.slice_and_pad_poly(img, [[2.0, 2.0], [6.0, 2.0]])
    assert (line == img[2:2, 2:6]).size == 0 or line.size >= 0


def test_encode_crop_polygon_masks_neighbor_lines():
    """The fillPoly-analog visibility rule: a neighbor line inside the
    crop BBOX but outside the skewed QUAD is kept by the bbox crop and
    dropped by the polygon-masked crop."""
    from surya_spark.operators import slots

    desc = {"lines": [
        {"bbox": [10.0, 10.0, 110.0, 30.0], "text": "target"},
        {"bbox": [20.0, 32.0, 60.0, 40.0], "text": "neighbor"},
    ]}
    bbox = [10.0, 10.0, 110.0, 40.0]
    quad = [[10.0, 10.0], [110.0, 20.0], [110.0, 40.0], [10.0, 30.0]]

    by_bbox = slots.decode_crop(slots.encode_crop(desc, bbox))
    by_poly = slots.decode_crop(slots.encode_crop(desc, bbox, quad))
    assert {l["text"] for l in by_bbox["lines"]} == {"target", "neighbor"}
    assert {l["text"] for l in by_poly["lines"]} == {"target"}

    # an axis-aligned polygon must take the EXACT bbox path (bit-equal)
    rect = [[10.0, 10.0], [110.0, 10.0], [110.0, 40.0], [10.0, 40.0]]
    assert slots.encode_crop(desc, bbox, rect) == slots.encode_crop(desc, bbox)


def test_cubic_and_lanczos_resize_closed_forms():
    import numpy as np

    from surya_spark.functions import imageops as I

    rng = np.random.RandomState(11)
    img = rng.rand(9, 13)

    # same-size = exact copy for cubic (polynomial kernel is exactly
    # 0/1 at integer distances); lanczos is identity to float precision
    # (np.sinc(k) ~ 1e-17, not exactly 0)
    assert np.array_equal(I.cubic_resize(img, 9, 13), img)
    assert np.allclose(I.lanczos_resize(img, 9, 13), img, atol=1e-12)

    # constant image stays constant under any scale (normalized weights)
    c = np.full((7, 5), 3.25)
    for fn in (I.cubic_resize, I.lanczos_resize):
        assert np.allclose(fn(c, 17, 11), 3.25)
        assert np.allclose(fn(c, 3, 2), 3.25)

    # Catmull-Rom (A=-0.5) is the 3rd-order member of the Keys family:
    # it reproduces affine ramps exactly away from borders. (cv2's
    # A=-0.75 deliberately does not — its phase-0.75 first moment is
    # -3/64 — so the production kernel is validated against the direct
    # convolution below, not a ramp.)
    def cr(x):  # _cubic_kernel's formula at A=-0.5
        ax, A = np.abs(x), -0.5
        return np.where(
            ax <= 1.0, (A + 2.0) * ax ** 3 - (A + 3.0) * ax ** 2 + 1.0,
            np.where(ax < 2.0, A * ax ** 3 - 5.0 * A * ax ** 2
                     + 8.0 * A * ax - 4.0 * A, 0.0))

    yy, xx = np.mgrid[0:20, 0:30].astype(float)
    ramp = 2.0 * xx + 3.0 * yy + 1.0
    out = I._resample_axis(
        I._resample_axis(ramp, 40, 0, cr, 2), 60, 1, cr, 2)
    yo = (np.arange(40) + 0.5) * 0.5 - 0.5
    xo = (np.arange(60) + 0.5) * 0.5 - 0.5
    expect = 2.0 * xo[None, :] + 3.0 * yo[:, None] + 1.0
    assert np.allclose(out[4:-4, 4:-4], expect[4:-4, 4:-4])


def test_resize_matches_direct_convolution():
    """Both filters == an independent per-pixel direct evaluation of the
    cv2 sampling convention (half-pixel centers, replicate border,
    normalized weights)."""
    import numpy as np

    from surya_spark.functions import imageops as I

    def kernel_cubic(x, A=-0.75):
        x = abs(x)
        if x <= 1:
            return (A + 2) * x**3 - (A + 3) * x**2 + 1
        if x < 2:
            return A * x**3 - 5 * A * x**2 + 8 * A * x - 4 * A
        return 0.0

    def kernel_lanczos(x):
        if abs(x) >= 4:
            return 0.0
        return float(np.sinc(x) * np.sinc(x / 4.0))

    def direct(img, oh, ow, kern, support):
        ih, iw = img.shape
        out = np.zeros((oh, ow))
        for oy in range(oh):
            cy = (oy + 0.5) * ih / oh - 0.5
            for ox in range(ow):
                cx = (ox + 0.5) * iw / ow - 0.5
                acc = wsum = 0.0
                for ty in range(int(np.floor(cy)) - support + 1,
                                int(np.floor(cy)) + support + 1):
                    for tx in range(int(np.floor(cx)) - support + 1,
                                    int(np.floor(cx)) + support + 1):
                        w = kern(ty - cy) * kern(tx - cx)
                        acc += w * img[min(max(ty, 0), ih - 1),
                                       min(max(tx, 0), iw - 1)]
                        wsum += w
                out[oy, ox] = acc / wsum
        return out

    rng = np.random.RandomState(3)
    img = rng.rand(8, 10)
    for oh, ow in ((13, 17), (5, 6)):
        got = I.cubic_resize(img, oh, ow)
        want = direct(img, oh, ow, kernel_cubic, 2)
        assert np.allclose(got, want, atol=1e-10), ("cubic", oh, ow)
        got = I.lanczos_resize(img, oh, ow)
        want = direct(img, oh, ow, kernel_lanczos, 4)
        assert np.allclose(got, want, atol=1e-10), ("lanczos", oh, ow)


def test_min_area_rect_properties_random():
    """Property guard for the row-reduced hull path: for random point
    clouds (including >1024-point pixel clouds that trigger the
    reduction), the min-area rect must (a) contain every input point and
    (b) never beat the axis-aligned bbox by containing less, i.e. its
    area is <= bbox area and >= hull area."""
    import numpy as np

    from surya_spark.functions import imageops as I

    def check(pts):
        box = I.min_area_rect(pts)
        # area via shoelace
        x, y = box[:, 0], box[:, 1]
        area = abs(np.dot(x, np.roll(y, -1)) - np.dot(np.roll(x, -1), y)) / 2
        bw = pts[:, 0].max() - pts[:, 0].min()
        bh = pts[:, 1].max() - pts[:, 1].min()
        assert area <= bw * bh + 1e-6
        # containment: every point inside the rect (within eps) — check
        # via the rect's edge half-planes (box is clockwise in image
        # coords, y down, so inside = left-or-on of each directed edge
        # under the standard cross sign with y flipped; use both signs)
        for i in range(4):
            a, b = box[i], box[(i + 1) % 4]
            cr = ((b[0] - a[0]) * (pts[:, 1] - a[1])
                  - (b[1] - a[1]) * (pts[:, 0] - a[0]))
            assert (cr >= -1e-6).all() or (cr <= 1e-6).all(), i

    rng = np.random.RandomState(42)
    for n in (5, 50, 300):
        for _ in range(5):
            check(rng.rand(n, 2) * 100)
    # pixel-cloud sized: rotated dense rectangle (> 1024 points triggers
    # the per-row reduction) — min rect area must be close to the true
    # rotated rect area, far below the bbox area
    th = np.radians(20)
    c, s = np.cos(th), np.sin(th)
    yy, xx = np.mgrid[0:30, 0:120].reshape(2, -1).astype(float)
    pts = np.column_stack([xx * c - yy * s + 200, xx * s + yy * c + 200])
    box = I.min_area_rect(pts)
    e1 = np.linalg.norm(box[0] - box[1])
    e2 = np.linalg.norm(box[1] - box[2])
    true_area = 119 * 29  # extents of the generated grid
    assert abs(e1 * e2 - true_area) / true_area < 0.1
    bw = pts[:, 0].max() - pts[:, 0].min()
    bh = pts[:, 1].max() - pts[:, 1].min()
    assert e1 * e2 < 0.8 * bw * bh  # genuinely rotated, not the bbox
    check(pts)


def test_fill_poly_mask_property_random_quads():
    """Hypothesis-style sweep: random sheared rectangles (always simple
    polygons) — vectorized raster == per-pixel crossing test."""
    import numpy as np

    from surya_spark.functions import imageops as I

    def brute(h, w, poly):
        out = np.zeros((h, w), dtype=bool)
        n = len(poly)
        for y in range(h):
            for x in range(w):
                cross = 0
                for i in range(n):
                    x1, y1 = poly[i]
                    x2, y2 = poly[(i + 1) % n]
                    if (y1 > y) != (y2 > y):
                        xi = x1 + (y - y1) * (x2 - x1) / (y2 - y1)
                        if x < xi:
                            cross += 1
                out[y, x] = cross % 2 == 1
        return out

    rng = np.random.RandomState(9)
    for _ in range(12):
        x0, y0 = rng.randint(0, 6, 2)
        w0, h0 = rng.randint(4, 12, 2)
        sx, sy = rng.randint(-4, 5, 2)
        poly = [[x0 + sx, y0], [x0 + w0 + sx, y0 + sy],
                [x0 + w0, y0 + h0 + sy], [x0, y0 + h0]]
        got = I.fill_poly_mask(20, 22, poly)
        assert (got == brute(20, 22, poly)).all(), poly
