"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed by Arrow-batched UDF stages.

The decode kernels themselves are STUBBED (image/audio libraries are not
in this container — a real deployment drops in PIL/ffmpeg bodies), but the
Spark-side plumbing is real and tested: schemas, batch shapes, partition
strategy, and the deterministic fake decoder used by the test suite.
"""

from __future__ import annotations

import json
import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_META = T.StructType([
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("media_type", T.StringType(), False),  # image|audio|video
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("n_bytes", T.LongType(), False),
    T.StructField("format", T.StringType(), True),
])

FEATURES = T.StructType([
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("feature", T.ArrayType(T.FloatType()), False),
])


def real_image_decode(blob: bytes) -> dict:
    """Deployment slot: decode real image bytes to metadata (PIL) — same
    return contract as _fake_decode, so it plugs straight into
    media_metadata(decoder=real_image_decode). Guarded: runs on a box
    with Pillow (test_real_slot_bodies skips-if-absent)."""
    try:  # pragma: no cover - library absent in this container
        from PIL import Image
    except ImportError as e:
        raise NotImplementedError(
            "image decode requires PIL — not present in this container; "
            "inject via media_metadata(decoder=...)"
        ) from e

    import io  # pragma: no cover - below runs only with the lib

    with Image.open(io.BytesIO(blob)) as im:
        return {
            "width": int(im.width),
            "height": int(im.height),
            "format": (im.format or "unknown").lower(),
        }


def real_image_pixels(blob: bytes):
    """Deployment slot: image bytes → RGB uint8 ndarray, the reference's
    Image.open(...).convert("RGB") load
    (ref surya/input/processing.py:30-33) — the array the imageops
    kernels (lanczos_resize, patch_tile, slice_and_pad_poly) consume."""
    try:  # pragma: no cover - library absent in this container
        from PIL import Image
    except ImportError as e:
        raise NotImplementedError(
            "image decode requires PIL — not present in this container"
        ) from e

    import io  # pragma: no cover - below runs only with the lib

    import numpy as np

    with Image.open(io.BytesIO(blob)) as im:
        return np.asarray(im.convert("RGB"), dtype=np.uint8)


def _fake_decode(blob: bytes) -> dict:
    """Deterministic fake decoder for the SPG1 fixture blobs."""
    if blob[:4] == b"SPG1":
        d = json.loads(zlib.decompress(blob[4:]))
        return {"width": d["w"], "height": d["h"], "format": "spg1"}
    return {"width": None, "height": None, "format": "unknown"}


def media_metadata(media: DataFrame, decoder=_fake_decode) -> DataFrame:
    """(media_ref, img_bytes) image blobs → typed metadata rows. One
    Arrow batch of blobs per UDF call; blobs never shuffle (derived
    columns are tiny)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, blob in zip(pdf["media_ref"], pdf["img_bytes"]):
                blob = bytes(blob)
                meta = decoder(blob)
                rows.append({
                    "media_ref": ref, "media_type": "image",
                    "width": meta["width"], "height": meta["height"],
                    "n_bytes": len(blob), "format": meta["format"],
                })
            yield pd.DataFrame(rows)

    return media.select("media_ref", "img_bytes").mapInPandas(
        run, schema=MEDIA_META)


def _fake_features(blob: bytes, dim: int) -> list[float]:
    """Deterministic fake feature extractor: byte-histogram folded to dim.
    Stands in for a CNN/CLIP embedding; the batch shape and schema are what
    a real model slot would use."""
    import numpy as np

    arr = np.frombuffer(blob, dtype=np.uint8)
    hist = np.bincount(arr % dim, minlength=dim).astype("float32")
    n = float(hist.sum()) or 1.0
    return (hist / n).tolist()


def media_features(media: DataFrame, dim: int = 16,
                   extractor=_fake_features) -> DataFrame:
    """(media_ref, img_bytes) blobs → fixed-dim feature vector
    (Arrow-batched)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                {"media_ref": ref, "feature": extractor(bytes(blob), dim)}
                for ref, blob in zip(pdf["media_ref"], pdf["img_bytes"])
            ]
            yield pd.DataFrame(rows)

    return media.select("media_ref", "img_bytes").mapInPandas(
        run, schema=FEATURES)

