"""Debug segment/polyline PNG renderer (S8).

The reference renders each level's segments/polylines into a scaled
bitmap with a per-level color ramp for eyeballing
(/root/reference/ContourProcessor2.cs:1067-1204). Diagnostic only — no
parity requirement beyond "lines show up where the data says" — so the
rasterizer is a dense-sample line plotter (NumPy), not Bresenham.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, types as T

from .rasters import _encode_png_rgb8

DEBUG_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("filename", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), False),
    ]
)


def _level_color(level: int, lo: int, hi: int) -> np.ndarray:
    f = 0.0 if hi <= lo else (level - lo) / float(hi - lo)
    return np.array([int(255 * f), 64, int(255 * (1 - f))], dtype=np.uint8)


def _draw(img: np.ndarray, xs, ys, color: np.ndarray, scale: float) -> None:
    h, w, _ = img.shape
    for i in range(len(xs) - 1):
        x0, y0, x1, y1 = xs[i] * scale, ys[i] * scale, xs[i + 1] * scale, ys[i + 1] * scale
        n = max(2, int(max(abs(x1 - x0), abs(y1 - y0))) + 1)
        px = np.clip(np.rint(np.linspace(x0, x1, n)).astype(int), 0, w - 1)
        py = np.clip(np.rint(np.linspace(y0, y1, n)).astype(int), 0, h - 1)
        img[h - 1 - py, px] = color  # y up -> image row down


def render_polylines(post: DataFrame, width: int = 512) -> DataFrame:
    """post rows (image_id, level, xs, ys, grid_w, grid_h) -> one debug
    PNG per tile. groupBy tile keeps a render task bounded by one tile."""

    def gen(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        (img_id,) = key
        gw = int(pdf["grid_w"].iloc[0])
        scale = (width - 1) / max(gw - 1, 1)
        img = np.full((width, width, 3), 255, dtype=np.uint8)
        lo, hi = int(pdf["level"].min()), int(pdf["level"].max())
        for _, r in pdf.sort_values(["level", "poly_ord"]).iterrows():
            _draw(img, list(r["xs"]), list(r["ys"]), _level_color(int(r["level"]), lo, hi), scale)
        return pd.DataFrame(
            [(img_id, f"{img_id}_polylines.png", _encode_png_rgb8(img))],
            columns=["image_id", "filename", "payload"],
        )

    return post.groupBy("image_id").applyInPandas(gen, schema=DEBUG_SCHEMA)
