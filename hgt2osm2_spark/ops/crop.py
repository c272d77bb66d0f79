"""Spatial range crop (F1/F2): mask outside a window to NoValue.

Reference semantics (/root/reference/HGTReader.cs:236-273):
 - index crop DiscardExcept(mincol, minrow, maxcol, maxrow): every
   sample outside the inclusive window -> NoValue; stats recomputed
   with the reference's quirk that Maximum is scanned over ALL samples
   (so an all-invalid grid reports Maximum == NoValue) while Minimum
   skips invalid ones;
 - degree crop: window edges clamp to [0, 1] tile-relative, then
   truncate via (int)(f * Columns) / (int)((1-f) * Rows) — note the
   reference multiplies by Columns/Rows, NOT Columns-1/Rows-1.

At table level the same predicate is partition pruning (WHERE tile_id
IN covering tiles) + this in-tile mask; the masked tiles re-encode to
their original fmt so every downstream operator works unchanged.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, types as T

from ..kernels import codecs
from .tiles import TILE_COLS, TILES_SCHEMA, parse_tile_id, row_map


def crop_grid(
    grid: np.ndarray, mincol: int, minrow: int, maxcol: int, maxrow: int
) -> tuple[np.ndarray, dict]:
    """grid rows N->S (row 0 = minrow side = north). Returns the masked
    grid + recomputed stats (HGTReader.cs:236-256)."""
    h, w = grid.shape
    out = grid.copy()
    cols = np.arange(w)
    rows = np.arange(h)
    keep = ((mincol <= cols) & (cols <= maxcol))[None, :] & (
        ((minrow <= rows) & (rows <= maxrow))[:, None]
    )
    out[~keep] = codecs.NOVALUE
    valid = out != codecs.NOVALUE
    stats = {
        "maximum": int(out.max()),  # quirk: scans NoValue too (:248)
        "minimum": int(out[valid].min()) if valid.any() else 32767,
        "not_valid": int((~valid).sum()),
        "kept": int(keep.sum()),
    }
    return out, stats


def degree_window_to_index(
    left: int, bottom: int, w: int, h: int,
    min_lon: float, min_lat: float, max_lon: float, max_lat: float,
) -> tuple[int, int, int, int]:
    """Degree box -> inclusive index window (HGTReader.cs:266-273);
    truncating casts and the *Columns (not Columns-1) scaling kept."""
    lon1 = max(0.0, min(1.0, min_lon - left))
    lon2 = max(0.0, min(1.0, max_lon - left))
    lat1 = max(0.0, min(1.0, min_lat - bottom))
    lat2 = max(0.0, min(1.0, max_lat - bottom))
    return (int(lon1 * w), int((1 - lat2) * h), int(lon2 * w), int((1 - lat1) * h))


CROP_SCHEMA = T.StructType(
    TILES_SCHEMA.fields
    + [
        T.StructField("minimum", T.IntegerType(), False),
        T.StructField("maximum", T.IntegerType(), False),
        T.StructField("not_valid", T.LongType(), False),
        T.StructField("kept", T.LongType(), False),
    ]
)


def crop_tiles(
    tiles: DataFrame,
    min_lon: float,
    min_lat: float,
    max_lon: float,
    max_lat: float,
) -> DataFrame:
    """F2 over the tiles table: degree-box crop per tile, re-encoded to
    the original fmt with a recomputed phash (the input-table row
    invariant keeps holding), plus the recomputed stats columns.

    Tiles fully outside the box become all-NoValue, as in the
    reference; callers that want them gone entirely add the partition
    prune filter first (cheap: image_id encodes the tile corner)."""

    def body(img, data, w, h, fmt, cap):
        w, h = int(w), int(h)
        lat0, lon0, _k = parse_tile_id(img)
        win = degree_window_to_index(lon0, lat0, w, h, min_lon, min_lat, max_lon, max_lat)
        out, stats = crop_grid(codecs.decode(bytes(data), fmt, w, h), *win)
        return (img, codecs.encode(out, fmt), w, h, fmt, cap, codecs.phash64(out),
                stats["minimum"], stats["maximum"], stats["not_valid"], stats["kept"])

    return row_map(tiles, (*TILE_COLS, "caption"), CROP_SCHEMA, body)
