"""Raster sinks S6/S7/S9: ArcInfo ASCII Grid, Geo-PNG + worldfile, TSV.

All three are per-tile formatters over the tiles table, run as one
Arrow-batched ``mapInPandas`` pass (decode + format in the same batch,
never shipping the grid through a shuffle). Each returns a DataFrame
``(image_id, filename, payload)`` — the canonical artifact is the
DataFrame; writing the files out is a thin binary/text sink.

Reference semantics reproduced:

 S6  ArcInfo ASCII Grid (/root/reference/Program.cs:174-232):
     header ``ncols/nrows/xllcorner/yllcorner/cellsize/nodata_value``
     with cellsize = 1/Width, nodata remapped -32768 -> -29999, values
     row-major N->S, every value prefixed by one space, one line per row.
 S7  Geo-PNG + worldfile (/root/reference/Program.cs:242-265,
     HGTReader.cs:303-420): 65536-entry color table built by piecewise
     linear interpolation between (height, color) control points with
     per-channel rounded deltas (GetBetweenColor, HGTReader.cs:337-342;
     .NET Math.Round = banker's rounding = np.rint); pixel lookup
     ``coltab[v + 0x8000]`` (np.take). Worldfile = png name + 'w', six
     lines: 1/W, 0, 0, -1/H, lon, lat+1 (top edge).
 S9  TSV dump (HGTReader.cs:428-439): tab-separated values, one line
     per grid row.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, types as T

from ..kernels import codecs
from ..ops.tiles import parse_tile_id, tile_map

SINK_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("filename", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), False),
    ]
)

NODATA_ARCINFO = -29999

#: default (height, RGB) control points — a public hypsometric ramp.
#: The reference reads its table from the CLI (--GeoColor); only the
#: interpolation rule (K9) is parity-relevant.
DEFAULT_GEOCOLOR: list[tuple[int, tuple[int, int, int]]] = [
    (-100, (0, 97, 71)),
    (0, (16, 122, 47)),
    (200, (232, 215, 125)),
    (800, (161, 67, 0)),
    (2000, (130, 30, 30)),
    (4000, (255, 255, 255)),
]
DUMMY_COLOR = (148, 209, 255)  # out-of-ramp / NoValue


def _fmt_g(v: float) -> str:
    """InvariantCulture double formatting (shortest G15)."""
    s = f"{v:.15g}"
    return s


# ------------------------------------------------------------------ S6

def arcinfo_text(grid: np.ndarray, left: int, bottom: int) -> str:
    h, w = grid.shape
    vals = np.where(grid == codecs.NOVALUE, NODATA_ARCINFO, grid.astype(np.int32))
    head = (
        f"ncols {w}\n"
        f"nrows {h}\n"
        f"xllcorner {_fmt_g(float(left))}\n"
        f"yllcorner {_fmt_g(float(bottom))}\n"
        f"cellsize {_fmt_g(1.0 / w)}\n"
        f"nodata_value {NODATA_ARCINFO}\n"
    )
    # one leading space per value, newline per row (Program.cs:224-228)
    body = "\n".join(" " + " ".join(row) for row in vals.astype(str)) + "\n"
    return head + body


# ------------------------------------------------------------------ S7

def build_coltab(
    geocolor: list[tuple[int, tuple[int, int, int]]] | None = None,
    dummy: tuple[int, int, int] = DUMMY_COLOR,
) -> np.ndarray:
    """(65536, 3) uint8 color table indexed by height+0x8000
    (HGTReader.cs:303-335). Ramp segments lerp with rounded per-channel
    deltas (GetBetweenColor); heights outside the ramp keep ``dummy``."""
    pts = sorted(geocolor or DEFAULT_GEOCOLOR)
    tab = np.tile(np.array(dummy, dtype=np.uint8), (0x10000, 1))
    for (h0, c0), (h1, c1) in zip(pts, pts[1:]):
        i = np.arange(h0, h1)
        f = (i - h0) / float(h1 - h0)
        col = np.empty((len(i), 3), dtype=np.uint8)
        for ch in range(3):
            col[:, ch] = np.uint8(c0[ch] + np.rint((c1[ch] - c0[ch]) * f))
        tab[0x8000 + h0 : 0x8000 + h1] = col
    return tab


def _encode_png_rgb8(img: np.ndarray) -> bytes:
    """RGB8 PNG via the shared codec kernel (codecs.encode_png_rgb8)."""
    return codecs.encode_png_rgb8(img)


def geo_png_payloads(
    grid: np.ndarray, image_id: str, coltab: np.ndarray
) -> list[tuple[str, bytes]]:
    lat, lon, _k = parse_tile_id(image_id)
    h, w = grid.shape
    rgb = np.take(coltab, grid.astype(np.int32) + 0x8000, axis=0)
    name = f"Height_{'N' if lat >= 0 else 'S'}{abs(lat):02d}{'E' if lon >= 0 else 'W'}{abs(lon):03d}.png"
    world = (
        f"{_fmt_g(1.0 / w)}\n0\n0\n{_fmt_g(-1.0 / h)}\n{lon}\n{lat + 1}\n"
    )
    return [(name, _encode_png_rgb8(rgb)), (name + "w", world.encode())]


# ------------------------------------------------------------------ S9

def tsv_text(grid: np.ndarray) -> str:
    return "\n".join("\t".join(row) for row in grid.astype(str)) + "\n"


# ------------------------------------------------------------------ DataFrame layer

def _artifacts(img: str, named: list[tuple[str, bytes]]) -> dict:
    """SINK_SCHEMA columns of one tile's (filename, payload) pairs."""
    return {"image_id": img, "filename": [n for n, _ in named],
            "payload": [p for _, p in named]}


def arcinfo_grid(tiles: DataFrame) -> DataFrame:
    """S6: per-tile ArcInfo ASCII Grid artifacts."""

    def body(img, grid):
        lat, lon, _k = parse_tile_id(img)
        return _artifacts(img, [(f"{img}.asc", arcinfo_text(grid, lon, lat).encode())])

    return tile_map(tiles, SINK_SCHEMA, body)


def geo_png(tiles: DataFrame, geocolor=None) -> DataFrame:
    """S7: per-tile Geo-PNG + worldfile artifacts (2 rows per tile)."""
    coltab = build_coltab(geocolor)
    return tile_map(tiles, SINK_SCHEMA, lambda img, grid: _artifacts(
        img, geo_png_payloads(grid, img, coltab)))


def tsv_dump(tiles: DataFrame) -> DataFrame:
    """S9: per-tile TSV raster dump."""
    return tile_map(tiles, SINK_SCHEMA, lambda img, grid: _artifacts(
        img, [(f"{img}.tsv", tsv_text(grid).encode())]))


def _write_bytes(payload, f) -> None:
    f.write(bytes(payload))


def write_artifacts_distributed(
    df: DataFrame, out_dir: str,
    filename_col: str = "filename", payload_col: str = "payload",
    dump=_write_bytes,
) -> int:
    """Executor-side artifact writer: every task writes its partition's
    (filename, payload) rows straight to shared storage — nothing but a
    scalar count reaches the driver. Files land via write-temp +
    atomic rename, so a retried task simply overwrites with identical
    bytes (artifact content is a deterministic function of its name
    here, as in the reference's per-tile outputs). On a cluster
    ``out_dir`` is the shared filesystem / object-store mount; at
    10^12 tiles this is the only shape that works — a driver-side
    collect of the payloads is a driver OOM. ``dump(payload, f)``
    writes one payload to the open temp file (default: its raw bytes);
    a sink that encodes on the way out passes its own, so the encoded
    bytes never cross the Python boundary (the OSM tiles gzip their XML
    here). Returns the number of files written."""
    import os

    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)

    def write_part(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n = 0
        for pdf in pdfs:
            for name, payload in zip(pdf[filename_col], pdf[payload_col]):
                final = os.path.join(out_dir, str(name))
                tmp = f"{final}.tmp.{os.getpid()}"
                with open(tmp, "wb") as f:
                    dump(payload, f)
                os.replace(tmp, final)
                n += 1
        yield pd.DataFrame({"n": [n]})

    counts = df.select(filename_col, payload_col).mapInPandas(write_part, "n long")
    return int(counts.agg(F.sum("n")).collect()[0][0] or 0)
