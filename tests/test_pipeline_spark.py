"""End-to-end Spark pipeline vs a single-process pure-kernel oracle.

The oracle path below recomputes nodes/ways with plain Python loops
(no Spark) using the same kernels — any divergence means the
distributed plan (shuffles, windows, explodes) broke the semantics.
"""

import numpy as np
import pandas as pd
import pytest

from hgt2osm2_spark.config import ContourOptions, tile_first_id
from hgt2osm2_spark.kernels import codecs, marching, postprocess, stitch
from hgt2osm2_spark.plans.pipeline import run_contour_pipeline
from hgt2osm2_spark.sources.synthetic import make_tile_row, tiles_df

OPT = ContourOptions()


def oracle_tile(row: dict) -> tuple[list, list]:
    """Single-process nodes/ways for one tile (reference flow §3.1)."""
    grid = codecs.decode(row["bytes"], row["fmt"], row["w"], row["h"])
    seg = marching.extract_segments(grid, OPT.minor_distance, OPT.fake_distance)
    bags = stitch.stitch_tile(seg)
    W = row["w"]
    H = row["h"]
    tid = row["image_id"]
    lat0 = int(tid[1:3])
    lon0 = int(tid[4:7])
    first = tile_first_id(lat0, lon0)

    nodes, ways = [], []
    actid = first
    actline = first
    for level in sorted(bags):
        for pts in bags[level]:
            c = postprocess.PostCounters()
            kept = postprocess.run_polyline(
                pts, OPT.min_vertice_points, OPT.min_bounding_box, 1.0 / W,
                OPT.douglas_peucker, c, strict_reference=True,
            )
            if kept is None:
                continue
            n = len(kept)
            for i, (x, y) in enumerate(kept):
                nodes.append((actid + i, lat0 + y / (H - 1), lon0 + x / (W - 1)))
            # way chunking with shared boundary node (Q4)
            maxn = OPT.max_nodes_per_way
            chunks = 1 if n <= maxn else -(-(n - 1) // (maxn - 1))
            for j in range(chunks):
                s = j * (maxn - 1)
                e = min(s + maxn, n)
                ityp = (
                    "elevation_major" if level % OPT.diff_major == 0
                    else "elevation_medium" if level % OPT.diff_medium == 0
                    else "elevation_minor"
                )
                ways.append((actline + j, list(range(actid + s, actid + e)), level, ityp))
            actid += n
            actline += chunks + 1  # Q3
    return nodes, ways


@pytest.fixture(scope="module")
def small_result(spark):
    tiles = tiles_df(spark, n_tiles=6, size=33).cache()
    res = run_contour_pipeline(tiles, OPT, shuffle_partitions=8)
    rows = [r.asDict() for r in tiles.collect()]
    return tiles, res, rows


def test_nodes_match_oracle(small_result, spark):
    _, res, rows = small_result
    got = {
        (r["node_id"]): (r["lat"], r["lon"])
        for r in res.nodes.collect()
    }
    want = {}
    for row in rows:
        for nid, lat, lon in oracle_tile(row)[0]:
            want[nid] = (lat, lon)
    assert len(got) == len(want)
    assert set(got) == set(want)
    for nid, (lat, lon) in want.items():
        glat, glon = got[nid]
        assert glat == lat and glon == lon, nid  # bit-exact


def test_ways_match_oracle(small_result, spark):
    _, res, rows = small_result
    got = {
        r["way_id"]: (list(r["node_refs"]), r["ele"], r["contour_ext"])
        for r in res.ways.collect()
    }
    want = {}
    for row in rows:
        for wid, refs, ele, ityp in oracle_tile(row)[1]:
            want[wid] = (refs, ele, ityp)
    assert got == want


def test_metrics_sane(small_result):
    _, res, _ = small_result
    m = res.metrics.collect()
    assert len(m) >= 1
    for r in m:
        assert r["polylines"] >= 0 and r["points"] >= 0


def test_decode_stats(small_result, spark):
    from hgt2osm2_spark.sources.decode import decode_stats

    tiles, _, rows = small_result
    st = {r["image_id"]: r for r in decode_stats(tiles).collect()}
    assert len(st) == len(rows)
    for r in rows:
        s = st[r["image_id"]]
        assert s["phash_ok"], "phash recheck failed"
        assert s["caption"] == r["caption"]
        if r["fmt"] == "jpg":
            assert s["psnr_db"] >= 40.0
        grid = codecs.decode(r["bytes"], r["fmt"], r["w"], r["h"])
        valid = grid != codecs.NOVALUE
        assert s["minimum"] == int(grid[valid].min())
        assert s["maximum"] == int(grid[valid].max())
        assert s["not_valid"] == int((~valid).sum())


def test_xml_sink(small_result, spark, tmp_path):
    import gzip
    import os

    from hgt2osm2_spark.sinks.osm_xml import tile_xml, write_tile_files_distributed

    _, res, rows = small_result
    xdf = tile_xml(res.nodes, res.ways)
    want = {f"cl{r['image_id']}.osm.gz": r["xml"] for r in xdf.collect()}
    assert write_tile_files_distributed(xdf, str(tmp_path)) == len(want) == len(rows)
    assert sorted(os.listdir(tmp_path)) == sorted(want)
    for name, xml in want.items():
        with gzip.open(tmp_path / name) as f:
            text = f.read().decode()
        assert text == xml
    assert text.startswith("<?xml") and text.rstrip().endswith("</osm>")
    assert "<node id='" in text and "<tag k='contour' v='elevation'/>" in text


def test_srtm3_size_tile_end_to_end(spark):
    """A real SRTM-3-sized tile (1201x1201 = 1.44M samples, ~5.76M
    triangles — HGTReader.cs:49, ContourProcessor2.cs:1464) flows
    through decode -> marching -> stitch -> post -> nodes without
    blowing batch or task memory, and its node stream obeys the
    tile-keyed ID contract."""
    import numpy as np
    import pandas as pd

    from hgt2osm2_spark.config import ContourOptions, tile_first_id
    from hgt2osm2_spark.kernels import codecs
    from hgt2osm2_spark.plans.pipeline import run_contour_pipeline
    from hgt2osm2_spark.sources.synthetic import TILES_SCHEMA, heightfield

    n = 1201
    grid = heightfield(3, n, seed=13)
    tiles = spark.createDataFrame(
        pd.DataFrame([{
            "image_id": "n43e000_0", "bytes": codecs.encode_hgt(grid),
            "w": n, "h": n, "fmt": "hgt",
            "caption": "srtm3-size", "phash": codecs.phash64(grid),
        }]),
        schema=TILES_SCHEMA,
    )
    res = run_contour_pipeline(tiles, ContourOptions(), shuffle_partitions=4)
    stats = res.nodes.agg(
        {"node_id": "min", "lat": "min", "lon": "max", "*": "count"}
    ).collect()[0]
    assert stats["count(1)"] > 10_000
    base = tile_first_id(43, 0)
    assert stats["min(node_id)"] == base
    assert 43.0 <= stats["min(lat)"] and stats["max(lon)"] <= 1.0


def test_banded_grain_equals_fused(spark):
    """Sub-tile row-band parallelism must be invisible in the output:
    one 97x97 tile split into 16-row bands (7 bands, separate tasks)
    produces the exact node/way streams of the fused whole-tile run."""
    tiles = tiles_df(spark, n_tiles=2, size=97, partitions=2)
    opt = ContourOptions()
    fused = run_contour_pipeline(tiles, opt)
    banded = run_contour_pipeline(tiles, opt, shuffle_partitions=8, band_rows=16)

    fn = sorted(map(tuple, fused.nodes.collect()))
    bn = sorted(map(tuple, banded.nodes.collect()))
    assert fn == bn and len(fn) > 0

    fw = sorted(map(tuple, fused.ways.select("image_id", "level", "way_id", "node_refs").collect()))
    bw = sorted(map(tuple, banded.ways.select("image_id", "level", "way_id", "node_refs").collect()))
    assert fw == bw and len(fw) > 0


def test_auto_band_grain_picks_banding_and_matches_manual(spark):
    """band_rows="auto" (the default): one big tile with the threshold
    lowered must take the banded grain and produce exactly the manual
    banded/fused node stream; many small tiles must stay fused."""
    tiles = tiles_df(spark, n_tiles=1, size=97, partitions=1)
    opt = ContourOptions()
    fused = run_contour_pipeline(tiles, opt, band_rows=None)
    auto = run_contour_pipeline(
        tiles, opt, shuffle_partitions=8, auto_band_threshold=97
    )
    fn = sorted(map(tuple, fused.nodes.collect()))
    an = sorted(map(tuple, auto.nodes.collect()))
    assert fn == an and len(fn) > 0
    # auto actually picked the staged/banded plan (segments stage exists)
    assert auto.segments is not None and fused.segments is None
    # small-tile inputs below the threshold keep the fused narrow map
    small_auto = run_contour_pipeline(tiles_df(spark, n_tiles=2, size=33), opt)
    assert small_auto.segments is None


def test_grouped_map_udfs_infer_their_eval_type(spark):
    """Every grouped-map UDF annotates `key: tuple`, so building its
    applyInPandas plan infers the grouped-map eval type instead of
    warning "Cannot infer the eval type from type hints"."""
    import warnings

    from hgt2osm2_spark.ops import contours, cross_tile
    from hgt2osm2_spark.sinks import debug_png, osm_xml

    seg = spark.createDataFrame([], contours.SEGMENTS_SCHEMA)
    post = spark.createDataFrame([], contours.POST_SCHEMA)
    nodes = spark.createDataFrame([], contours.NODES_SCHEMA)
    ways = spark.createDataFrame(
        [], "image_id string, level int, poly_ord int, way_id long, "
            "node_refs array<long>, ele int, contour_ext string")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        contours.stitch_polylines(seg)                    # do_stitch
        contours.salted_stitch_polylines(seg, band_h=8)   # _stitch_band, merge_open
        cross_tile.stitch_across_tiles(post)              # assemble
        osm_xml.tile_xml(nodes, ways)                     # fmt
        debug_png.render_polylines(post)                  # gen
    msgs = [str(w.message) for w in caught]
    assert not [m for m in msgs if "Cannot infer the eval type" in m], msgs
