"""Raster sinks S6/S7/S9 — format parity with the reference.

ArcInfo layout per Program.cs:174-232 (header order, cellsize=1/W,
nodata -29999, leading space per value); worldfile per
Program.cs:255-263 (1/W, 0, 0, -1/H, lon, lat+1); TSV per
HGTReader.cs:428-439; color lerp per HGTReader.cs:337-342.
"""

import gzip
import struct
import zlib

import numpy as np
import pytest

from hgt2osm2_spark.kernels import codecs
from hgt2osm2_spark.sinks import rasters
from hgt2osm2_spark.sources.synthetic import tiles_df


def test_arcinfo_text_golden():
    grid = np.array([[1, 2], [codecs.NOVALUE, -3]], dtype=np.int16)
    txt = rasters.arcinfo_text(grid, left=2, bottom=51)
    assert txt == (
        "ncols 2\nnrows 2\nxllcorner 2\nyllcorner 51\n"
        "cellsize 0.5\nnodata_value -29999\n"
        " 1 2\n -29999 -3\n"
    )


def test_tsv_text():
    grid = np.array([[5, 6, 7], [8, 9, 10]], dtype=np.int16)
    assert rasters.tsv_text(grid) == "5\t6\t7\n8\t9\t10\n"


def test_coltab_lerp_rounding():
    tab = rasters.build_coltab([(0, (0, 0, 0)), (10, (255, 10, 1))])
    # f=i/10; channel = c0 + rint((c1-c0)*f)  (banker's rounding)
    for i in range(10):
        exp = tuple(int(np.rint(c * (i / 10.0))) for c in (255, 10, 1))
        assert tuple(tab[0x8000 + i]) == exp
    # end point belongs to the next segment / dummy
    assert tuple(tab[0x8000 + 10]) == rasters.DUMMY_COLOR
    assert tuple(tab[0x8000 - 1]) == rasters.DUMMY_COLOR


def test_geo_png_payloads_shape():
    grid = np.arange(12, dtype=np.int16).reshape(3, 4)
    out = rasters.geo_png_payloads(grid, "n51e002_0", rasters.build_coltab())
    names = [n for n, _ in out]
    assert names == ["Height_N51E002.png", "Height_N51E002.pngw"]
    png = out[0][1]
    assert png[:8] == b"\x89PNG\r\n\x1a\n"
    w, h = struct.unpack(">II", png[16:24])
    assert (w, h) == (4, 3)
    # decode IDAT and verify one pixel against the table
    idat = png[8 + 25:]  # skip sig + IHDR chunk (4+4+13+4)
    ln = struct.unpack(">I", idat[:4])[0]
    raw = zlib.decompress(idat[8 : 8 + ln])
    rows = np.frombuffer(raw, np.uint8).reshape(3, 1 + 12)
    assert (rows[:, 0] == 0).all()  # filter byte
    tab = rasters.build_coltab()
    assert tuple(rows[0, 1:4]) == tuple(tab[0x8000 + 0])
    assert out[1][1].decode() == "0.25\n0\n0\n-0.333333333333333\n2\n52\n"


def test_sink_dataframes(spark):
    tiles = tiles_df(spark, n_tiles=3, size=9, seed=3)
    a = rasters.arcinfo_grid(tiles).collect()
    g = rasters.geo_png(tiles).collect()
    t = rasters.tsv_dump(tiles).collect()
    assert len(a) == 3 and len(t) == 3 and len(g) == 6
    # ArcInfo payload reparses to the original grid (lossless fmts)
    row = next(r for r in a if r["image_id"].endswith("_0"))
    body = row["payload"].decode().splitlines()[6:]
    vals = np.array([[int(v) for v in line.split()] for line in body])
    assert vals.shape == (9, 9)


def test_distributed_artifact_writer_matches_collect(spark, tmp_path):
    """The executor-side artifact writer lands exactly the collected
    (filename, payload) rows as files (the OSM .gz files are pinned by
    test_osm_tile_sink_plan_and_files)."""
    import os

    tiles = tiles_df(spark, n_tiles=3, size=17, seed=4)

    art = rasters.arcinfo_grid(tiles)
    want = {r["filename"]: bytes(r["payload"]) for r in art.collect()}
    out = str(tmp_path / "dist")
    assert rasters.write_artifacts_distributed(art, out) == len(want) == 3
    assert sorted(os.listdir(out)) == sorted(want)
    for name, payload in want.items():
        assert open(f"{out}/{name}", "rb").read() == payload


def test_osm_tile_sink_plan_and_files(spark, tmp_path, monkeypatch):
    """The per-tile OSM sink is two Python operators: the nodes/ways
    cogroup that formats each tile, then ONE mapInPandas that encodes,
    gzips and lands each file. No Arrow UDF sits between them and no
    null-padded union feeds the formatter. Two writes give the same
    bytes, leave no temp file, and each file is its collected tile's
    XML, gzipped at level 6 with mtime=0 and no file name."""
    import os
    import re

    from hgt2osm2_spark.config import ContourOptions
    from hgt2osm2_spark.plans.pipeline import run_contour_pipeline
    from hgt2osm2_spark.sinks import osm_xml

    res = run_contour_pipeline(
        tiles_df(spark, n_tiles=3, size=17, seed=4), ContourOptions(), shuffle_partitions=4)
    xml = osm_xml.tile_xml(res.nodes, res.ways)
    want = {f"cl{r['image_id']}.osm.gz": r["xml"].encode() for r in xml.collect()}

    plans = []
    cls = type(xml)
    collect = cls.collect

    def spy(self):
        rows = collect(self)
        plan = self._jdf.queryExecution().executedPlan()
        if plan.nodeName() == "AdaptiveSparkPlan":
            plan = plan.executedPlan()
        plans.append(plan.toString())
        return rows

    monkeypatch.setattr(cls, "collect", spy)
    dirs = [str(tmp_path / d) for d in ("a", "b")]
    counts = [osm_xml.write_tile_files_distributed(xml, d) for d in dirs]
    monkeypatch.undo()

    assert len(plans) == 2
    for plan in plans:
        assert plan.count("FlatMapCoGroupsInPandas") == 1, plan
        # the tree prints parents first: the sink is what sits above the cogroup
        sink = plan[: plan.index("FlatMapCoGroupsInPandas")]
        assert len(re.findall(r"\bMapInPandas\b", sink)) == 1, plan
        assert "ArrowEvalPython" not in plan and not re.search(r"\bUnion\b", plan), plan

    assert counts == [len(want)] * 2 == [3] * 2
    a, b = (sorted(os.listdir(d)) for d in dirs)
    assert a == b == sorted(want)
    for name, text in want.items():
        data = open(f"{dirs[0]}/{name}", "rb").read()
        assert all(open(f"{d}/{name}", "rb").read() == data for d in dirs[1:])
        assert data[:10] == b"\x1f\x8b\x08\x00\x00\x00\x00\x00\x00\xff"
        assert data[10:-8] == zlib.compress(text, 6, wbits=-15)
        assert gzip.decompress(data) == text
