"""Per-tile OSM XML (S5): `tile_xml` is byte-identical to a scalar
per-tile formatter on the option and plan shapes the golden (defaults
only) does not reach."""

import hashlib

import pytest
from pyspark.sql import functions as F

from hgt2osm2_spark.config import ContourOptions
from hgt2osm2_spark.plans.pipeline import run_contour_pipeline
from hgt2osm2_spark.sinks import osm_xml
from hgt2osm2_spark.sources.synthetic import tiles_df

HEADER = "<?xml version='1.0' encoding='UTF-8'?>\n<osm version='0.6' generator='HGT2OSM'>\n"


def scalar_tile_xml(nodes: list, ways: list) -> dict[str, str]:
    """image_id -> document: nodes by (level, poly_ord, node_id), then
    ways by (level, poly_ord, way_id), one plain loop per element."""
    docs: dict[str, tuple[list, list]] = {}
    for r in sorted(nodes, key=lambda r: (r.level, r.poly_ord, r.node_id)):
        docs.setdefault(r.image_id, ([], []))[0].append(
            f"<node id='{r.node_id}' lat='{r.lat:.15g}' lon='{r.lon:.15g}'/>\n")
    for r in sorted(ways, key=lambda r: (r.level, r.poly_ord, r.way_id)):
        lines = [f"<way id='{r.way_id}'>\n"]
        for ref in r.node_refs:
            lines.append(f"<nd ref='{ref}' />\n")
        lines.append(f"<tag k='ele' v='{r.ele}'/>\n")
        lines.append("<tag k='contour' v='elevation'/>\n")
        if r.contour_ext is not None:
            lines.append(f"<tag k='contour_ext' v='{r.contour_ext}'/>\n")
        lines.append("</way>\n")
        docs.setdefault(r.image_id, ([], []))[1].append("".join(lines))
    return {img: HEADER + "".join(n) + "".join(w) + "</osm>\n"
            for img, (n, w) in docs.items()}


@pytest.fixture(scope="module")
def tiles(spark):
    return tiles_df(spark, n_tiles=4, size=33, seed=9).cache()


def _run(tiles, opt):
    res = run_contour_pipeline(tiles, opt, shuffle_partitions=4)
    want = scalar_tile_xml(res.nodes.collect(), res.ways.collect())
    assert len(want) == 4
    return res, want


def test_tile_xml_without_elevation_type(tiles):
    res, want = _run(tiles, ContourOptions(write_elevation_type=False))
    got = {r.image_id: r.xml for r in osm_xml.tile_xml(res.nodes, res.ways).collect()}
    assert got == want
    assert "contour_ext" not in "".join(got.values())


def test_tile_xml_chunked_ways_share_boundary_nodes(tiles):
    res, want = _run(tiles, ContourOptions(max_nodes_per_way=4))
    ways = res.ways.collect()
    # Q4: consecutive chunks of one polyline share their boundary node
    by_poly = {}
    for w in sorted(ways, key=lambda w: w.way_id):
        by_poly.setdefault((w.image_id, w.level, w.poly_ord), []).append(list(w.node_refs))
    shared = [a[-1] == b[0] for chunks in by_poly.values() for a, b in zip(chunks, chunks[1:])]
    assert shared and all(shared)
    got = {r.image_id: r.xml for r in osm_xml.tile_xml(res.nodes, res.ways).collect()}
    assert got == want


def test_tile_xml_under_a_pruning_select(tiles):
    """The entry query's shape: a projection over the cogroup. Both
    sides derive from the same assigned rows, so they must not share
    attribute ids once the plan is pruned."""
    res, want = _run(tiles, ContourOptions())
    got = osm_xml.tile_xml(res.nodes, res.ways).select(
        "image_id", F.length("xml").alias("n_chars"),
        F.md5(F.encode("xml", "UTF-8")).alias("xml_md5"),
    ).collect()
    assert {r.image_id: (r.n_chars, r.xml_md5) for r in got} == {
        img: (len(x), hashlib.md5(x.encode()).hexdigest()) for img, x in want.items()}
