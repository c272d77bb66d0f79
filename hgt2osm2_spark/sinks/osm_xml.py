"""OSM XML sink (S5) + multi-tile merge (S10/U1).

The reference streams nodes first, buffers ways, then appends
(/root/reference/ContourProcessor2.cs:1539-1623). Here the canonical
artifacts are the nodes/ways DataFrames — XML is a thin per-tile
formatter (applyInPandas) so golden comparisons run on DataFrames, not
text. Coordinates are formatted %.15g to mirror .NET Framework
double.ToString(InvariantCulture) (G15 shortest-within-15-digits);
exact textual parity on pathological doubles is not guaranteed, value
parity is.

Merge semantics (Program.cs:267-363, merge_gz2bzip2.pl): union of the
per-tile node sections then way sections, with a global <bounds> from
the tile extents (A7). ID disjointness comes from the tile-keyed bases
(W1), so union needs no re-numbering.
"""

from __future__ import annotations

import gzip

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

_HEADER = "<?xml version='1.0' encoding='UTF-8'?>\n<osm version='0.6' generator='HGT2OSM'>\n"
_FOOTER = "</osm>\n"

XML_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("xml", T.StringType(), False),
    ]
)


def _fmt(v: float) -> str:
    return f"{v:.15g}"


def tile_xml(nodes: DataFrame, ways: DataFrame, bounds: bool = False) -> DataFrame:
    """One XML document per tile: (image_id, xml)."""

    n = nodes.select(
        "image_id",
        F.col("node_id"),
        "lat",
        "lon",
        F.col("level").alias("olevel"),
        "poly_ord",
        F.lit(0).alias("kind"),
        F.lit(0).cast("long").alias("way_id"),
        F.lit(None).cast("array<long>").alias("node_refs"),
        F.lit(0).alias("ele"),
        F.lit(None).cast("string").alias("contour_ext"),
    )
    w = ways.select(
        "image_id",
        F.lit(None).cast("long").alias("node_id"),
        F.lit(0.0).alias("lat"),
        F.lit(0.0).alias("lon"),
        F.col("level").alias("olevel"),
        "poly_ord",
        F.lit(1).alias("kind"),
        "way_id",
        "node_refs",
        "ele",
        "contour_ext",
    )
    both = n.unionByName(w)

    def fmt(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        (image_id,) = key
        pdf = pdf.sort_values(["kind", "olevel", "poly_ord", "node_id", "way_id"])
        parts = [_HEADER]
        lat0 = lon0 = None
        for r in pdf.itertuples(index=False):
            if r.kind == 0:
                parts.append(
                    f"<node id='{int(r.node_id)}' lat='{_fmt(r.lat)}' lon='{_fmt(r.lon)}'/>\n"
                )
            else:
                parts.append(f"<way id='{int(r.way_id)}'>\n")
                parts.extend(f"<nd ref='{int(ref)}' />\n" for ref in r.node_refs)
                parts.append(f"<tag k='ele' v='{int(r.ele)}'/>\n")
                parts.append("<tag k='contour' v='elevation'/>\n")
                if r.contour_ext is not None:
                    parts.append(f"<tag k='contour_ext' v='{r.contour_ext}'/>\n")
                parts.append("</way>\n")
        parts.append(_FOOTER)
        return pd.DataFrame({"image_id": [image_id], "xml": ["".join(parts)]})

    return both.groupBy("image_id").applyInPandas(fmt, schema=XML_SCHEMA)


def tile_file_rows(xml_df: DataFrame, gz: bool = True) -> DataFrame:
    """(image_id, xml) -> (filename, payload) artifact rows, gzip'd
    per tile when requested (naming: ContourProcessor2.cs:1410-1414).
    mtime=0 in the gzip header so payload bytes are deterministic."""

    @F.pandas_udf(T.BinaryType())
    def to_payload(xml: pd.Series) -> pd.Series:
        import io

        out = []
        for x in xml:
            data = x.encode()
            if gz:
                buf = io.BytesIO()
                with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as g:
                    g.write(data)
                data = buf.getvalue()
            out.append(data)
        return pd.Series(out)

    suffix = ".osm.gz" if gz else ".osm"
    return xml_df.select(
        F.concat(F.lit("cl"), F.col("image_id"), F.lit(suffix)).alias("filename"),
        to_payload(F.col("xml")).alias("payload"),
    )


def write_tile_files_distributed(xml_df: DataFrame, out_dir: str, gz: bool = True) -> int:
    """S5 scale path: per-tile OSM files written executor-side (see
    rasters.write_artifacts_distributed); returns the file count."""
    from .rasters import write_artifacts_distributed

    return write_artifacts_distributed(tile_file_rows(xml_df, gz), out_dir)


def write_tile_files(xml_df: DataFrame, out_dir: str, gz: bool = True) -> list[str]:
    """Materialize one `cl{N|S}{lat}{E|W}{lon}_{k}.osm[.gz]` per tile
    (naming: ContourProcessor2.cs:1410-1414). Small-result collect —
    golden-test helper; the scale path is write_tile_files_distributed."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for row in xml_df.collect():
        tid = row["image_id"]
        name = f"cl{tid}.osm" + (".gz" if gz else "")
        path = os.path.join(out_dir, name)
        data = row["xml"].encode()
        if gz:
            with gzip.open(path, "wb") as f:
                f.write(data)
        else:
            with open(path, "wb") as f:
                f.write(data)
        paths.append(path)
    return paths


def _node_lines(nodes: DataFrame) -> DataFrame:
    """One formatted <node/> line per row (no trailing newline), ordered
    by node_id — vectorized Arrow formatting, stays distributed."""

    @F.pandas_udf(T.StringType())
    def fmt_node(node_id: pd.Series, lat: pd.Series, lon: pd.Series) -> pd.Series:
        return pd.Series(
            [f"<node id='{int(i)}' lat='{_fmt(a)}' lon='{_fmt(o)}'/>"
             for i, a, o in zip(node_id, lat, lon)]
        )

    return (
        nodes.orderBy("node_id")
        .select(fmt_node("node_id", "lat", "lon").alias("value"))
    )


def _way_blocks(ways: DataFrame) -> DataFrame:
    """One formatted <way>...</way> block per row (embedded newlines, no
    trailing newline), ordered by way_id."""

    @F.pandas_udf(T.StringType())
    def fmt_way(way_id: pd.Series, node_refs: pd.Series, ele: pd.Series,
                contour_ext: pd.Series) -> pd.Series:
        out = []
        for wid, refs, e, ext in zip(way_id, node_refs, ele, contour_ext):
            parts = [f"<way id='{int(wid)}'>"]
            parts.extend(f"<nd ref='{int(r)}' />" for r in refs)
            parts.append(f"<tag k='ele' v='{int(e)}'/>")
            parts.append("<tag k='contour' v='elevation'/>")
            if ext is not None:
                parts.append(f"<tag k='contour_ext' v='{ext}'/>")
            parts.append("</way>")
            out.append("\n".join(parts))
        return pd.Series(out)

    return (
        ways.orderBy("way_id")
        .select(fmt_way("way_id", "node_refs", "ele", "contour_ext").alias("value"))
    )


def write_merged_distributed(
    nodes: DataFrame, ways: DataFrame, out_path: str, gz: bool = False
) -> str:
    """S10/U1 merge at scale: the two-section structure of the
    reference's Create2Mergefile (Program.cs:267-363 — pass 1 nodes,
    pass 2 ways, global <bounds>) as two ORDERED DISTRIBUTED text
    writes + a streaming concat at the storage layer. Nothing larger
    than one scalar bounds row ever reaches the driver; the concat is
    a constant-memory file copy (the parquet-dir stand-in for an S3
    multipart-compose / HDFS concat).

    Byte-identical to ``merged_xml`` (golden-tested); returns out_path."""
    import glob
    import os
    import shutil
    import tempfile

    b = nodes.agg(
        F.min("lat").alias("minlat"),
        F.min("lon").alias("minlon"),
        F.max("lat").alias("maxlat"),
        F.max("lon").alias("maxlon"),
    ).collect()[0]
    head = _HEADER + (
        f"<bounds minlat='{_fmt(b['minlat'])}' minlon='{_fmt(b['minlon'])}'"
        f" maxlat='{_fmt(b['maxlat'])}' maxlon='{_fmt(b['maxlon'])}'/>\n"
    )

    tmp = tempfile.mkdtemp(prefix="osm_merge_")
    ntmp, wtmp = os.path.join(tmp, "nodes"), os.path.join(tmp, "ways")
    # orderBy -> range-partitioned write: part files are globally ordered
    # by filename, so concatenation in name order preserves the sort
    _node_lines(nodes).write.mode("overwrite").text(ntmp)
    _way_blocks(ways).write.mode("overwrite").text(wtmp)

    opener = (lambda p: gzip.open(p, "wb")) if gz else (lambda p: open(p, "wb"))
    with opener(out_path) as out:
        out.write(head.encode())
        for section in (ntmp, wtmp):
            for part in sorted(glob.glob(os.path.join(section, "part-*"))):
                with open(part, "rb") as src:
                    shutil.copyfileobj(src, out)
        out.write(_FOOTER.encode())
    shutil.rmtree(tmp, ignore_errors=True)
    return out_path


def merged_xml(nodes: DataFrame, ways: DataFrame) -> str:
    """Union merge with global <bounds> (Program.cs:267-363). The
    seek-position quirk Q6 is file mechanics, not semantics — union +
    bounds aggregation is what's replicated.

    NOTE: driver-side collect — golden-test helper only. The scale path
    is ``write_merged_distributed`` (byte-identical output)."""
    b = nodes.agg(
        F.min("lat").alias("minlat"),
        F.min("lon").alias("minlon"),
        F.max("lat").alias("maxlat"),
        F.max("lon").alias("maxlon"),
    ).collect()[0]
    parts = [_HEADER]
    parts.append(
        f"<bounds minlat='{_fmt(b['minlat'])}' minlon='{_fmt(b['minlon'])}'"
        f" maxlat='{_fmt(b['maxlat'])}' maxlon='{_fmt(b['maxlon'])}'/>\n"
    )
    for r in nodes.orderBy("node_id").collect():
        parts.append(f"<node id='{r['node_id']}' lat='{_fmt(r['lat'])}' lon='{_fmt(r['lon'])}'/>\n")
    for r in ways.orderBy("way_id").collect():
        parts.append(f"<way id='{r['way_id']}'>\n")
        parts.extend(f"<nd ref='{ref}' />\n" for ref in r["node_refs"])
        parts.append(f"<tag k='ele' v='{r['ele']}'/>\n<tag k='contour' v='elevation'/>\n")
        if r["contour_ext"] is not None:
            parts.append(f"<tag k='contour_ext' v='{r['contour_ext']}'/>\n")
        parts.append("</way>\n")
    parts.append(_FOOTER)
    return "".join(parts)
