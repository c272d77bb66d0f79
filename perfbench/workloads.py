"""The benchmark's workloads: seeded inputs, the timed iteration, and
per-iteration output checks against twins computed once in set-up.

Each workload drives the engine only through public functions. Its
``iterate`` opens one tracer span per layer call; with tracing off the
spans cost nothing and the iteration is the plain engine call chain.
"""

from __future__ import annotations

import functools
import gzip
import operator
import shutil
from dataclasses import dataclass
from pathlib import Path

import numpy as np
from pyspark.sql import DataFrame, functions as F

from hgt2osm2_spark.config import ContourOptions
from hgt2osm2_spark.kernels import codecs
from hgt2osm2_spark.ops import mosaic, spatial, terrain
from hgt2osm2_spark.plans.pipeline import run_contour_pipeline
from hgt2osm2_spark.sinks import osm_xml
from hgt2osm2_spark.sources import synthetic

from . import kernel_probe

NODE_DIGEST = "bit_xor(xxhash64(image_id, node_id, lat, lon))"


def _node_digest(nodes: DataFrame) -> tuple:
    row = nodes.agg(F.count("*"), F.expr(NODE_DIGEST)).collect()[0]
    return int(row[0]), int(row[1] or 0)


def _tile_digests(nodes: DataFrame) -> dict[str, tuple]:
    """image_id -> (node count, digest) of one tile's nodes."""
    rows = nodes.groupBy("image_id").agg(
        F.count("*").alias("n"), F.expr(NODE_DIGEST).alias("d")
    ).collect()
    return {r["image_id"]: (int(r["n"]), int(r["d"])) for r in rows}


def _tile_counts(df: DataFrame) -> dict[str, int]:
    """image_id -> row count."""
    return {r["image_id"]: int(r["count"]) for r in df.groupBy("image_id").count().collect()}


def _decode(row) -> np.ndarray:
    return codecs.decode(row["bytes"], row["fmt"], int(row["w"]), int(row["h"]))


class Workload:
    """Interface: synthesize inputs, iterate, compute the expected
    outputs once (``twin``, given the warm-up iteration's output), check
    one iteration's output, probe kernels on sampled inputs."""

    name = ""
    items_unit = ""
    #: nominal seconds of one warm iteration on a 4-core host; sets
    #: how many iterations a run of --seconds times
    ITER_S: float

    def __init__(self, spark, seed: int, cores: int, work: Path, traced: bool):
        self.spark = spark
        self.seed = seed
        self.cores = cores
        self.work = work
        self.traced = traced
        self.opt = ContourOptions()
        self.items = 0

    @staticmethod
    def _hold(df: DataFrame) -> DataFrame:
        df = df.cache()
        df.count()
        return df

    def synthesize(self) -> None:
        raise NotImplementedError

    def twin(self, warm) -> None:
        raise NotImplementedError

    def iterate(self, tr):
        raise NotImplementedError

    def check(self, out) -> tuple[list[str], dict[str, float]]:
        raise NotImplementedError

    def probe(self) -> tuple[dict[str, float], list[str]]:
        raise NotImplementedError


@dataclass
class TilePipOut:
    nodes: DataFrame
    ways: DataFrame
    assigned: DataFrame
    n_nodes: int
    hits: list
    out_dir: Path
    n_files: int


class TilePip(Workload):
    """Many small tiles over many more partitions than cores: fused
    contour map -> IDs -> nodes -> PIP join against seeded polygons,
    and one gzipped OSM XML file per tile (the reference's product)."""

    name = "tile_pip"
    items_unit = "tiles"
    ITER_S = 8.0
    N_TILES = 32
    SIZE = 201
    N_POLYS = 16
    PIP_RES = 6
    SAMPLED_HITS = 64
    #: tiles re-derived through the staged grain; the whole staged grain
    #: costs more than a timed iteration on 4 cores
    SAMPLED_TILES = 4

    def synthesize(self) -> None:
        self.items = self.N_TILES
        self.rows = [synthetic.make_tile_row(i, self.SIZE, self.seed) for i in range(self.N_TILES)]
        self.tiles = self._hold(
            self.spark.createDataFrame(self.rows, synthetic.TILES_SCHEMA)
            .repartition(4 * self.cores)
        )
        self.polys = self._hold(synthetic.polygons_df(self.spark, self.N_POLYS, seed=self.seed))
        self._iter = 0

    def _points(self, nodes: DataFrame) -> DataFrame:
        return nodes.select(
            F.concat_ws("/", "image_id", "node_id").alias("q_id"), "lat", "lon"
        )

    def twin(self, warm: TilePipOut) -> None:
        """Expected outputs, from the first warm-up iteration's output:

        - on SAMPLED_TILES seeded tiles, each tile's node count and
          digest, and its way count, must equal the staged grain's
          (fused=False, the independent per-(tile, level) shuffle
          path); a mismatch fails every iteration's check;
        - its whole-output node count and digest, and its way count,
          are what every later iteration must reproduce, in its rows
          and in its gunzipped XML files;
        - the exact PIP hit count comes from a numpy ray-crossing test
          of each of its nodes against every polygon.

        Traced runs also count the cell prefilter's candidates
        (cell_expr + polygon_cover_cells)."""
        rng = np.random.default_rng(self.seed)
        ids = sorted(self.rows[int(i)]["image_id"] for i in rng.choice(
            len(self.rows), self.SAMPLED_TILES, replace=False))
        sample = self.tiles.filter(F.col("image_id").isin(ids)).coalesce(len(ids))
        res = run_contour_pipeline(
            sample, self.opt, fused=False, band_rows=None,
            shuffle_partitions=len(ids),
        )
        assigned = res.assigned.cache()
        staged = _tile_digests(res.nodes)
        staged_ways = _tile_counts(res.ways)
        assigned.unpersist()
        fused = _tile_digests(warm.nodes)
        fused_ways = _tile_counts(warm.ways)
        self.staged_problems = [
            f"tile {i}: nodes (count, digest) {fused.get(i)} != staged twin {staged.get(i)}"
            for i in ids if fused.get(i) != staged.get(i)
        ] + [
            f"tile {i}: {fused_ways.get(i)} ways != staged twin {staged_ways.get(i)}"
            for i in ids if fused_ways.get(i) != staged_ways.get(i)
        ]
        # bit_xor is associative: the whole output's digest is the XOR of
        # the tiles' digests
        self.want_digest = (
            sum(n for n, _ in fused.values()),
            functools.reduce(operator.xor, (d for _, d in fused.values()), 0),
        )
        self.want_ways = sum(fused_ways.values())
        self.rings = {
            r["poly_id"]: (np.asarray(r["xs"]), np.asarray(r["ys"]))
            for r in self.polys.collect()
        }
        pts = warm.nodes.select("lat", "lon").toPandas()
        lon, lat = pts["lon"].to_numpy(), pts["lat"].to_numpy()
        self.want_hits = sum(
            int((spatial._ray_crossings(lon, lat, xs, ys) % 2 == 1).sum())
            for xs, ys in self.rings.values()
        )
        self.candidates = 0
        if self.traced:
            cells = self._points(warm.nodes).withColumn(
                "cell", spatial.cell_expr(F.col("lat"), F.col("lon"), self.PIP_RES)
            )
            self.candidates = cells.join(
                spatial.polygon_cover_cells(self.polys, self.PIP_RES), "cell"
            ).count()

    def iterate(self, tr) -> TilePipOut:
        self._iter += 1
        out_dir = self.work / "out" / f"{self.name}-{self.seed}-{self._iter}"
        with tr.span("plans.grain_peek"):
            res = run_contour_pipeline(self.tiles, self.opt)
        post = tr.stage("contours.fused", res.post)
        if tr.enabled:
            with tr.span("contours.fused"):
                tr.count("contours.kept_rows", post.filter("kept").count())
        tr.stage("ids.assign", res.assigned)
        with tr.span("ids.explode"):
            # the assigned rows feed both nodes and ways: held, as a
            # caller with two consumers would
            assigned = res.assigned.cache()
            nodes = res.nodes.cache()
            n_nodes = nodes.count()
        with tr.span("spatial.pip"):
            hits = spatial.pip_join(
                self._points(nodes), self.polys, res=self.PIP_RES
            ).collect()
        xml = tr.stage("osm_xml.format", osm_xml.tile_xml(nodes, res.ways))
        with tr.span("osm_xml.write"):
            n_files = osm_xml.write_tile_files_distributed(xml, str(out_dir))
        return TilePipOut(nodes, res.ways, assigned, n_nodes, hits, out_dir, n_files)

    def check(self, out: TilePipOut):
        problems = list(self.staged_problems)
        try:
            got = _node_digest(out.nodes)
        finally:
            out.nodes.unpersist()
            out.assigned.unpersist()
        if got != self.want_digest or out.n_nodes != self.want_digest[0]:
            problems.append(f"node digest {got} != warm-up {self.want_digest}")
        if len(out.hits) != self.want_hits:
            problems.append(f"{len(out.hits)} PIP hits != brute force {self.want_hits}")
        rng = np.random.default_rng(self.seed)
        pick = rng.choice(len(out.hits), min(self.SAMPLED_HITS, len(out.hits)), replace=False)
        for i in pick:
            h = out.hits[int(i)]
            xs, ys = self.rings[h["poly_id"]]
            n = spatial._ray_crossings(
                np.array([h["lon"]]), np.array([h["lat"]]), xs, ys
            )
            if int(n[0]) % 2 != 1:
                problems.append(f"hit {h['q_id']} not inside {h['poly_id']}")
                break
        n_files, n_nodes, n_ways, n_bytes = _count_xml(out.out_dir)
        if n_files != self.items or out.n_files != self.items:
            problems.append(f"{n_files} files (reported {out.n_files}) for {self.items} tiles")
        if (n_nodes, n_ways) != (self.want_digest[0], self.want_ways):
            problems.append(
                f"XML has {n_nodes} nodes / {n_ways} ways, "
                f"rows have {self.want_digest[0]} / {self.want_ways}"
            )
        ratio = len(out.hits) / self.candidates if self.candidates else 0.0
        return problems, {"spatial.pip_hit_ratio": ratio, "osm_xml.bytes_out": float(n_bytes)}

    def probe(self):
        return kernel_probe.contour_probe([_decode(r) for r in self.rows[:4]], self.opt)


def _count_xml(out_dir: Path) -> tuple[int, int, int, int]:
    """(files, <node lines, <way lines, bytes) of the gzipped OSM XML
    files in ``out_dir``, which is then removed."""
    try:
        files = sorted(out_dir.glob("*.osm.gz"))
        n_nodes = n_ways = n_bytes = 0
        for f in files:
            n_bytes += f.stat().st_size
            with gzip.open(f, "rt") as fh:
                for line in fh:
                    if line.startswith("<node "):
                        n_nodes += 1
                    elif line.startswith("<way "):
                        n_ways += 1
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    return len(files), n_nodes, n_ways, n_bytes


class MosaicDrainage(Workload):
    """Seeded 2x2 mosaic through mosaic_routed_flow: halo strips, the
    fill-profile cogroup and solve, the distance rounds with their
    checksum jobs, the single-task border solve and the weighted pass.

    The plain (tilted, bumpy) mosaic, not the crater variant: crater
    mosaics need 2 or 3 distance rounds depending on the seed (27 vs
    32 jobs at 2x1 tiles of 65), which alone spreads wall time ~20%
    across seeds; the plain mosaic runs the same stages with a job
    count that does not depend on the seed."""

    name = "mosaic_drainage"
    items_unit = "cells"
    ITER_S = 5.0
    NX = 2
    NY = 2
    SIZE = 65
    LAT0, LON0 = 47, 8

    def synthesize(self) -> None:
        self.rows = synthetic.mosaic_tile_rows(
            self.NX, self.NY, self.SIZE, self.seed, self.LAT0, self.LON0
        )
        self.tiles = self._hold(self.spark.createDataFrame(self.rows, synthetic.TILES_SCHEMA))
        self.items = (self.NY * (self.SIZE - 1) + 1) * (self.NX * (self.SIZE - 1) + 1)

    def _assembled(self) -> np.ndarray:
        s = self.SIZE
        g = np.full((self.NY * (s - 1) + 1, self.NX * (s - 1) + 1), codecs.NOVALUE, np.int16)
        for row in self.rows:
            lat, lon, _k = mosaic.parse_tile_id(row["image_id"])
            r, c = (self.LAT0 + self.NY - 1) - lat, lon - self.LON0
            g[r * (s - 1): r * (s - 1) + s, c * (s - 1): c * (s - 1) + s] = _decode(row)
        return g

    def twin(self, warm) -> None:
        """routed_flow_grid(fill_grid(assembled mosaic)) in numpy, as
        rows (gx, gy, acc, outlet_gx, outlet_gy) sorted by (gx, gy)."""
        g = self._assembled()
        filled = terrain.fill_grid(g).astype(np.int16)
        filled[g == codecs.NOVALUE] = codecs.NOVALUE
        ys, xs, acc, oy, ox = terrain.routed_flow_grid(filled)
        gx0 = mosaic.cell_gx(self.LON0, 0, self.SIZE)
        gy0 = mosaic.cell_gy(self.LAT0 + self.NY - 1, 0, self.SIZE)
        want = np.stack([
            gx0 + np.asarray(xs, np.int64), gy0 + np.asarray(ys, np.int64),
            np.asarray(acc, np.int64),
            gx0 + np.asarray(ox, np.int64), gy0 + np.asarray(oy, np.int64),
        ], axis=1)
        self.want = want[np.lexsort((want[:, 1], want[:, 0]))]
        self.grid = g

    def iterate(self, tr):
        tr.stage("mosaic.halo", mosaic.halo_strips(self.tiles))
        with tr.span("mosaic.routed_flow"):
            cells = mosaic.mosaic_routed_flow(self.tiles).toPandas()
        return cells

    def check(self, out):
        got = out[["gx", "gy", "acc", "outlet_gx", "outlet_gy"]].to_numpy(np.int64)
        got = got[np.lexsort((got[:, 1], got[:, 0]))]
        if got.shape != self.want.shape:
            return [f"{len(got)} cells != twin {len(self.want)}"], {}
        bad = int(np.any(got != self.want, axis=1).sum())
        return ([f"{bad} cells differ from the numpy twin"] if bad else []), {}

    def probe(self):
        return kernel_probe.terrain_probe(self.grid)


WORKLOADS = {w.name: w for w in (TilePip, MosaicDrainage)}
