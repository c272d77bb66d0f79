"""PIP and kNN joins vs brute-force NumPy oracles."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from hgt2osm2_spark.ops import spatial
from hgt2osm2_spark.sources.synthetic import polygons_df


def query_points_df(spark, n_points=2000, seed=42, skew_frac=0.0):
    """Seeded uniform + optionally skewed points (skew_frac of points in
    one tiny hot cell — validates salting/AQE skew handling)."""
    rng = np.random.default_rng(seed + 1)
    n_hot = int(n_points * skew_frac)
    lon = rng.uniform(0.0, 4.0, n_points)
    lat = rng.uniform(40.0, 44.0, n_points)
    if n_hot:
        lon[:n_hot] = rng.uniform(1.0, 1.01, n_hot)
        lat[:n_hot] = rng.uniform(41.0, 41.01, n_hot)
    return spark.createDataFrame(
        pd.DataFrame({"q_id": [f"q{i}" for i in range(n_points)], "lat": lat, "lon": lon})
    )


def _pip_oracle(pts, polys):
    """point-in-polygon via an independently-written winding test."""
    hits = set()
    for qid, lat, lon in pts:
        for pid, xs, ys in polys:
            inside = False
            n = len(xs)
            j = n - 1
            for i in range(n):
                if (ys[i] > lat) != (ys[j] > lat):
                    xint = (xs[j] - xs[i]) * (lat - ys[i]) / (ys[j] - ys[i]) + xs[i]
                    if lon < xint:
                        inside = not inside
                j = i
            if inside:
                hits.add((qid, pid))
    return hits


@pytest.fixture(scope="module")
def spatial_data(spark):
    polys = polygons_df(spark, n_polys=6).cache()
    pts = query_points_df(spark, n_points=400).cache()
    return polys, pts, [tuple(r) for r in pts.collect()], [tuple(r) for r in polys.collect()]


def test_pip_join_matches_bruteforce(spark, spatial_data):
    polys, pts, pt_rows, poly_rows = spatial_data
    got = {
        (r["q_id"], r["poly_id"])
        for r in spatial.pip_join(pts, polys, res=6).collect()
    }
    want = _pip_oracle([(q, la, lo) for q, la, lo in pt_rows], poly_rows)
    assert got == want
    assert len(want) > 0, "fixture should produce hits"


def test_pip_res_invariance(spark, spatial_data):
    polys, pts, *_ = spatial_data
    a = {(r["q_id"], r["poly_id"]) for r in spatial.pip_join(pts, polys, res=4).collect()}
    b = {(r["q_id"], r["poly_id"]) for r in spatial.pip_join(pts, polys, res=8).collect()}
    assert a == b  # prefilter resolution must not change the exact result


def test_knn_matches_bruteforce(spark, spatial_data):
    _, pts, pt_rows, _ = spatial_data
    base = pts.select(
        F.col("q_id").alias("p_id"), "lat", "lon"
    )
    queries = pts.limit(25)
    got = {}
    for r in spatial.knn_join(base, queries, k=3, res=6).collect():
        got.setdefault(r["q_id"], []).append((r["rnk"], r["p_id"]))

    ids = np.array([p[0] for p in pt_rows])
    lats = np.array([p[1] for p in pt_rows])
    lons = np.array([p[2] for p in pt_rows])
    qrows = [tuple(r) for r in queries.collect()]
    assert len(got) == len(qrows)
    for qid, qlat, qlon in qrows:
        d2 = (lats - qlat) ** 2 + (lons - qlon) ** 2
        order = sorted(range(len(ids)), key=lambda i: (d2[i], ids[i]))[:3]
        want = [(rk + 1, ids[i]) for rk, i in enumerate(order)]
        assert sorted(got[qid]) == want, qid


def test_knn_skewed_points(spark):
    # 90% of points in one hot cell (FIXTURES.md §4 skew fixture)
    pts = query_points_df(spark, n_points=500, skew_frac=0.9, seed=7)
    base = pts.select(F.col("q_id").alias("p_id"), "lat", "lon")
    queries = pts.limit(10)
    res = spatial.knn_join(base, queries, k=5, res=6).collect()
    counts = {}
    for r in res:
        counts[r["q_id"]] = counts.get(r["q_id"], 0) + 1
    assert all(v == 5 for v in counts.values())


def test_cell_expr_values(spark):
    df = spark.range(1).select(
        spatial.cell_expr(F.lit(0.0), F.lit(0.0), 6).alias("c0"),
        spatial.cell_expr(F.lit(40.5), F.lit(2.25), 6).alias("c1"),
    )
    r = df.collect()[0]
    res, cpd = 6, 64
    assert r["c0"] == (res << 48) | ((180 * cpd) << 24) | (90 * cpd)
    assert r["c1"] == (res << 48) | (int((2.25 + 180) * cpd) << 24) | int((40.5 + 90) * cpd)


def test_knn_telemetry_clustered(spark):
    """Clustered point set: telemetry must expose the fallback tail
    (no silent degradation to the broadcast-scan path), and the result
    must still be exact."""
    import numpy as np
    import pandas as pd

    from hgt2osm2_spark.ops import spatial

    rng = np.random.default_rng(7)
    # points bunched in one corner, queries spread across the extent ->
    # far-away queries cannot be settled by the ring guard
    pts = pd.DataFrame({
        "p_id": np.arange(300),
        "lat": 40.0 + rng.random(300) * 0.05,
        "lon": 0.0 + rng.random(300) * 0.05,
    })
    qs = pd.DataFrame({
        "q_id": np.arange(20),
        "lat": 40.0 + rng.random(20) * 3.9,
        "lon": 0.0 + rng.random(20) * 3.9,
    })
    seen = []
    out = spatial.knn_join(
        spark.createDataFrame(pts), spark.createDataFrame(qs), k=3, res=6,
        metrics_sink=seen.append,
    ).toPandas()
    m = spatial.LAST_KNN_METRICS
    assert seen and seen[0] == m
    assert m["n_queries"] == 20
    assert m["n_settled"] + m["n_fallback"] == 20
    assert m["n_fallback"] > 0  # the clustered set MUST hit the fallback
    # exactness vs brute force
    for qid, grp in out.groupby("q_id"):
        d2 = (pts.lat - qs.lat[qid]) ** 2 + (pts.lon - qs.lon[qid]) ** 2
        want = set(pts.p_id[np.argsort(d2.to_numpy(), kind="stable")[:3]])
        assert set(grp.p_id) == want


def test_rasterize_polygons(spark):
    """Vector->raster burn: mask popcount == n_inside, a point known
    inside polyA is set, grid corners are clear, and the mask agrees
    with a direct scalar ray-cast on a sample of cells."""
    import numpy as np

    import __spark_entry__ as entrymod
    from hgt2osm2_spark.ops import rasterize
    from hgt2osm2_spark.ops.spatial import _ray_crossings

    n, d = 64, 0.0625
    out = {
        r["poly_id"]: r
        for r in rasterize.rasterize_polygons(
            entrymod._pip_polygons_df(spark), 40.0, 0.0, n, d
        ).collect()
    }
    assert set(out) == {p for p, _ in entrymod.PIP_POLYGONS}
    for pid, verts in entrymod.PIP_POLYGONS:
        r = out[pid]
        mask = np.unpackbits(
            np.frombuffer(bytes(r["mask"]), dtype=np.uint8), count=n * n
        ).reshape(n, n).astype(bool)
        assert int(mask.sum()) == r["n_inside"] > 0
        xs = np.array([v[0] for v in verts] + [verts[0][0]])
        ys = np.array([v[1] for v in verts] + [verts[0][1]])
        # centroid cell must be inside for these convex rings
        cx, cy = xs[:-1].mean(), ys[:-1].mean()
        i, j = int((cy - 40.0) / d), int((cx - 0.0) / d)
        assert mask[i, j]
        # sampled cells agree with a direct ray cast
        ii, jj = np.meshgrid(np.arange(0, n, 7), np.arange(0, n, 7), indexing="ij")
        lats = 40.0 + (ii.ravel() + 0.5) * d
        lons = 0.0 + (jj.ravel() + 0.5) * d
        want = _ray_crossings(lons, lats, xs, ys)
        assert np.array_equal(mask[ii.ravel(), jj.ravel()], want)


def test_as_of_join_semantics(spark):
    """Backward-inclusive as-of join: matches the latest right row at or
    before each left ts per key; nulls when nothing precedes; a right
    row at the exact same ts matches (inclusive)."""
    import pandas as pd

    from hgt2osm2_spark.ops import temporal

    left = spark.createDataFrame(pd.DataFrame({
        "lid": [1, 2, 3, 4, 5],
        "k":   [1, 1, 1, 2, 2],
        "ts":  pd.to_datetime(["2024-01-01", "2024-01-05", "2024-01-10",
                               "2024-01-02", "2024-01-03"]),
    }))
    right = spark.createDataFrame(pd.DataFrame({
        "k":   [1, 1, 2],
        "ts":  pd.to_datetime(["2024-01-05", "2024-01-07", "2024-01-09"]),
        "v":   [50, 70, 90],
    }))
    out = temporal.as_of_join(left, right, "k", "ts", "ts", ["v"]).toPandas()
    got = {int(l): (None if pd.isna(v) else int(v)) for l, v in zip(out.lid, out.v)}
    assert got == {1: None,   # nothing precedes
                   2: 50,     # inclusive: same-ts right row matches
                   3: 70,     # latest of the two
                   4: None, 5: None}  # k=2's right row is later


def test_zorder_key_matches_numpy_interleave(spark):
    import numpy as np
    import pandas as pd

    from hgt2osm2_spark.ops import spatial

    rng = np.random.default_rng(7)
    ix = rng.integers(0, 2**16, 200)
    iy = rng.integers(0, 2**16, 200)

    def interleave(x, y):
        out = 0
        for b in range(16):
            out |= ((int(x) >> b) & 1) << (2 * b + 1)
            out |= ((int(y) >> b) & 1) << (2 * b)
        return out

    want = [interleave(x, y) for x, y in zip(ix, iy)]
    df = spark.createDataFrame(pd.DataFrame({"ix": ix, "iy": iy}))
    got = [
        r.z for r in
        df.select(spatial.zorder_key(F.col("ix"), F.col("iy")).alias("z"))
        .collect()
    ]
    assert got == want


def test_zorder_layout_prunes_both_dimensions(spark):
    """The point of Z-order layout is 2-D data skipping: per-file
    (per-partition) min/max footprints bound BOTH lat and lon, so a
    bbox predicate on EITHER dimension prunes files. A single-column
    range layout (lon stripes) prunes lon queries but a lat-band query
    must open every file. Assert the skip counts, not footprint area —
    at equal row counts z squares and lon stripes have similar total
    area; it's the aspect ratio that changes."""
    import numpy as np
    import pandas as pd

    from hgt2osm2_spark.ops import spatial

    rng = np.random.default_rng(11)
    n = 20_000
    pdf = pd.DataFrame({
        "p_id": np.arange(n),
        "lat": rng.uniform(40.0, 44.0, n),
        "lon": rng.uniform(0.0, 4.0, n),
    })
    df = spark.createDataFrame(pdf)
    n_parts = 16

    def footprints(frame):
        return (
            frame.groupBy(F.spark_partition_id().alias("p"))
            .agg(F.min("lat").alias("lat0"), F.max("lat").alias("lat1"),
                 F.min("lon").alias("lon0"), F.max("lon").alias("lon1"))
            .collect()
        )

    def hits(fps, lat0, lat1, lon0, lon1):
        return sum(
            1 for r in fps
            if r.lat1 >= lat0 and r.lat0 <= lat1
            and r.lon1 >= lon0 and r.lon0 <= lon1
        )

    z = spatial.zorder_layout(df, res=10, n_files=n_parts)
    assert z.count() == n  # row preservation
    z_fp = footprints(z)
    naive_fp = footprints(df.repartitionByRange(n_parts, "lon"))
    assert len(z_fp) == n_parts

    # lat-band query (full lon extent): stripes must open every file
    lat_band = (41.0, 41.5, 0.0, 4.0)
    assert hits(naive_fp, *lat_band) == n_parts
    assert hits(z_fp, *lat_band) <= n_parts // 2

    # combined over both orientations, z opens strictly fewer files
    lon_band = (40.0, 44.0, 1.0, 1.5)
    z_total = hits(z_fp, *lat_band) + hits(z_fp, *lon_band)
    naive_total = hits(naive_fp, *lat_band) + hits(naive_fp, *lon_band)
    assert z_total < naive_total


def test_zorder_no_aliasing_at_global_extent(spark):
    """Regression: bits must cover the full quantized domain at the
    chosen res. At res=10 a 16-bit key drops ix's high bits and
    co-locates longitudes 64 degrees apart; the default (res+9) must
    keep every partition's lon footprint a small fraction of the
    globe."""
    import numpy as np
    import pandas as pd

    from hgt2osm2_spark.ops import spatial

    rng = np.random.default_rng(3)
    n = 20_000
    df = spark.createDataFrame(pd.DataFrame({
        "p_id": np.arange(n),
        "lat": rng.uniform(-85.0, 85.0, n),
        "lon": rng.uniform(-180.0, 180.0, n),
    }))
    z = spatial.zorder_layout(df, res=10, n_files=16)
    spans = (
        z.groupBy(F.spark_partition_id().alias("p"))
        .agg((F.max("lon") - F.min("lon")).alias("dlon"))
        .collect()
    )
    # 16-bit aliasing makes most partitions span ~296+ degrees; the
    # correct key keeps the median span near 360/sqrt(16)*2 ~ 180 max
    spans = sorted(r.dlon for r in spans)
    assert spans[len(spans) // 2] < 200.0


def test_haversine_known_values(spark):
    import math

    from hgt2osm2_spark.ops import spatial as sp

    df = spark.range(1).select(
        sp.haversine_km(F.lit(0.0), F.lit(0.0), F.lit(90.0), F.lit(0.0)).alias("pole"),
        sp.haversine_km(F.lit(0.0), F.lit(0.0), F.lit(0.0), F.lit(180.0)).alias("anti"),
        sp.haversine_km(F.lit(48.8566), F.lit(2.3522),
                        F.lit(51.5074), F.lit(-0.1278)).alias("paris_london"),
        sp.haversine_km(F.lit(12.5), F.lit(7.25), F.lit(12.5), F.lit(7.25)).alias("self"),
    )
    r = df.collect()[0]
    quarter = math.pi * sp.EARTH_RADIUS_KM / 2
    assert abs(r.pole - quarter) < 0.01
    # near-antipodal regression: unclamped asin(sqrt(1+4e-16)) is NaN
    na = spark.range(1).select(sp.haversine_km(
        F.lit(-70.36958773), F.lit(18.45620859),
        F.lit(70.36958777), F.lit(-161.54379140)).alias("d")).collect()[0]
    assert not math.isnan(na.d) and 20000 < na.d < 20030
    assert abs(r.anti - 2 * quarter) < 0.01
    assert abs(r.paris_london - 343.5) < 1.5  # published great-circle distance
    assert r.self == 0.0


def test_pip_jvm_fold_matches_raycast_on_star_polygons(spark):
    """r5: the exact PIP test is a pure-JVM aggregate() fold — it must
    equal the numpy even-odd oracle on NON-convex star rings too (the
    cell prefilter is a superset either way)."""
    import numpy as np

    from hgt2osm2_spark.ops.spatial import _ray_crossings

    rng = np.random.default_rng(7)
    polys = []
    for pid in range(6):
        k = int(rng.integers(3, 9))
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        r = rng.uniform(0.2, 1.0, k) if pid % 2 else np.full(k, 0.8)
        cx, cy = rng.uniform(-2, 2, 2)
        polys.append((f"p{pid}", (cx + r * np.cos(ang)).tolist(),
                      (cy + r * np.sin(ang)).tolist()))
    pts = [(f"q{i}", float(rng.uniform(-3, 3)), float(rng.uniform(-3, 3)))
           for i in range(1500)]
    pdf = spark.createDataFrame(polys, ["poly_id", "xs", "ys"])
    qdf = spark.createDataFrame(pts, ["q_id", "lat", "lon"])
    got = {(r["q_id"], r["poly_id"])
           for r in spatial.pip_join(qdf, pdf, res=4).collect()}
    want = set()
    for qid, lat, lon in pts:
        for pid, xs, ys in polys:
            if _ray_crossings(np.array([lon]), np.array([lat]),
                              np.array(xs), np.array(ys))[0]:
                want.add((qid, pid))
    assert got == want and len(want) > 0


def test_pip_join_empty_polygons(spark):
    """ADVICE r5: an empty polygon side must short-circuit to an empty
    result (the unrolled-expression path built no predicate and passed
    None to filter)."""
    pts = spark.createDataFrame([(1, 0.5, 0.5)], "q_id long, lat double, lon double")
    polys = spark.createDataFrame([], "poly_id long, xs array<double>, ys array<double>")
    out = spatial.pip_join(pts, polys)
    assert out.count() == 0
    assert out.columns == ["q_id", "poly_id", "lat", "lon"]


def test_pip_hits_payload_collision_safety(spark):
    """ADVICE r7 #4: a point-side payload named cell/xs/ys must pass
    through pip_hits untouched (collision-safe __pip_* internals), and
    a points frame already carrying poly_id must raise."""
    import pandas as pd

    polys = polygons_df(spark, n_polys=6)
    pts = query_points_df(spark, n_points=50)
    # payload columns with the previously-reserved names
    loaded = pts.withColumn("cell", F.lit("payload-cell")) \
                .withColumn("xs", F.array(F.lit(1.0), F.lit(2.0))) \
                .withColumn("ys", F.array(F.lit(3.0)))
    hits = spatial.pip_hits(loaded, polys).collect()
    base = {(r["q_id"], r["poly_id"])
            for r in spatial.pip_hits(pts, polys).collect()}
    assert {(r["q_id"], r["poly_id"]) for r in hits} == base
    assert len(hits) > 0
    for r in hits:
        assert r["cell"] == "payload-cell"
        assert list(r["xs"]) == [1.0, 2.0] and list(r["ys"]) == [3.0]
    with pytest.raises(ValueError, match="reserved"):
        spatial.pip_hits(pts.withColumn("poly_id", F.lit(1)), polys)
