"""HGT2OSM2_NO_CKERNEL must yield a working, VALUE-IDENTICAL engine.

The C fast paths (kernels/*_cext.py) promise a pure-Python fallback at
every boundary. The kernel-level twins are parity-pinned in
test_cext.py; this test proves the claim END-TO-END through Spark
worker processes: a clean subprocess with the env pin runs the fused
contour pipeline on real tiles at local[2] and must reproduce the
C-enabled node stream hash exactly (env vars set before JVM start
propagate to the python workers, so the pin reaches every executor
task). The probe also prints every C kernel's ``available()``, so the
test proves it compares the C path against the Python twin rather than
Python against Python after a silently failed build."""

import json
import os
import shutil
import subprocess
import sys

import pytest

PROBE = """
import json
from hgt2osm2_spark.config import ContourOptions
from hgt2osm2_spark.kernels import (
    marching_cext, postprocess_cext, stitch_cext, terrain_cext,
)
from hgt2osm2_spark.plans.pipeline import run_contour_pipeline
from hgt2osm2_spark.session import get_spark
from hgt2osm2_spark.sources import synthetic

spark = get_spark("fallback-probe", cores=2, shuffle_partitions=4)
tiles = synthetic.tiles_df(spark, n_tiles=2, size=65, partitions=2)
res = run_contour_pipeline(tiles, ContourOptions(), band_rows=None)
row = res.nodes.selectExpr(
    "count(*) AS n", "sum(hash(node_id, lat, lon)) AS h"
).collect()[0]
avail = [m.available() for m in (marching_cext, stitch_cext,
                                 postprocess_cext, terrain_cext)]
print("PROBE_RESULT " + json.dumps({"n": row["n"], "h": row["h"],
                                    "available": avail}))
spark.stop()
"""


def _run(extra_env):
    env = dict(os.environ)
    env.update(extra_env)
    p = subprocess.run(
        [sys.executable, "-c", PROBE],
        capture_output=True, text=True, timeout=600,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=env,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    line = [ln for ln in p.stdout.splitlines() if ln.startswith("PROBE_RESULT ")]
    assert line, p.stdout[-2000:]
    return json.loads(line[0].split(" ", 1)[1])


@pytest.mark.skipif(shutil.which("gcc") is None,
                    reason="gcc not on PATH: there is no C path to compare")
def test_no_ckernel_env_reproduces_c_node_stream():
    with_c = _run({"HGT2OSM2_NO_CKERNEL": ""})
    no_c = _run({"HGT2OSM2_NO_CKERNEL": "1"})
    assert with_c.pop("available") == [True] * 4
    assert no_c.pop("available") == [False] * 4
    assert with_c["n"] > 0
    assert with_c == no_c
