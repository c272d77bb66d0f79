"""The spark-submit --py-files artifact must actually work: build the
zip, then import and RUN a kernel from it in a clean subprocess whose
sys.path contains the zip instead of the repo (exactly what an executor
does with a --py-files archive)."""

import subprocess
import sys
import tempfile

from tools.make_pyfiles import build


def test_zip_is_importable_and_runs_a_kernel():
    out = build(tempfile.mkdtemp(prefix="pyfiles_"))
    probe = f"""
import sys
sys.path = [p for p in sys.path if 'repo' not in p]
sys.path.insert(0, {out!r})
import hgt2osm2_spark
assert 'hgt2osm2_spark.zip' in hgt2osm2_spark.__file__, hgt2osm2_spark.__file__
import numpy as np
from hgt2osm2_spark.kernels import codecs, gif, marching
from hgt2osm2_spark.kernels.fixtures import TEST1
# run a real kernel path end-to-end from the zip
segs = marching.extract_segments(TEST1, 20, -0.5)
assert len(segs) == 28
img = np.full((8, 8, 3), 99, np.uint8)
assert (gif.decode_gif_rgb8(gif.encode_gif_rgb8(img)) == gif.websafe_quantize(img)).all()
print('ZIPIMPORT_OK')
"""
    res = subprocess.run(
        [sys.executable, "-c", probe], capture_output=True, text=True, timeout=120
    )
    assert res.returncode == 0, res.stderr
    assert "ZIPIMPORT_OK" in res.stdout


def test_add_py_file_mid_session_reaches_warm_workers(spark, tmp_path):
    """addPyFile after the workers already unpickled an engine UDF (and
    so run with the zipimporter cache backport) must still make the new
    zip importable there: PySpark invalidates import caches on every
    task for exactly this."""
    import uuid
    import zipfile

    import pandas as pd

    def engine_udf(it):
        import zipimport

        import hgt2osm2_spark  # noqa: F401  (installs the backport)

        patched = zipimport.zipimporter.invalidate_caches.__module__
        for b in it:
            yield pd.DataFrame({"patched": [patched] * len(b)})

    warm = spark.range(0, 16, 1, 8).mapInPandas(engine_udf, "patched string")
    if sys.version_info < (3, 13):
        assert {r.patched for r in warm.collect()} == {
            "hgt2osm2_spark._zipcache"}

    name = f"pyfiles_probe_{uuid.uuid4().hex}"
    path = str(tmp_path / f"{name}.zip")
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{name}.py", "def triple(v):\n    return 3 * v\n")
    spark.sparkContext.addPyFile(path)

    def probe(it):
        import importlib

        warm = "hgt2osm2_spark" in sys.modules
        mod = importlib.import_module(name)
        for b in it:
            yield pd.DataFrame({"id": mod.triple(b["id"]), "warm": warm})

    rows = (spark.range(0, 16, 1, 4)
            .mapInPandas(probe, "id long, warm boolean").collect())
    assert sorted(r.id for r in rows) == [3 * i for i in range(16)]
    assert any(r.warm for r in rows)
