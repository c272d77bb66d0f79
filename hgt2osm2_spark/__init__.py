"""hgt2osm2_spark — a PySpark-native spatial-join + tiling engine.

From-scratch re-imagination of the capabilities of FSofTlpz/Hgt2Osm2
(reference at /root/reference, C#, GPL-3): HGT elevation rasters ->
OSM contour-line vectors, rebuilt as a general raster<->vector toolkit
over a table of image+caption pairs, expressed Spark-first
(DataFrame/SQL + Arrow-vectorized UDFs, no per-row Python).

Layout:
  kernels/    pure NumPy/Python kernels (marching triangles, stitching,
              Douglas-Peucker, codecs) — no Spark imports, unit-testable
  sources/    synthetic tiles generator, decode (mapInArrow)
  ops/        Spark operators: contours, spatial joins, dedup, text,
              similarity, multimodal
  sinks/      OSM XML, ArcInfo ASCII grid, merge/union
  plans/      end-to-end pipeline + checkpoint/lineage/resume
  streaming/  optional Structured Streaming ingestion wrapper

Importing the package installs a backport of Python 3.13's cheap
zipimporter cache invalidation (_zipcache.py). Every engine kernel runs
in a Python worker, and on Python < 3.13 each task there re-reads the
central directory of pyspark.zip (and of any --py-files zip) for every
cached zipimporter: ~250 ms of CPU per task, before any user code runs.
Unpickling an engine UDF imports this package, so a reused worker reads
each archive once more and then again only when its size or mtime
changes; new archives, such as those added by addPyFile, are read too.
"""

from hgt2osm2_spark import _zipcache

_zipcache.install()

__version__ = "0.1.0"

NOVALUE = -32768  # sentinel for missing raster samples (HGTReader.cs:100)
