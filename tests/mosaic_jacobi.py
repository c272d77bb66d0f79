"""Block-Jacobi twin of mosaic_fill's single solve (test-only).

Round 1 treats every interior seam as an impassable-high FILL_WALL
(NOVALUE where the mosaic ends) — an upper bound on the true boundary
values. Each round cogroups the tiles with the current W strips, runs
the UNCHANGED per-tile fill kernel on the halo-augmented grid and
ships fresh W strips; the iteration is monotone decreasing, so it
converges to the greatest fixpoint of the global minimax equation —
the true mosaic fill — after as many rounds as the deepest cross-seam
depression spans seams (+1). tests/test_mosaic.py pins the production
single solve's strips equal to this fixpoint.
"""
from pyspark.sql import functions as F

from hgt2osm2_spark.ops import mosaic as M


def converged_fill_strips(tiles, sc, max_rounds):
    """The converged perimeter W strips (STRIP_SCHEMA, cached in `sc`);
    raises after max_rounds."""

    # nested, so it is pickled by value: Python workers cannot import
    # modules under tests/
    def fill_strips(t, strips):
        """One halo round for one tile: fill -> its outgoing W strips."""
        return M._edge_strips(M._fill_W(t, strips), t.img)

    zstrips = sc.hold(M.halo_strips(tiles).cache())
    wall = zstrips.select(
        "image_id", "side", "pos", "pos2",
        F.when(F.col("val") == int(M.NOVALUE), F.col("val"))
        .otherwise(F.lit(M.FILL_WALL)).cast("long").alias("val"),
    )
    return M._fixpoint(
        lambda s: M._per_tile(tiles, wall if s is None else s,
                              fill_strips, M.STRIP_SCHEMA),
        sc, max_rounds, "mosaic_fill")
