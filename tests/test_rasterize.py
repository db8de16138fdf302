"""ALL_TOUCHED rasterize: the supercover edge walk must mark exactly the
cells a polygon edge passes through (GDALdllImageLineAllTouched analog,
alg/llrasterize.cpp), plus the center-contained interior."""

import numpy as np

from gdal_spark.operators.rasterize import _supercover_mask


def _brute_touched(ring, lon_e, lat_e):
    """Reference: a cell is touched by an edge iff the segment intersects
    the closed cell rectangle (dense t-sampling, ample resolution)."""
    n = len(lon_e) - 1
    mask = np.zeros((n, n), dtype=bool)
    for k in range(ring.shape[0] - 1):
        (x0, y0), (x1, y1) = ring[k], ring[k + 1]
        t = np.linspace(0.0, 1.0, 800001)
        px = x0 + t * (x1 - x0)
        py = y0 + t * (y1 - y0)
        # open-rectangle semantics: samples exactly on a cell boundary
        # don't belong to any open cell (matches the operator's
        # convention for corner-grazing edges)
        on_b = np.isin(px, lon_e) | np.isin(py, lat_e)
        px, py = px[~on_b], py[~on_b]
        ix = np.clip(np.searchsorted(lon_e, px) - 1, 0, n - 1)
        iy = np.clip(np.searchsorted(lat_e, py) - 1, 0, n - 1)
        mask[iy, ix] = True
    return mask


def test_supercover_matches_brute_force_triangle():
    lon_e = np.linspace(0.0, 16.0, 257)
    lat_e = np.linspace(0.0, 16.0, 257)
    ring = np.array(
        [[1.3, 2.7], [14.1, 5.9], [6.2, 13.8], [1.3, 2.7]], dtype=np.float64
    )
    got = _supercover_mask(ring, lon_e, lat_e)
    want = _brute_touched(ring, lon_e, lat_e)
    assert (got == want).all()


def test_supercover_steep_and_axis_parallel_edges():
    lon_e = np.linspace(-8.0, 8.0, 257)
    lat_e = np.linspace(-8.0, 8.0, 257)
    # vertical, horizontal, and a nearly-vertical steep edge
    ring = np.array(
        [[-5.55, -6.1], [-5.55, 6.2], [6.3, 6.2], [-5.54999, -6.1],
         [-5.55, -6.1]],
        dtype=np.float64,
    )
    got = _supercover_mask(ring, lon_e, lat_e)
    want = _brute_touched(ring, lon_e, lat_e)
    assert (got == want).all()


def test_supercover_clips_outside_grid():
    lon_e = np.linspace(0.0, 1.0, 257)
    lat_e = np.linspace(0.0, 1.0, 257)
    ring = np.array([[-3.0, 0.5], [4.0, 0.5], [-3.0, 0.5]], dtype=np.float64)
    got = _supercover_mask(ring, lon_e, lat_e)
    # the horizontal line at y=0.5 crosses the whole row containing 0.5
    iy = np.searchsorted(lat_e, 0.5) - 1
    assert got[iy, :].all()
    other = np.ones(256, dtype=bool)
    other[iy] = False
    assert not got[other, :].any()


def test_degenerate_triangle_burns_as_a_triangle(spark):
    """A triangle written with a repeated vertex (5 points, two x and two
    y values) is not IsRectangle, so it burns exactly like the same
    triangle written with 4 points, not like its envelope."""
    from gdal_spark.operators.rasterize import rasterize_counts

    def burned(wkt):
        z = spark.createDataFrame([(1, wkt)], "zone_id long, geom_wkt string")
        return sorted(
            tuple(r) for r in rasterize_counts(z, 3).collect()
        )

    tri = burned("POLYGON ((0 0,0 0,10 0,10 10,0 0))")
    assert tri == burned("POLYGON ((0 0,10 0,10 10,0 0))")
    assert tri != burned("POLYGON ((0 0,10 0,10 10,0 10,0 0))")
