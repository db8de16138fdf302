"""Vectorized ray-casting point-in-polygon.

Numpy port of the reference's native (non-GEOS) kernel
OGRLinearRing::isPointInRing (ogr/ogrlinearring.cpp:453-532): for each
ring segment (p_{i-1}, p_i), count crossings of the +x ray from the test
point; odd crossing count = inside.  Same even/odd rule, same strict
``intersection > 0`` / half-open ``(y1>0)&(y2<=0)`` conditions, so edge
behavior matches the reference bit-for-bit on non-degenerate input.

All functions are (M points) x (ring) vectorized — this is the refine
step that runs inside Arrow-batched pandas UDFs after the cell-key join.
"""

from __future__ import annotations

import numpy as np

__all__ = ["points_in_ring", "points_in_polygon", "points_in_polygon_wkt"]


def points_in_ring(xs: np.ndarray, ys: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even/odd crossing test of M points against one closed ring.

    xs, ys : (M,) float64; ring : (N,2) float64, first==last point.
    Returns (M,) bool.  Port of ogrlinearring.cpp:499-532 (crossing loop).
    """
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    if ring.shape[0] < 4:
        return np.zeros(xs.shape[0], dtype=bool)
    # envelope pretest (ogrlinearring.cpp:487-497)
    exmin, eymin = ring[:, 0].min(), ring[:, 1].min()
    exmax, eymax = ring[:, 0].max(), ring[:, 1].max()
    in_env = (xs >= exmin) & (xs <= exmax) & (ys >= eymin) & (ys <= eymax)
    out = np.zeros(xs.shape[0], dtype=bool)
    if not in_env.any():
        return out
    px = xs[in_env]
    py = ys[in_env]
    # segment endpoints relative to each test point: (m, nseg)
    x1 = ring[1:, 0][None, :] - px[:, None]
    y1 = ring[1:, 1][None, :] - py[:, None]
    x2 = ring[:-1, 0][None, :] - px[:, None]
    y2 = ring[:-1, 1][None, :] - py[:, None]
    straddles = ((y1 > 0) & (y2 <= 0)) | ((y2 > 0) & (y1 <= 0))
    with np.errstate(divide="ignore", invalid="ignore"):
        intersection = (x1 * y2 - x2 * y1) / (y2 - y1)
    crossings = (straddles & (intersection > 0.0)).sum(axis=1)
    out[in_env] = (crossings % 2).astype(bool)
    return out


def points_in_polygon(
    xs: np.ndarray, ys: np.ndarray, rings: list[np.ndarray]
) -> np.ndarray:
    """Even/odd rule over all rings (shell + holes): a point inside the
    shell but inside a hole flips back to outside — matches GEOS/OGR
    polygon containment for valid polygons."""
    inside = np.zeros(np.asarray(xs).shape[0], dtype=bool)
    for ring in rings:
        inside ^= points_in_ring(xs, ys, ring)
    return inside


def points_in_polygon_wkt(xs, ys, wkt: str) -> np.ndarray:
    from gdal_spark.geometry.envelope import closed_polys
    from gdal_spark.geometry.wkt import parse_wkt

    typ, payload = parse_wkt(wkt)
    if typ not in ("POLYGON", "MULTIPOLYGON"):
        raise ValueError(f"PIP needs polygonal WKT, got {typ}")
    inside = np.zeros(np.asarray(xs).shape[0], dtype=bool)
    for poly in closed_polys(typ, payload):
        inside |= points_in_polygon(xs, ys, poly)
    return inside
