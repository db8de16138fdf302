"""Envelope (bbox) extraction — analog of OGRWKBGetBoundingBox
(ogr/ogr_wkb.cpp:574) and OGRGeometry::getEnvelope — plus the one
zone-geometry decoder every spatial join reads its method layer through.

The envelope is the engine's first-stage filter everywhere, mirroring the
reference's bbox short-circuits (ogr/ogrgeometry.cpp:586-593 bbox reject;
ogr/ogrsf_frmts/generic/ogrlayer.cpp:2276-2303 rect-filter accept).

:class:`ZoneGeometry` is the one decoded form of a zone (WKT str or WKB
bytes): polygons with closed rings, envelope and ``IsRectangle`` flag.
The broadcast joins build it once per zone on the driver when they
prepare their cell index; the ray-cast refine, the clip kernels and the
STR-tree joins read it through the executor cache :func:`zone_geometry`,
so every path agrees on every zone by construction.
"""

from __future__ import annotations

from functools import cached_property

import numpy as np

from gdal_spark.geometry.boolean import (
    is_rectilinear,
    rectilinear_rects,
    weighted_triangles,
)
from gdal_spark.geometry.wkb import wkb_to_payload
from gdal_spark.geometry.wkt import parse_wkt

__all__ = [
    "wkt_envelope",
    "envelopes_intersect",
    "wkt_is_rectangle",
    "is_rectangle",
    "as_polys",
    "decode",
    "zone_geometry",
    "ZoneGeometry",
]


def _rings_envelope(arrays) -> tuple[float, float, float, float]:
    if not arrays:
        return (np.nan, np.nan, np.nan, np.nan)
    allc = np.vstack(arrays)
    return (
        float(allc[:, 0].min()),
        float(allc[:, 1].min()),
        float(allc[:, 0].max()),
        float(allc[:, 1].max()),
    )


def wkt_envelope(wkt: str) -> tuple[float, float, float, float]:
    """(xmin, ymin, xmax, ymax) of any supported WKT geometry."""
    typ, payload = parse_wkt(wkt)
    if typ == "MULTIPOLYGON":
        return _rings_envelope([ring for poly in payload for ring in poly])
    return _rings_envelope(payload)


def envelopes_intersect(a, b) -> bool:
    """bbox overlap test (inclusive), the reject step of Intersects
    (ogrgeometry.cpp:586-593)."""
    return not (a[2] < b[0] or b[2] < a[0] or a[3] < b[1] or b[3] < a[1])


def is_rectangle(typ: str, payload) -> bool:
    """``OGRGeometry::IsRectangle`` (ogr/ogrgeometry.cpp:8822-8860) on a
    decoded geometry: single-ring POLYGON, 4 or 5 points (5th closing
    the ring), segments alternating axis-parallel starting in either
    the x or y direction.

    The spatial-filter machinery uses this to install the envelope-only
    fast path (``InstallFilter`` sets ``m_bFilterIsEnvelope``,
    ogrlayer.cpp:2171; ``FilterGeometry`` then short-circuits the exact
    predicate, ogrlayer.cpp:2287-2299)."""
    if typ != "POLYGON" or len(payload) != 1:
        return False
    ring = payload[0]
    n = ring.shape[0]
    if n > 5 or n < 4:
        return False
    if n == 5 and (ring[0, 0] != ring[4, 0] or ring[0, 1] != ring[4, 1]):
        return False
    x, y = ring[:, 0], ring[:, 1]
    # first segment in "y" direction
    if x[0] == x[1] and y[1] == y[2] and x[2] == x[3] and y[3] == y[0]:
        return True
    # first segment in "x" direction
    if y[0] == y[1] and x[1] == x[2] and y[2] == y[3] and x[3] == x[0]:
        return True
    return False


def wkt_is_rectangle(wkt: str) -> bool:
    """:func:`is_rectangle` of a WKT geometry."""
    return is_rectangle(*parse_wkt(wkt))


def as_polys(typ: str, payload) -> list:
    """A decoded polygonal geometry as a list of polygons (each a list
    of rings, ring 0 the shell)."""
    return payload if typ == "MULTIPOLYGON" else [payload]


def _closed(ring: np.ndarray) -> np.ndarray:
    """``ring`` with its first vertex repeated at the end when the
    decoder handed back an unclosed spelling (both decoders accept one)."""
    if len(ring) and (ring[0] != ring[-1]).any():
        return np.vstack([ring, ring[:1]])
    return ring


def decode(g, geom_format: str):
    """(typ, payload) of a WKT string (``geom_format="wkt"``) or WKB
    bytes (``"wkb"``)."""
    return wkb_to_payload(bytes(g)) if geom_format == "wkb" else parse_wkt(g)


class ZoneGeometry:
    """One decoded zone: ``polys`` (:func:`as_polys`, every ring closed
    once here so the ray-cast, the fan triangles and the areas all see
    the closing edge), ``env`` (xmin, ymin, xmax, ymax) and ``is_rect``
    (:func:`is_rectangle` on the payload as decoded).  The clip kernels'
    fan triangles and rectilinear cover are derived on first use and
    kept in the same entry."""

    def __init__(self, typ: str, payload):
        self.polys = [[_closed(r) for r in poly] for poly in as_polys(typ, payload)]
        self.env = _rings_envelope([r for poly in self.polys for r in poly])
        self.is_rect = is_rectangle(typ, payload)

    @cached_property
    def tris(self) -> tuple[np.ndarray, np.ndarray]:
        """(triangles, weights) of the signed fan decomposition."""
        return weighted_triangles(self.polys)

    @cached_property
    def rects(self) -> np.ndarray | None:
        """Disjoint axis-aligned rects covering a rectilinear zone's
        interior, None when some edge is not axis-parallel."""
        if not is_rectilinear(self.polys):
            return None
        return rectilinear_rects(self.polys)


# executor-level decoded-zone cache for the kernels that read the zone
# geometry carried on their candidate rows (refine, clip, burn): each
# distinct geometry is decoded at most once per executor process.  The
# broadcast joins' driver-side prepare decodes its bounded dim layer
# once per call with ZoneGeometry(*decode(g)) and keeps nothing; the
# shuffle path never collects the layer at all.
_ZONE_CACHE: dict = {}
_ZONE_CACHE_MAX = 65536


def zone_geometry(g, geom_format: str) -> ZoneGeometry:
    """The cached :class:`ZoneGeometry` of a WKT string
    (``geom_format="wkt"``) or WKB bytes (``"wkb"``)."""
    if geom_format == "wkb":
        g = bytes(g)  # Arrow may hand back bytearray (unhashable)
    z = _ZONE_CACHE.get(g)
    if z is None:
        z = ZoneGeometry(*decode(g, geom_format))
        if len(_ZONE_CACHE) >= _ZONE_CACHE_MAX:
            _ZONE_CACHE.clear()
        _ZONE_CACHE[g] = z
    return z
