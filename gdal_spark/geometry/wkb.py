"""WKB codec (full simple-features type set) + WKB-level envelope.

The reference's Arrow export ships geometry as WKB binary
(ogr/ogrsf_frmts/generic/ogrlayerarrow.cpp:2562 ``ogc.wkb``) and runs
envelope / pessimistic-intersects prefilters DIRECTLY on the WKB bytes
without a full parse (ogr/ogr_wkb.cpp:574 OGRWKBGetBoundingBox, :687
intersects pretest).  This module mirrors that: geometry travels as a
``BinaryType`` column, and :func:`wkb_envelope` walks only the
ring-header offsets, reading coordinates via zero-copy numpy views —
no geometry objects are built for the prefilter.

Little-endian (NDR) encoding, 2-D, matching the reference's default
export (wkbNDR).
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = [
    "wkt_payload_to_wkb",
    "wkb_to_payload",
    "wkb_envelope",
    "wkb_type",
    "wkb_is_rectangle",
]

_POINT = 1
_LINESTRING = 2
_POLYGON = 3
_MULTIPOINT = 4
_MULTILINESTRING = 5
_MULTIPOLYGON = 6
_GEOMETRYCOLLECTION = 7


def wkt_payload_to_wkb(typ: str, payload) -> bytes:
    """Parsed-WKT payload (geometry/wkt.py shapes) -> WKB bytes.

    Container members carry their own full WKB header (byte order +
    type), per OGC SFA 1.2.1 / the reference's exportToWkb
    (ogr/ogrgeometrycollection.cpp exportToWkbInternal)."""
    if typ == "POINT":
        x, y = payload[0][0]
        return struct.pack("<BIdd", 1, _POINT, float(x), float(y))
    if typ in ("LINESTRING", "LINEARRING"):
        pts = np.asarray(payload[0], dtype="<f8")
        return (
            struct.pack("<BII", 1, _LINESTRING, len(pts)) + pts.tobytes()
        )
    if typ == "POLYGON":
        out = [struct.pack("<BII", 1, _POLYGON, len(payload))]
        for ring in payload:
            r = np.asarray(ring, dtype="<f8")
            out.append(struct.pack("<I", len(r)))
            out.append(r.tobytes())
        return b"".join(out)
    if typ == "MULTIPOINT":
        pts = payload[0] if payload else np.empty((0, 2))
        out = [struct.pack("<BII", 1, _MULTIPOINT, len(pts))]
        for x, y in pts:
            out.append(struct.pack("<BIdd", 1, _POINT, float(x), float(y)))
        return b"".join(out)
    if typ == "MULTILINESTRING":
        out = [struct.pack("<BII", 1, _MULTILINESTRING, len(payload))]
        for part in payload:
            out.append(wkt_payload_to_wkb("LINESTRING", [part]))
        return b"".join(out)
    if typ == "MULTIPOLYGON":
        out = [struct.pack("<BII", 1, _MULTIPOLYGON, len(payload))]
        for poly in payload:
            out.append(wkt_payload_to_wkb("POLYGON", poly))
        return b"".join(out)
    if typ == "GEOMETRYCOLLECTION":
        out = [struct.pack("<BII", 1, _GEOMETRYCOLLECTION, len(payload))]
        for t, p in payload:
            out.append(wkt_payload_to_wkb(t, p))
        return b"".join(out)
    raise ValueError(f"unsupported geometry type for WKB: {typ}")


def _read_rings(buf: bytes, off: int, nrings: int):
    rings = []
    for _ in range(nrings):
        (npts,) = struct.unpack_from("<I", buf, off)
        off += 4
        rings.append(
            np.frombuffer(buf, dtype="<f8", count=2 * npts, offset=off)
            .reshape(npts, 2)
            .astype(np.float64)
        )
        off += 16 * npts
    return rings, off


def wkb_type(buf: bytes) -> int:
    (g,) = struct.unpack_from("<I", buf, 1)
    return g & 0xFF


def _decode(buf: bytes, off: int):
    """Recursive member decode -> (type, payload, next offset)."""
    (gtype,) = struct.unpack_from("<I", buf, off + 1)
    gtype &= 0xFF
    off += 5
    if gtype == _POINT:
        x, y = struct.unpack_from("<dd", buf, off)
        return "POINT", [np.array([[x, y]])], off + 16
    if gtype == _LINESTRING:
        (npts,) = struct.unpack_from("<I", buf, off)
        pts = (
            np.frombuffer(buf, dtype="<f8", count=2 * npts, offset=off + 4)
            .reshape(npts, 2)
            .astype(np.float64)
        )
        return "LINESTRING", [pts], off + 4 + 16 * npts
    if gtype == _POLYGON:
        (nrings,) = struct.unpack_from("<I", buf, off)
        rings, off = _read_rings(buf, off + 4, nrings)
        return "POLYGON", rings, off
    if gtype == _MULTIPOINT:
        (npts,) = struct.unpack_from("<I", buf, off)
        off += 4
        pts = np.empty((npts, 2), dtype=np.float64)
        for i in range(npts):
            pts[i] = struct.unpack_from("<dd", buf, off + 5)
            off += 21
        return "MULTIPOINT", [pts], off
    if gtype == _MULTILINESTRING:
        (n,) = struct.unpack_from("<I", buf, off)
        off += 4
        parts = []
        for _ in range(n):
            _, p, off = _decode(buf, off)
            parts.append(p[0])
        return "MULTILINESTRING", parts, off
    if gtype == _MULTIPOLYGON:
        (npolys,) = struct.unpack_from("<I", buf, off)
        off += 4
        polys = []
        for _ in range(npolys):
            (nrings,) = struct.unpack_from("<I", buf, off + 5)
            rings, off = _read_rings(buf, off + 9, nrings)
            polys.append(rings)
        return "MULTIPOLYGON", polys, off
    if gtype == _GEOMETRYCOLLECTION:
        (n,) = struct.unpack_from("<I", buf, off)
        off += 4
        members = []
        for _ in range(n):
            t, p, off = _decode(buf, off)
            members.append((t, p))
        return "GEOMETRYCOLLECTION", members, off
    raise ValueError(f"unsupported WKB geometry type: {gtype}")


def wkb_to_payload(buf: bytes):
    """WKB bytes -> (type, payload) in the parse_wkt shapes."""
    typ, payload, _ = _decode(bytes(buf), 0)
    return typ, payload


def wkb_envelope(buf: bytes):
    """(xmin, ymin, xmax, ymax) straight off the WKB bytes — the
    OGRWKBGetBoundingBox analog (ogr_wkb.cpp:574): only ring headers are
    decoded; coordinates are scanned as one zero-copy f8 view per ring."""
    gtype = wkb_type(buf)
    if gtype == _POINT:
        x, y = struct.unpack_from("<dd", buf, 5)
        return (x, y, x, y)
    xmin = ymin = np.inf
    xmax = ymax = -np.inf

    def scan_poly(off):
        nonlocal xmin, ymin, xmax, ymax
        (nrings,) = struct.unpack_from("<I", buf, off + 5)
        o = off + 9
        for _ in range(nrings):
            (npts,) = struct.unpack_from("<I", buf, o)
            o += 4
            pts = np.frombuffer(buf, dtype="<f8", count=2 * npts, offset=o)
            xs = pts[0::2]
            ys = pts[1::2]
            xmin = min(xmin, xs.min())
            xmax = max(xmax, xs.max())
            ymin = min(ymin, ys.min())
            ymax = max(ymax, ys.max())
            o += 16 * npts
        return o

    if gtype == _POLYGON:
        scan_poly(0)
    elif gtype == _MULTIPOLYGON:
        (npolys,) = struct.unpack_from("<I", buf, 5)
        off = 9
        for _ in range(npolys):
            off = scan_poly(off)
    elif gtype in (_LINESTRING, _MULTIPOINT, _MULTILINESTRING,
                   _GEOMETRYCOLLECTION):
        # non-areal / container types: envelope via the decoder (these
        # never sit on the corpus-side prefilter hot path)
        typ, payload = wkb_to_payload(buf)

        def walk(t, p):
            nonlocal xmin, ymin, xmax, ymax
            if t == "GEOMETRYCOLLECTION":
                for mt, mp in p:
                    walk(mt, mp)
                return
            arrs = (
                [r for rings in p for r in rings] if t == "MULTIPOLYGON" else p
            )
            for a in arrs:
                if len(a):
                    xmin = min(xmin, a[:, 0].min())
                    xmax = max(xmax, a[:, 0].max())
                    ymin = min(ymin, a[:, 1].min())
                    ymax = max(ymax, a[:, 1].max())

        walk(typ, payload)
    else:
        raise ValueError(f"unsupported WKB geometry type: {gtype}")
    return (float(xmin), float(ymin), float(xmax), float(ymax))


def wkb_is_rectangle(buf: bytes) -> bool:
    """``IsRectangle`` (ogrgeometry.cpp:8822) of WKB bytes: the
    :func:`gdal_spark.geometry.envelope.is_rectangle` rule on the
    decoded rings, so WKB and WKT layers route identically."""
    from gdal_spark.geometry.envelope import is_rectangle

    return is_rectangle(*wkb_to_payload(buf))


def wkb_intersects_pessimistic(
    buf: bytes, xmin: float, ymin: float, xmax: float, ymax: float
) -> bool:
    """OGRWKBIntersectsPessimistic analog (ogr/ogr_wkb.cpp:687,796):
    sure-ACCEPT prefilter straight off the WKB bytes — True means the
    geometry DEFINITELY intersects the envelope (a vertex of the point /
    exterior ring lies inside, inclusive bounds, inner rings skipped per
    the reference); False means "unknown, run the exact test"."""
    gtype = wkb_type(buf)
    if gtype == _POINT:
        x, y = struct.unpack_from("<dd", buf, 5)
        return xmin <= x <= xmax and ymin <= y <= ymax

    def ring0_hit(off):
        """(hit, offset_after_polygon) for the polygon at ``off``."""
        (nrings,) = struct.unpack_from("<I", buf, off + 5)
        o = off + 9
        hit = False
        for k in range(nrings):
            (npts,) = struct.unpack_from("<I", buf, o)
            o += 4
            if k == 0:
                pts = np.frombuffer(buf, dtype="<f8", count=2 * npts, offset=o)
                xs = pts[0::2]
                ys = pts[1::2]
                hit = bool(
                    ((xs >= xmin) & (xs <= xmax) & (ys >= ymin) & (ys <= ymax))
                    .any()
                )
            o += 16 * npts
        return hit, o

    if gtype == _POLYGON:
        return ring0_hit(0)[0]
    if gtype == _MULTIPOLYGON:
        (npolys,) = struct.unpack_from("<I", buf, 5)
        off = 9
        for _ in range(npolys):
            hit, off = ring0_hit(off)
            if hit:
                return True
        return False
    raise ValueError(f"unsupported WKB geometry type: {gtype}")
