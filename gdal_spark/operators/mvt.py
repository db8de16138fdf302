"""MVT (Mapbox Vector Tile) encoded sink — the vector half of the
encoded-tile story next to the PNG raster sink (tile_encode.py).

The reference ships a full MVT driver (ogr/ogrsf_frmts/mvt/ —
mvtutils.cpp layer/feature encoding, vector_tile.proto); here the
protobuf wire format (public: protobuf encoding spec + the MVT 2.1
spec) is hand-assembled so the byte stream is a PURE FUNCTION of the
features — every varint length and byte value is closed-form integer
arithmetic, which lets the registry's ``mvt_encode`` query carry an
exact DuckDB oracle over the ENCODED BYTES (total length + byte sum),
the same checksum-oracle role GDALChecksumImage plays for rasters.

Scope: one layer of POINT features per tile, no attributes (keys/values
empty) — the minimal conformant tile.  Canonical field order (fixed so
the bytes are deterministic): Layer.name (1), Layer.features (2, sorted
by feature id), Layer.extent (5), Layer.version (15); Feature.id (1),
Feature.type (3, POINT=1), Feature.geometry (4, packed: MoveTo command
9 = (id 1 | count 1 << 3) + zigzag x + zigzag y).

Scale shape: one shuffle keys features to their tile, one Arrow stage
per tile assembles bytes — identical partitioning to the PNG sink and
the pyramid builders.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

EXTENT = 4096
LAYER_NAME = b"points"


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag(v: int) -> int:
    return (v << 1) ^ (v >> 63)


def _feature(fid: int, px: int, py: int) -> bytes:
    geom = _varint(9) + _varint(_zigzag(px)) + _varint(_zigzag(py))
    body = (
        b"\x08" + _varint(fid)          # id (field 1, varint)
        + b"\x18\x01"                    # type (field 3) = POINT
        + b"\x22" + _varint(len(geom)) + geom  # geometry (field 4)
    )
    return b"\x12" + _varint(len(body)) + body  # Layer.features framing


def mvt_point_tile(features: list[tuple[int, int, int]]) -> bytes:
    """One Tile message with one point layer; ``features`` =
    (id, px, py) with 0 <= px, py < EXTENT, sorted by id here for
    determinism."""
    layer = b"\x0a" + _varint(len(LAYER_NAME)) + LAYER_NAME
    for fid, px, py in sorted(features):
        layer += _feature(fid, px, py)
    layer += b"\x28" + _varint(EXTENT)   # extent (field 5)
    layer += b"\x78\x02"                 # version (field 15) = 2
    return b"\x1a" + _varint(len(layer)) + layer  # Tile.layers framing


_TILE_SCHEMA = StructType(
    [
        StructField("tx", LongType()),
        StructField("ty", LongType()),
        StructField("mvt", BinaryType()),
        StructField("n_bytes", IntegerType()),
        StructField("byte_sum", LongType()),
    ]
)


def _encode_tiles(df: DataFrame, writer, cols: tuple[str, ...]) -> DataFrame:
    """One ``writer(*cols)`` call per (tx, ty) group -> (tx, ty, mvt,
    n_bytes, byte_sum).  Columns are read as int64, except ``attr``
    (strings)."""

    def enc(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        blob = writer(
            *(pdf[c].to_numpy(object if c == "attr" else np.int64) for c in cols)
        )
        arr = np.frombuffer(blob, dtype=np.uint8)
        return pd.DataFrame(
            {
                "tx": [key[0]],
                "ty": [key[1]],
                "mvt": [blob],
                "n_bytes": [len(blob)],
                "byte_sum": [int(arr.astype(np.int64).sum())],
            }
        )

    return df.groupBy("tx", "ty").applyInPandas(enc, _TILE_SCHEMA)


def encode_mvt_tiles(points: DataFrame) -> DataFrame:
    """(tx, ty, fid, px, py) -> one MVT tile per (tx, ty):
    (tx, ty, mvt, n_bytes, byte_sum)."""
    return _encode_tiles(points, mvt_point_tile_np, ("fid", "px", "py"))


# ------------------------------------------------------------ SQL oracle
# Closed-form varint accounting shared with the DuckDB oracle: length
# and byte-sum of varint(n) from base-128 digits (continuation bit adds
# 128 per non-final byte).


def sql_varint_len(n: str) -> str:
    return (
        f"(CASE WHEN ({n}) < 128 THEN 1 WHEN ({n}) < 16384 THEN 2 "
        f"WHEN ({n}) < 2097152 THEN 3 WHEN ({n}) < 268435456 THEN 4 "
        f"ELSE 5 END)"
    )


def sql_varint_bytesum(n: str) -> str:
    digits = (
        f"(({n}) % 128 + (CAST((({n}) - ({n}) % 128) / 128 AS BIGINT)) % 128"
        f" + (CAST((({n}) - ({n}) % 16384) / 16384 AS BIGINT)) % 128"
        f" + (CAST((({n}) - ({n}) % 2097152) / 2097152 AS BIGINT)) % 128"
        f" + (CAST((({n}) - ({n}) % 268435456) / 268435456 AS BIGINT)) % 128)"
    )
    return f"({digits} + 128 * ({sql_varint_len(n)} - 1))"


# ------------------------------------------------------------- polygons
# Polygon features (the MVT driver's main payload — mvtutils.cpp ring
# encoding): MoveTo(first vertex) + LineTo(n-1 vertices) + ClosePath,
# coordinates as zigzag DELTAS from the running cursor (cursor is
# per-feature).  Exterior rings wind clockwise in screen coordinates
# (positive shoelace area under y-down), per MVT 2.1 §4.3.3.2.


def _ring_geom(ring: list[tuple[int, int]]) -> bytes:
    """Command stream for one ring (vertices WITHOUT the closing
    repeat)."""
    out = _varint((1) | (1 << 3))  # MoveTo, count 1
    cx, cy = 0, 0
    x, y = ring[0]
    out += _varint(_zigzag(x - cx)) + _varint(_zigzag(y - cy))
    cx, cy = x, y
    out += _varint((2) | ((len(ring) - 1) << 3))  # LineTo, count n-1
    for x, y in ring[1:]:
        out += _varint(_zigzag(x - cx)) + _varint(_zigzag(y - cy))
        cx, cy = x, y
    out += _varint((7) | (1 << 3))  # ClosePath
    return out


def _feature_polygon(fid: int, ring: list[tuple[int, int]]) -> bytes:
    geom = _ring_geom(ring)
    body = (
        b"\x08" + _varint(fid)
        + b"\x18\x03"                       # type = POLYGON
        + b"\x22" + _varint(len(geom)) + geom
    )
    return b"\x12" + _varint(len(body)) + body


def mvt_rect_tile(features: list[tuple[int, int, int, int, int]]) -> bytes:
    """One Tile with one polygon layer of axis-aligned rectangles
    (fid, x0, y0, x1, y1) in tile pixels, y down; ring wound CW in
    screen space: (x0,y0) -> (x1,y0) -> (x1,y1) -> (x0,y1)."""
    layer = b"\x0a" + _varint(len(LAYER_NAME)) + LAYER_NAME
    for fid, x0, y0, x1, y1 in sorted(features):
        ring = [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]
        layer += _feature_polygon(fid, ring)
    layer += b"\x28" + _varint(EXTENT)
    layer += b"\x78\x02"
    return b"\x1a" + _varint(layer_len := len(layer)) + layer


def encode_mvt_rect_tiles(rects: DataFrame) -> DataFrame:
    """(tx, ty, fid, x0, y0, x1, y1) -> one MVT polygon tile per
    (tx, ty): (tx, ty, mvt, n_bytes, byte_sum)."""
    return _encode_tiles(
        rects, mvt_rect_tile_np, ("fid", "x0", "y0", "x1", "y1")
    )


# ---------------------------------------------------------- numpy writer
# The scalar encoders above are the readable spec; dense tiles (a busy
# zoom level can put 10^5-10^6 points in one tile) need the repo's
# no-per-row-Python rule, so the Spark kernel assembles the feature
# bytes VECTORIZED: per-feature lengths by varint-digit counting,
# one cumsum for segment offsets, and constant/digit scatters into a
# single uint8 buffer.  Parity with the scalar writer is pinned in
# tests/test_mvt.py.


# the digit counting below covers varints of at most 5 bytes
_VARINT_NP_LIMIT = 1 << 35


def _zigzag_np(v: np.ndarray) -> np.ndarray:
    """:func:`_zigzag` on an int64 array (any sign)."""
    return (v << 1) ^ (v >> 63)


def _varint_lens_np(vals: np.ndarray) -> np.ndarray:
    v = vals.astype(np.int64)
    if v.size and (v.min() < 0 or v.max() >= _VARINT_NP_LIMIT):
        raise ValueError(
            "vectorized MVT writer encodes ids and zigzag coordinates in"
            f" [0, 2**35); got values in [{v.min()}, {v.max()}]"
        )
    return (
        1
        + (v >= 128).astype(np.int64)
        + (v >= 16384).astype(np.int64)
        + (v >= 2097152).astype(np.int64)
        + (v >= 268435456).astype(np.int64)
    )


def _scatter_varints(buf: np.ndarray, starts: np.ndarray,
                     vals: np.ndarray, lens: np.ndarray) -> None:
    """Write varint(vals[i]) at buf[starts[i] : starts[i]+lens[i]]."""
    v = vals.astype(np.int64)
    maxlen = int(lens.max()) if lens.size else 0
    for k in range(maxlen):
        m = lens > k
        byte = (v[m] >> (7 * k)) & 0x7F
        cont = (lens[m] - 1) > k
        buf[starts[m] + k] = byte | (cont.astype(np.int64) << 7)


def mvt_point_tile_np(fids: np.ndarray, pxs: np.ndarray,
                      pys: np.ndarray) -> bytes:
    """Vectorized twin of :func:`mvt_point_tile` — identical bytes."""
    order = np.lexsort((pys, pxs, fids))
    fid = fids[order].astype(np.int64)
    zx = (pxs[order].astype(np.int64)) << 1  # coords are non-negative
    zy = (pys[order].astype(np.int64)) << 1
    lid = _varint_lens_np(fid)
    lx = _varint_lens_np(zx)
    ly = _varint_lens_np(zy)
    framed = 2 + 6 + lid + lx + ly
    starts = np.zeros(fid.size, dtype=np.int64)
    np.cumsum(framed[:-1], out=starts[1:]) if fid.size > 1 else None
    total = int(framed.sum())
    buf = np.zeros(total, dtype=np.uint8)
    body_len = 6 + lid + lx + ly
    buf[starts] = 0x12
    buf[starts + 1] = body_len
    buf[starts + 2] = 0x08
    _scatter_varints(buf, starts + 3, fid, lid)
    p = starts + 3 + lid
    buf[p] = 0x18
    buf[p + 1] = 0x01
    buf[p + 2] = 0x22
    buf[p + 3] = 1 + lx + ly  # geom_len, single byte
    buf[p + 4] = 0x09
    _scatter_varints(buf, p + 5, zx, lx)
    _scatter_varints(buf, p + 5 + lx, zy, ly)
    layer = (
        b"\x0a" + _varint(len(LAYER_NAME)) + LAYER_NAME
        + buf.tobytes()
        + b"\x28" + _varint(EXTENT)
        + b"\x78\x02"
    )
    return b"\x1a" + _varint(len(layer)) + layer


def mvt_rect_tile_np(fids: np.ndarray, x0: np.ndarray, y0: np.ndarray,
                     x1: np.ndarray, y1: np.ndarray) -> bytes:
    """Vectorized twin of :func:`mvt_rect_tile` — identical bytes."""
    order = np.lexsort((y1, x1, y0, x0, fids))
    fid = fids[order].astype(np.int64)
    ax0 = x0[order].astype(np.int64)
    ay0 = y0[order].astype(np.int64)
    dx = x1[order].astype(np.int64) - ax0
    dy = y1[order].astype(np.int64) - ay0
    zx0, zy0 = _zigzag_np(ax0), _zigzag_np(ay0)
    zdx, zdy, zndx = _zigzag_np(dx), _zigzag_np(dy), _zigzag_np(-dx)
    lid = _varint_lens_np(fid)
    lx0 = _varint_lens_np(zx0)
    ly0 = _varint_lens_np(zy0)
    ldx = _varint_lens_np(zdx)
    ldy = _varint_lens_np(zdy)
    lnd = _varint_lens_np(zndx)
    geom_len = 6 + lx0 + ly0 + ldx + ldy + lnd
    body_len = 5 + lid + geom_len
    framed = 2 + body_len
    starts = np.zeros(fid.size, dtype=np.int64)
    if fid.size > 1:
        np.cumsum(framed[:-1], out=starts[1:])
    buf = np.zeros(int(framed.sum()), dtype=np.uint8)
    buf[starts] = 0x12
    buf[starts + 1] = body_len
    buf[starts + 2] = 0x08
    _scatter_varints(buf, starts + 3, fid, lid)
    p = starts + 3 + lid
    buf[p] = 0x18
    buf[p + 1] = 0x03
    buf[p + 2] = 0x22
    buf[p + 3] = geom_len
    buf[p + 4] = 0x09
    q = p + 5
    _scatter_varints(buf, q, zx0, lx0)
    q = q + lx0
    _scatter_varints(buf, q, zy0, ly0)
    q = q + ly0
    buf[q] = 0x1A  # LineTo, count 3
    _scatter_varints(buf, q + 1, zdx, ldx)
    q = q + 1 + ldx
    buf[q] = 0x00
    buf[q + 1] = 0x00
    _scatter_varints(buf, q + 2, zdy, ldy)
    q = q + 2 + ldy
    _scatter_varints(buf, q, zndx, lnd)
    q = q + lnd
    buf[q] = 0x00
    buf[q + 1] = 0x0F  # ClosePath
    layer = (
        b"\x0a" + _varint(len(LAYER_NAME)) + LAYER_NAME
        + buf.tobytes()
        + b"\x28" + _varint(EXTENT)
        + b"\x78\x02"
    )
    return b"\x1a" + _varint(len(layer)) + layer


# ----------------------------------------------------------- attributes
# Feature attributes (MVT 2.1 §4.4: layer-level keys/values string
# tables, per-feature tags as [key_idx, value_idx] pairs — the model
# mvtutils.cpp populates from OGR fields).  One string attribute here
# ("lang"-style): keys = [ATTR_KEY], values = the tile's DISTINCT
# attribute strings SORTED (deterministic), tags = [0, value_idx].

ATTR_KEY = b"lang"


def mvt_attr_point_tile(
    features: list[tuple[int, int, int, str]]
) -> bytes:
    """(fid, px, py, attr) -> Tile bytes with a tagged point layer."""
    vals = sorted({a for _, _, _, a in features})
    vidx = {a: i for i, a in enumerate(vals)}
    layer = b"\x0a" + _varint(len(LAYER_NAME)) + LAYER_NAME
    for fid, px, py, a in sorted(features):
        geom = _varint(9) + _varint(_zigzag(px)) + _varint(_zigzag(py))
        body = (
            b"\x08" + _varint(fid)
            + b"\x12" + _varint(1 + len(_varint(vidx[a])))  # tags
            + b"\x00" + _varint(vidx[a])                    # [0, vi]
            + b"\x18\x01"
            + b"\x22" + _varint(len(geom)) + geom
        )
        layer += b"\x12" + _varint(len(body)) + body
    layer += b"\x1a" + _varint(len(ATTR_KEY)) + ATTR_KEY  # keys (3)
    for v in vals:                                        # values (4)
        vb = v.encode()
        msg = b"\x0a" + _varint(len(vb)) + vb
        layer += b"\x22" + _varint(len(msg)) + msg
    layer += b"\x28" + _varint(EXTENT)
    layer += b"\x78\x02"
    return b"\x1a" + _varint(len(layer)) + layer


def mvt_attr_point_tile_np(
    fids: np.ndarray, pxs: np.ndarray, pys: np.ndarray, attrs
) -> bytes:
    """Vectorized twin of :func:`mvt_attr_point_tile`."""
    attrs = np.asarray(attrs, dtype=object)
    order = np.lexsort((pys, pxs, fids))
    fid = fids[order].astype(np.int64)
    zx = (pxs[order].astype(np.int64)) << 1
    zy = (pys[order].astype(np.int64)) << 1
    a = attrs[order]
    vals = sorted(set(a.tolist()))
    vmap = {v: i for i, v in enumerate(vals)}
    vi = np.array([vmap[x] for x in a], dtype=np.int64)
    lid = _varint_lens_np(fid)
    lx = _varint_lens_np(zx)
    ly = _varint_lens_np(zy)
    lvi = _varint_lens_np(vi)
    framed = 2 + 6 + lid + lx + ly + 3 + lvi
    starts = np.zeros(fid.size, dtype=np.int64)
    if fid.size > 1:
        np.cumsum(framed[:-1], out=starts[1:])
    buf = np.zeros(int(framed.sum()), dtype=np.uint8)
    buf[starts] = 0x12
    buf[starts + 1] = framed - 2
    buf[starts + 2] = 0x08
    _scatter_varints(buf, starts + 3, fid, lid)
    p = starts + 3 + lid
    buf[p] = 0x12
    buf[p + 1] = 1 + lvi  # tags payload length: varint(0) + varint(vi)
    buf[p + 2] = 0x00
    _scatter_varints(buf, p + 3, vi, lvi)
    p = p + 3 + lvi
    buf[p] = 0x18
    buf[p + 1] = 0x01
    buf[p + 2] = 0x22
    buf[p + 3] = 1 + lx + ly
    buf[p + 4] = 0x09
    _scatter_varints(buf, p + 5, zx, lx)
    _scatter_varints(buf, p + 5 + lx, zy, ly)
    layer = (
        b"\x0a" + _varint(len(LAYER_NAME)) + LAYER_NAME
        + buf.tobytes()
        + b"\x1a" + _varint(len(ATTR_KEY)) + ATTR_KEY
    )
    for v in vals:
        vb = v.encode()
        msg = b"\x0a" + _varint(len(vb)) + vb
        layer += b"\x22" + _varint(len(msg)) + msg
    layer += b"\x28" + _varint(EXTENT) + b"\x78\x02"
    return b"\x1a" + _varint(len(layer)) + layer


def encode_mvt_attr_tiles(points: DataFrame) -> DataFrame:
    """(tx, ty, fid, px, py, attr) -> tagged MVT tiles."""
    return _encode_tiles(
        points, mvt_attr_point_tile_np, ("fid", "px", "py", "attr")
    )
