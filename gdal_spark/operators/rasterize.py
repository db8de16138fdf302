"""Rasterize — vector polygons burned into mercator tile rasters.

Re-answers gdal_rasterize (alg/gdalrasterize.cpp:573-900 scanline fill,
MERGE_ALG=REPLACE/ADD, burn attribute) tile-parallel:

  1. zones explode to covered cells (the joins' cell cover, run on the
     executors: the burned layer is never collected, and its cell count
     grows as 4^zoom);
  2. one applyInPandas group per tile: pixel-center containment masks —
     rect zones via 1-D interval masks (outer product), general
     polygons via the vectorized ray-cast over the 256x256 center grid
     (the reference's scanline fill and even/odd crossing rule agree on
     pixel-center containment, llrasterize.cpp:58);
  3. REPLACE burns in ascending zone order (later feature overwrites —
     the reference's layer-order semantics made deterministic), ADD
     accumulates.

``rasterize_counts`` reports burned-pixel counts per tile (union over
zones) — ANSI-SQL-expressible for rect zones, so the driver oracle can
check it exactly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from gdal_spark.geometry import mercator
from gdal_spark.geometry.envelope import is_rectangle, zone_geometry
from gdal_spark.geometry.pip import points_in_polygon
from gdal_spark.operators.pip_join import _zone_cells

TILE = 256

_TILE_SCHEMA = StructType(
    [
        StructField("zoom", IntegerType()),
        StructField("tx", LongType()),
        StructField("ty", LongType()),
        StructField("n_burned", IntegerType()),
        StructField("data", BinaryType()),
    ]
)


def _pixel_centers(tx: int, ty: int, zoom: int):
    """(lon[256] of columns, lat[256] of TMS rows bottom-up)."""
    res = mercator.resolution(zoom)
    i = np.arange(TILE)
    mx = (tx * TILE + i + 0.5) * res - mercator.ORIGIN_SHIFT
    my = (ty * TILE + i + 0.5) * res - mercator.ORIGIN_SHIFT
    lat = mercator.meters_to_lat_lon(np.zeros(1), my)[0]
    lon = mercator.meters_to_lat_lon(mx, np.zeros(1))[1]
    return lon, lat


def _pixel_edges(tx: int, ty: int, zoom: int):
    """(lon[257] column edges, lat[257] TMS row edges bottom-up)."""
    res = mercator.resolution(zoom)
    i = np.arange(TILE + 1)
    mx = (tx * TILE + i) * res - mercator.ORIGIN_SHIFT
    my = (ty * TILE + i) * res - mercator.ORIGIN_SHIFT
    lat = mercator.meters_to_lat_lon(np.zeros(1), my)[0]
    lon = mercator.meters_to_lat_lon(mx, np.zeros(1))[1]
    return lon, lat


def _supercover_mask(ring: np.ndarray, lon_e: np.ndarray, lat_e: np.ndarray):
    """Cells the ring's edges pass through (GDALdllImageLineAllTouched,
    alg/llrasterize.cpp): per edge, split [0,1] at every cell-boundary
    crossing and mark the cell each sub-segment midpoint falls in.
    Per-edge loop is per-unique-geometry (bounded by ring length), the
    inner work is vectorized."""
    mask = np.zeros((TILE, TILE), dtype=bool)
    for k in range(ring.shape[0] - 1):
        x0, y0 = float(ring[k, 0]), float(ring[k, 1])
        x1, y1 = float(ring[k + 1, 0]), float(ring[k + 1, 1])
        parts = [np.array([0.0, 1.0])]
        xlo, xhi = (x0, x1) if x0 <= x1 else (x1, x0)
        bx = lon_e[np.searchsorted(lon_e, xlo, "right"):
                   np.searchsorted(lon_e, xhi, "left")]
        if bx.size and x1 != x0:
            parts.append((bx - x0) / (x1 - x0))
        ylo, yhi = (y0, y1) if y0 <= y1 else (y1, y0)
        by = lat_e[np.searchsorted(lat_e, ylo, "right"):
                   np.searchsorted(lat_e, yhi, "left")]
        if by.size and y1 != y0:
            parts.append((by - y0) / (y1 - y0))
        ts = np.unique(np.clip(np.concatenate(parts), 0.0, 1.0))
        # open-rectangle semantics: drop zero-measure subsegments (an
        # edge passing exactly through a grid corner yields two crossing
        # parameters 1 ulp apart — without this, the corner-diagonal
        # neighbors get spuriously marked)
        dt = np.diff(ts)
        keep = dt > 1e-12
        tm = (ts[:-1] + ts[1:])[keep] * 0.5
        px = x0 + tm * (x1 - x0)
        py = y0 + tm * (y1 - y0)
        ix = np.searchsorted(lon_e, px) - 1
        iy = np.searchsorted(lat_e, py) - 1
        ok = (ix >= 0) & (ix < TILE) & (iy >= 0) & (iy < TILE)
        mask[iy[ok], ix[ok]] = True
    return mask


def _zone_mask(wkt: str, lon, lat, edges) -> np.ndarray:
    """(256, 256) TMS-row (south-up) burn mask of one zone: pixel-center
    containment, or with ``edges`` = :func:`_pixel_edges` the
    ALL_TOUCHED cell overlap.  Rectangle polygons use 1-D interval
    masks (outer product), the rest the vectorized ray-cast over the
    center grid (plus the edge supercover when all-touched)."""
    mask = np.zeros((TILE, TILE), dtype=bool)
    for rings in zone_geometry(wkt, "wkt").polys:
        ring0 = rings[0]
        if is_rectangle("POLYGON", rings):
            x0, x1 = ring0[:, 0].min(), ring0[:, 0].max()
            y0, y1 = ring0[:, 1].min(), ring0[:, 1].max()
            if edges is None:
                mask |= np.outer((lat > y0) & (lat < y1), (lon > x0) & (lon < x1))
            else:
                lon_e, lat_e = edges
                mask |= np.outer(
                    (lat_e[:-1] < y1) & (y0 < lat_e[1:]),
                    (lon_e[:-1] < x1) & (x0 < lon_e[1:]),
                )
            continue
        gx, gy = np.meshgrid(lon, lat)
        mask |= points_in_polygon(gx.ravel(), gy.ravel(), rings).reshape(TILE, TILE)
        if edges is not None:
            for ring in rings:
                mask |= _supercover_mask(ring, *edges)
    return mask


def _burn_tiles(
    zones, zoom, merge, wkt_col, zone_id_col, all_touched, dtype, emit, schema
):
    """One applyInPandas group per covering tile (cell_tx, cell_ty),
    covered in a mapInPandas on the executors (nothing is collected):
    every zone's mask burned in ascending zone order (REPLACE: later
    overwrites; ADD accumulates) into a TMS-row (south-up) ``dtype``
    image, then ``emit(tx, ty, img, any_mask)``."""
    z = zones.select(zone_id_col, wkt_col)
    cells = _zone_cells(z, "mercator", zoom, wkt_col, "wkt", on_driver=False)[0]

    def burn_tile(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty = int(key[0]), int(key[1])
        lon, lat = _pixel_centers(tx, ty, zoom)
        edges = _pixel_edges(tx, ty, zoom) if all_touched else None
        img = np.zeros((TILE, TILE), dtype=dtype)
        any_mask = np.zeros((TILE, TILE), dtype=bool)
        wkt_of = dict(zip(pdf[zone_id_col], pdf[wkt_col]))
        for zid in np.sort(pdf[zone_id_col].unique()):
            mask = _zone_mask(wkt_of[zid], lon, lat, edges)
            if merge == "add":
                img[mask] += dtype(int(zid) % 255 + 1)
            else:
                img[mask] = dtype(int(zid) % 255 + 1)
            any_mask |= mask
        return emit(tx, ty, img, any_mask)

    return cells.groupBy("cell_tx", "cell_ty").applyInPandas(burn_tile, schema)


def rasterize(
    zones: DataFrame,
    zoom: int,
    merge: str = "replace",
    wkt_col: str = "geom_wkt",
    zone_id_col: str = "zone_id",
    all_touched: bool = False,
) -> DataFrame:
    """(zoom, tx, ty, n_burned, data) — data is the 256x256 uint8 burn
    raster (burn value = zone_id % 255 + 1, 0 = nodata), row 0 = north.

    The burn (:func:`_burn_tiles`) reads each zone's WKT off its cell
    row, parsed once per executor via the shared geometry cache."""

    def emit(tx, ty, img, any_mask):
        out = np.flipud(np.clip(img, 0, 255).astype(np.uint8))  # north-up
        return pd.DataFrame(
            {
                "zoom": [np.int32(zoom)],
                "tx": [tx],
                "ty": [ty],
                "n_burned": [np.int32(any_mask.sum())],
                "data": [out.tobytes()],
            }
        )

    return _burn_tiles(
        zones, zoom, merge, wkt_col, zone_id_col, all_touched, np.uint16, emit,
        _TILE_SCHEMA,
    )


def rasterize_counts(zones: DataFrame, zoom: int, **kw) -> DataFrame:
    return rasterize(zones, zoom, **kw).select("zoom", "tx", "ty", "n_burned")


def rasterize_invert_counts(zones: DataFrame, zoom: int, **kw) -> DataFrame:
    """gdal_rasterize -i (gdal_rasterize_lib.cpp ``bInverse``): burn the
    value into every pixel NOT inside any polygon.  The reference
    implements this by wrapping an envelope outer ring around the layer
    and demoting every polygon ring to a hole (gdalrasterize.cpp
    InvertGeometries); per tile that is exactly the complement of the
    union burn mask, so the inverted count is ``65536 - covered``.

    Tiles with no candidate zone burn completely — the output covers
    the FULL zoom-``zoom`` grid (the target raster extent), built as a
    generated range (no scan); the covered side is the existing
    tile-parallel burn and the join key is (tx, ty)."""
    spark = zones.sparkSession
    n = 2**zoom
    tiles = spark.range(n * n).select(
        (F.col("id") % n).alias("tx"),
        F.floor(F.col("id") / n).cast("long").alias("ty"),
    )
    covered = rasterize_counts(zones, zoom, **kw).select(
        "tx", "ty", F.col("n_burned").alias("_cov")
    )
    return tiles.join(covered, ["tx", "ty"], "left").select(
        F.lit(zoom).cast("int").alias("zoom"),
        "tx",
        "ty",
        (F.lit(TILE * TILE) - F.coalesce(F.col("_cov"), F.lit(0)))
        .cast("int")
        .alias("n_burned"),
    )


_PIXEL_SCHEMA = StructType(
    [
        StructField("zoom", IntegerType()),
        StructField("tx", LongType()),
        StructField("ty", LongType()),
        StructField("ci", IntegerType()),
        StructField("rj", IntegerType()),
        StructField("burn", IntegerType()),
    ]
)


def rasterize_values(
    zones: DataFrame,
    zoom: int,
    merge: str = "replace",
    wkt_col: str = "geom_wkt",
    zone_id_col: str = "zone_id",
) -> DataFrame:
    """gdal_rasterize -a <attr>: sparse burned pixels with their burned
    VALUE (alg/gdalrasterize.cpp:573 burn-attribute path).  Burn value =
    zone_id % 255 + 1; REPLACE burns in ascending zone order (max zone
    wins at overlaps), ADD accumulates.  Emits (zoom, tx, ty, ci, rj,
    burn) for hit pixels only; rj is the TMS (south-up) row index, same
    convention as the rasterize_counts oracle."""

    def emit(tx, ty, img, any_mask):
        ys, xs = np.nonzero(img)
        return pd.DataFrame(
            {
                "zoom": np.full(ys.size, zoom, dtype=np.int32),
                "tx": np.full(ys.size, tx, dtype=np.int64),
                "ty": np.full(ys.size, ty, dtype=np.int64),
                "ci": xs.astype(np.int32),
                "rj": ys.astype(np.int32),
                "burn": img[ys, xs].astype(np.int32),
            }
        )

    return _burn_tiles(
        zones, zoom, merge, wkt_col, zone_id_col, False, np.int64, emit, _PIXEL_SCHEMA
    )
