"""Raster tile pyramid — the gdalwarp + gdal2tiles workload as Spark.

Pipeline (mirrors gdal2tiles' two phases, gdal2tiles.py:1283 base tiles,
:1471 overview tiles):

  1. ``source_grid`` — deterministic world raster as a pixel table
     (band, px, py, value), geotransform (-180, 0.9, 0, 90, 0, -0.9) in
     EPSG:4326 (FIXTURES.md §4, byte.tif/small_world analog).
  2. ``base_tiles`` — output-tile-driven warp to EPSG:3857: every source
     pixel is scattered to the mercator tile containing its center plus
     a 1-cell halo (explode, JVM-side); one applyInPandas per tile
     assembles the local source window and nearest-neighbor resamples
     the 256x256 output (GRA_NearestNeighbour semantics,
     alg/gdalwarpkernel.cpp NN path) — the per-tile kernel IS the
     reference's WarpRegionToBuffer unit of work, scheduled by Spark
     instead of ChunkAndWarpImage's recursion.
  3. ``overview_tiles`` — zoom z-1 from <=4 children: stitch 512x512,
     2x2 box-average (AVERAGE resampler, gcore/overview.cpp:4188),
     parent = (tx>>1, ty>>1) exactly like create_overview_tile
     (gdal2tiles.py:1484-1486).

Tiles are verified by the GDALChecksumImage port (geometry/checksum.py) —
the same oracle the reference's own tile tests use
(autotest/pyscripts/test_gdal2tiles.py:121-156).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from gdal_spark.geometry import mercator
from gdal_spark.geometry.checksum import checksum_image

# geotransform of the synthetic source (FIXTURES.md §4)
GT_X0, GT_DX = -180.0, 0.9
GT_Y0, GT_DY = 90.0, -0.9
SRC_W, SRC_H = 400, 200
N_BANDS = 3
TILE = 256
# mercator domain limit: lat of the top/bottom tile edge at every zoom
# (2*atan(e^pi)*180/pi - 90); source pixels with centers inside (85.0,
# 85.0511] belong to the top tile row and must NOT be filtered out
MERC_LAT_LIMIT = 85.05112877980659


def source_grid(spark: SparkSession) -> DataFrame:
    """(band, px, py, value) — value = (px*7 + py*13 + band*29) % 256."""
    n = SRC_W * SRC_H * N_BANDS
    df = spark.range(n)
    px = (F.col("id") % SRC_W).cast("int")
    py = ((F.col("id") / SRC_W).cast("long") % SRC_H).cast("int")
    band = (F.col("id") / (SRC_W * SRC_H)).cast("int") + 1
    value = ((px * 7 + py * 13 + band * 29) % 256).cast("int")
    return df.select(
        band.alias("band"), px.alias("px"), py.alias("py"), value.alias("value")
    )


def _tile_schema():
    return StructType(
        [
            StructField("band", IntegerType()),
            StructField("zoom", IntegerType()),
            StructField("tx", LongType()),
            StructField("ty", LongType()),
            StructField("data", BinaryType()),
        ]
    )


def _resample_window(win, have, fx, fy, method):
    """Resample source window ``win`` at fractional pixel coords (fy rows
    x fx cols outer grid).  fx/fy are CONTINUOUS source pixel coords
    (0.5 = center of pixel 0).  Ports the gdalwarpkernel sampling rules:

      * nearest — floor of the containing pixel (NN path);
      * bilinear — 2x2 weighted average anchored at the surrounding
        centers (GWKBilinearResample);
      * cubic — 4x4 Catmull-Rom convolution, A=-0.5
        (GWKCubicResample / CubicConvolution, gdalwarper.h:46).

    Out-of-window samples fall back to nearest-in-window clamping;
    ``have`` masks pixels absent from the scattered halo (treated as 0,
    matching the engine's nodata fill)."""
    H, W = win.shape
    vals = np.where(have, win, 0).astype(np.float64)
    if method == "nearest":
        sx = np.clip(np.floor(fx).astype(np.int64), 0, W - 1)
        sy = np.clip(np.floor(fy).astype(np.int64), 0, H - 1)
        ok = (
            (fx >= 0)[None, :]
            & (fx < W)[None, :]
            & (fy >= 0)[:, None]
            & (fy < H)[:, None]
        )
        out = np.where(ok & have[sy[:, None], sx[None, :]], win[sy[:, None], sx[None, :]], 0)
        return out

    if method == "bilinear":
        gx = fx - 0.5
        gy = fy - 0.5
        i0 = np.clip(np.floor(gx).astype(np.int64), 0, W - 2)
        j0 = np.clip(np.floor(gy).astype(np.int64), 0, H - 2)
        tx_ = np.clip(gx - i0, 0.0, 1.0)
        ty_ = np.clip(gy - j0, 0.0, 1.0)
        v00 = vals[j0[:, None], i0[None, :]]
        v10 = vals[j0[:, None], i0[None, :] + 1]
        v01 = vals[j0[:, None] + 1, i0[None, :]]
        v11 = vals[j0[:, None] + 1, i0[None, :] + 1]
        txm = tx_[None, :]
        tym = ty_[:, None]
        out = (1 - tym) * ((1 - txm) * v00 + txm * v10) + tym * (
            (1 - txm) * v01 + txm * v11
        )
        return np.clip(np.floor(out + 0.5), 0, 255).astype(np.int64)

    if method in ("cubic", "cubicspline", "lanczos"):
        if method == "cubic":
            # Catmull-Rom, A=-0.5 (gdalwarpkernel.cpp CubicKernel); 4x4
            def kfn(t):
                at = np.abs(t)
                return np.where(
                    at <= 1,
                    1.5 * at**3 - 2.5 * at**2 + 1,
                    np.where(at < 2, -0.5 * at**3 + 2.5 * at**2 - 4 * at + 2, 0.0),
                )

            support, normalize = 2, False
        elif method == "cubicspline":
            # cubic B-spline (GRA_CubicSpline); weights sum to 1 exactly
            def kfn(t):
                at = np.abs(t)
                return np.where(
                    at <= 1,
                    (4.0 - 6.0 * at**2 + 3.0 * at**3) / 6.0,
                    np.where(at < 2, (2.0 - at) ** 3 / 6.0, 0.0),
                )

            support, normalize = 2, False
        else:
            # Lanczos, 3 lobes (GRA_Lanczos); weight sum normalized like
            # the reference's accumulated-weight division
            def kfn(t):
                t = np.asarray(t, dtype=np.float64)
                out = np.zeros_like(t)
                nz = (np.abs(t) < 3) & (t != 0)
                tt = t[nz]
                out[nz] = (
                    3.0
                    * np.sin(np.pi * tt)
                    * np.sin(np.pi * tt / 3.0)
                    / (np.pi * np.pi * tt * tt)
                )
                out[t == 0] = 1.0
                return out

            support, normalize = 3, True

        gx = fx - 0.5
        gy = fy - 0.5
        i0 = np.clip(np.floor(gx).astype(np.int64), support - 1, W - support - 1)
        j0 = np.clip(np.floor(gy).astype(np.int64), support - 1, H - support - 1)
        tx_ = gx - i0
        ty_ = gy - j0
        out = np.zeros((len(fy), len(fx)))
        wsum = np.zeros((len(fy), len(fx)))
        for dj in range(1 - support, support + 1):
            wy = kfn(ty_ - dj)[:, None]
            for di in range(1 - support, support + 1):
                wx = kfn(tx_ - di)[None, :]
                w = wy * wx
                out += w * vals[(j0 + dj)[:, None], (i0 + di)[None, :]]
                wsum += w
        if normalize:
            out = np.divide(out, wsum, out=out, where=wsum != 0)
        return np.clip(np.floor(out + 0.5), 0, 255).astype(np.int64)

    raise ValueError(f"unknown resample method: {method}")


def base_tiles(
    spark: SparkSession, src: DataFrame, zoom: int, resample: str = "nearest"
) -> DataFrame:
    """Warp the source grid to mercator tiles at ``zoom``.

    ``resample``: nearest | bilinear | cubic (3 of the reference's 14
    warp resamplers, alg/gdalwarper.h:37-67; bilinear/cubic need the
    wider halo scattered below).

    Returns (band, zoom, tx, ty, data:binary 256*256 bytes, row-major
    top-left origin like GDAL's raster buffers; ty is TMS)."""
    z = str(zoom)
    halo_px = {
        "nearest": 1.0,
        "bilinear": 2.0,
        "cubic": 3.0,
        "cubicspline": 3.0,
        "lanczos": 4.0,
    }[resample]
    # pixel-center coordinates (JVM)
    lon = F.lit(GT_X0) + (F.col("px") + F.lit(0.5)) * F.lit(GT_DX)
    lat = F.lit(GT_Y0) + (F.col("py") + F.lit(0.5)) * F.lit(GT_DY)
    pts = src.withColumn("lon", lon).withColumn("lat", lat).filter(
        (F.col("lat") > -MERC_LAT_LIMIT) & (F.col("lat") < MERC_LAT_LIMIT)
    )
    # halo scatter: a tile's kernel needs every source pixel whose center
    # lies within the tile's geo-bounds expanded by the resampler's
    # support radius (1 px NN, 2 px bilinear, 3 px cubic), so each pixel
    # is scattered to the exact tile RANGE covered by [lon±r·GT_DX] x
    # [lat±r·|GT_DY|] — duplication ~(1+eps)^2, not a blanket 3x3
    # replication (which would 9x the shuffle at scale).
    n = 2**zoom
    pts = (
        pts.withColumn(
            "_lo_x", F.col("lon") - F.lit(halo_px * GT_DX)
        )
        .withColumn("_hi_x", F.col("lon") + F.lit(halo_px * GT_DX))
        .withColumn("_lo_y", F.col("lat") - F.lit(halo_px * abs(GT_DY)))
        .withColumn("_hi_y", F.col("lat") + F.lit(halo_px * abs(GT_DY)))
        .withColumn(
            "tx",
            F.explode(
                F.sequence(
                    F.expr(mercator.sql_tx("_lo_x", z)),
                    F.expr(mercator.sql_tx("_hi_x", z)),
                )
            ),
        )
        .withColumn(
            "ty",
            F.explode(
                F.sequence(
                    F.expr(mercator.sql_ty(f"greatest(-{MERC_LAT_LIMIT!r}, _lo_y)", z)),
                    F.expr(mercator.sql_ty(f"least({MERC_LAT_LIMIT!r}, _hi_y)", z)),
                )
            ),
        )
        .select("band", "px", "py", "value", "tx", "ty")
        .filter(
            (F.col("tx") >= 0)
            & (F.col("tx") < n)
            & (F.col("ty") >= 0)
            & (F.col("ty") < n)
        )
    )

    res = mercator.resolution(zoom)

    def assemble(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        band, tx, ty = int(key[0]), int(key[1]), int(key[2])
        spx = pdf["px"].to_numpy(np.int64)
        spy = pdf["py"].to_numpy(np.int64)
        val = pdf["value"].to_numpy(np.int64)
        x0, y0 = spx.min(), spy.min()
        win = np.zeros((spy.max() - y0 + 1, spx.max() - x0 + 1), dtype=np.int64)
        have = np.zeros_like(win, dtype=bool)
        win[spy - y0, spx - x0] = val
        have[spy - y0, spx - x0] = True
        # output pixel centers -> inverse warp -> continuous source coords
        i = np.arange(TILE)
        mx = (tx * TILE + i + 0.5) * res - mercator.ORIGIN_SHIFT
        # top-left-origin image: output row 0 = north = max my (TMS flip)
        jj = TILE - 1 - np.arange(TILE)
        my = (ty * TILE + jj + 0.5) * res - mercator.ORIGIN_SHIFT
        lat_r, lon_c = mercator.meters_to_lat_lon(
            np.zeros(1), my
        )[0], mercator.meters_to_lat_lon(mx, np.zeros(1))[1]
        fx = (lon_c - GT_X0) / GT_DX - x0  # window-relative pixel coords
        fy = (lat_r - GT_Y0) / GT_DY - y0
        img = np.clip(
            _resample_window(win, have, fx, fy, resample), 0, 255
        ).astype(np.uint8)
        return pd.DataFrame(
            {
                "band": [band],
                "zoom": [np.int32(zoom)],
                "tx": [tx],
                "ty": [ty],
                "data": [img.tobytes()],
            }
        )

    return pts.groupBy("band", "tx", "ty").applyInPandas(assemble, _tile_schema())


def overview_tiles(tiles: DataFrame, method: str = "average") -> DataFrame:
    """One overview level: parent (tx>>1, ty>>1) from <=4 children.

    ``method`` (all 9 of the reference's overview resamplers,
    gcore/overview.cpp:4188-4272):
      * average — 2x2 box mean, floor(mean + 0.5);
      * nearest — top-left sample of the quad;
      * gauss   — 3x3 [1 2 1;2 4 2;1 2 1]/16 centered on the even source
                  pixel, edge-clamped (GDALResampleChunk32R_Gauss);
      * rms     — sqrt of the mean of squares, same rounding
                  (GDALResampleChunk32R_RMS);
      * mode    — most frequent of the 4 samples; ties break to the
                  SMALLEST value (made deterministic — the reference
                  keeps the first-seen in scan order, which is
                  partition-order-dependent; documented divergence);
      * bilinear / cubic / cubicspline / lanczos — the convolution
        resamplers (GDALResampleChunk32R_Convolution,
        gcore/overview.cpp resampler kernels shared with the warp path)
        evaluated at the exact 2x downsample offsets through the same
        ``_resample_window`` kernel the warp uses: output pixel (r, c)
        samples the 512x512 mosaic at continuous coords (2c+1, 2r+1) —
        the center of its 2x2 source quad — with edge-clamped taps."""

    def reduce4(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        band, zoom, ptx, pty = int(key[0]), int(key[1]), int(key[2]), int(key[3])
        mosaic = np.zeros((2 * TILE, 2 * TILE), dtype=np.float64)
        for _, row in pdf.iterrows():
            child = np.frombuffer(row["data"], dtype=np.uint8).reshape(TILE, TILE)
            cx = int(row["tx"]) & 1  # 0 = west, 1 = east
            cy = int(row["ty"]) & 1  # TMS: 1 = north child -> top half
            r0 = 0 if cy == 1 else TILE
            mosaic[r0 : r0 + TILE, cx * TILE : (cx + 1) * TILE] = child
        quads = mosaic.reshape(TILE, 2, TILE, 2)
        if method == "average":
            img = np.floor(quads.mean(axis=(1, 3)) + 0.5).astype(np.uint8)
        elif method == "nearest":
            img = quads[:, 0, :, 0].astype(np.uint8)  # top-left sample
        elif method == "gauss":
            # 3x3 [1 2 1; 2 4 2; 1 2 1]/16 centered on the even source
            # pixel (GDALResampleChunk32R_Gauss), edge-clamped
            p = np.pad(mosaic, 1, mode="edge")
            acc = np.zeros((TILE, TILE))
            wts = ((1, 2, 1), (2, 4, 2), (1, 2, 1))
            for dj in range(3):
                for di in range(3):
                    acc += wts[dj][di] * p[dj : dj + 512 : 2, di : di + 512 : 2]
            img = np.floor(acc / 16.0 + 0.5).astype(np.uint8)
        elif method == "rms":
            img = np.floor(np.sqrt((quads**2).mean(axis=(1, 3))) + 0.5).astype(
                np.uint8
            )
        elif method == "mode":
            # (row, row_sub, col, col_sub) -> (row, col, 4) quad samples
            s = np.sort(quads.transpose(0, 2, 1, 3).reshape(TILE, TILE, 4), axis=2)
            # counts of each sorted sample among its quad; argmax on
            # (count, -value) = max count, ties to smallest value
            cnt = (s[:, :, :, None] == s[:, :, None, :]).sum(axis=3)
            best = np.argmax(cnt, axis=2)  # first max = smallest (sorted)
            img = np.take_along_axis(s, best[:, :, None], axis=2)[:, :, 0].astype(
                np.uint8
            )
        elif method in ("bilinear", "cubic", "cubicspline", "lanczos"):
            # exact-2x convolution overview: dest (r, c) center maps to
            # mosaic continuous coords (2c+1, 2r+1); reuse the warp
            # kernel (identical tap weights to the reference's shared
            # convolution resampler)
            coords = 2.0 * np.arange(TILE) + 1.0
            have = np.ones_like(mosaic, dtype=bool)
            img = np.clip(
                _resample_window(mosaic.astype(np.int64), have, coords, coords, method),
                0,
                255,
            ).astype(np.uint8)
        else:
            raise ValueError(f"unknown overview method: {method}")
        return pd.DataFrame(
            {
                "band": [band],
                "zoom": [np.int32(zoom - 1)],
                "tx": [ptx],
                "ty": [pty],
                "data": [img.tobytes()],
            }
        )

    parents = tiles.groupBy(
        "band",
        "zoom",
        F.shiftright("tx", 1).alias("ptx"),
        F.shiftright("ty", 1).alias("pty"),
    )
    return parents.applyInPandas(reduce4, _tile_schema())


# --------------------------------------------------------------------------
# Aggregate warp resamplers (GRA_Min/Max/Med/Q1/Q3/Sum/Average/RMS/Mode,
# alg/gdalwarper.h:37-67, kernels alg/gdalwarpkernel.cpp GWKAverageOrMode
# :6760-7640 + GWKSumPreserving).  Unlike the convolution resamplers above
# these aggregate over ALL source pixels in the destination pixel's source
# footprint, so the Spark-natural plan is not a per-tile kernel but a plain
# shuffle aggregation: each source pixel is exploded to the destination
# pixels whose footprint contains it, then one groupBy computes every
# statistic JVM-side (whole-stage codegen; no Python in the path).
#
# Footprint rule ported exactly (gdalwarpkernel.cpp:6811-6837): dest pixel
# gx covers source columns [floor(dfXMin+EPS), ceil(dfXMax-EPS)) where
# dfXMin/dfXMax are the source x-coords of the dest pixel's edges and
# EPS=1e-10; inverted to the source side this makes source column px a
# member of dest pixels gx in [floor(u(px+EPS)), ceil(u(px+1-EPS))-1]
# where u() maps source x-coords to continuous dest pixel coords.  The
# same rule applies on y through the (nonlinear, monotone) mercator map.
# (The reference's expand-empty-footprint fallback at :6822 can only
# trigger when a dest pixel is narrower than 2*EPS source pixels —
# unreachable below zoom ~40 — and is intentionally not reproduced.)
#
# Edge weights ported from the COMPUTE_WEIGHT macros (:6838-6852): interior
# source pixels weigh 1.0, the first/last pixel of a footprint weighs its
# fractional overlap, a single-pixel footprint weighs 1.0.  Min/Max and the
# quantiles (quantIdx = ceil(q*n - 1) on the sorted values, :7635) ignore
# weights, exactly like the reference branches.  Mode accumulates weight
# per value; ties resolve to the SMALLEST value (the reference's
# GWKTS_Min tie strategy, applied as a final argmax rather than the
# running scan max).
#
# Every formula below is emitted as SQL TEXT shared verbatim by the Spark
# side (F.expr -> whole-stage codegen) and the DuckDB oracle, so the
# arithmetic (IEEE +-*/, floor/ceil) is bit-identical; only ln/tan/atan/exp
# on the y-axis are implementation-defined, and the EPS offsets keep every
# floor/ceil argument ~1e-7 away from integer boundaries so last-ulp
# differences cannot flip a footprint.
# --------------------------------------------------------------------------

_W_EPS = "1.0e-10"


def _sql_lat_of_my(my: str) -> str:
    """Inverse mercator in SQL, op-for-op the numpy meters_to_lat_lon."""
    _os = mercator.sql_double(mercator.ORIGIN_SHIFT)
    inner = f"((({my}) / {_os}) * 1.8e2)"
    return f"(1.8e2 / pi() * (2.0e0 * atan(exp({inner} * pi() / 1.8e2)) - pi() / 2.0e0))"


def warp_agg_fragments(zoom: int) -> dict[str, str]:
    """SQL text fragments for the aggregate-warp footprint mapping at
    ``zoom``; shared verbatim between the Spark plan and the DuckDB
    oracle (column refs: px, py for source, gx, gy for dest)."""
    _os = mercator.sql_double(mercator.ORIGIN_SHIFT)
    res = mercator.sql_double(mercator.resolution(zoom))
    x0 = mercator.sql_double(GT_X0)
    dx = mercator.sql_double(GT_DX)
    y0 = mercator.sql_double(GT_Y0)
    dy = mercator.sql_double(GT_DY)
    eps = _W_EPS

    # source x-coord s -> continuous dest pixel coord (linear)
    def u(s: str) -> str:
        return f"((({x0} + ({s}) * {dx}) * {_os} / 1.8e2 + {_os}) / {res})"

    # source row r -> continuous dest pixel coord (mercator, decreasing)
    def v(r: str) -> str:
        lat = f"({y0} + ({r}) * {dy})"
        return f"(({mercator.sql_my(lat)} + {_os}) / {res})"

    # dest pixel edge g -> source x-coord / source row
    def scol(g: str) -> str:
        return f"(((({g}) * {res} - {_os}) / {_os} * 1.8e2 - {x0}) / {dx})"

    def srow(g: str) -> str:
        return f"(({_sql_lat_of_my(f'(({g}) * {res} - {_os})')} - {y0}) / {dy})"

    return {
        # dest-pixel index ranges of one source pixel (pre-clamp)
        "gx_lo": f"CAST(floor({u(f'CAST(px AS DOUBLE) + {eps}')}) AS BIGINT)",
        "gx_hi": f"(CAST(ceiling({u(f'CAST(px AS DOUBLE) + 1.0e0 - {eps}')}) AS BIGINT) - 1)",
        "gy_lo": f"CAST(floor({v(f'CAST(py AS DOUBLE) + 1.0e0 - {eps}')}) AS BIGINT)",
        "gy_hi": f"(CAST(ceiling({v(f'CAST(py AS DOUBLE) + {eps}')}) AS BIGINT) - 1)",
        # dest pixel's source-footprint bounds (per (src, dest) pair)
        "sx0": scol("CAST(gx AS DOUBLE)"),
        "sx1": scol("CAST(gx AS DOUBLE) + 1.0e0"),
        "sy0": srow("CAST(gy AS DOUBLE) + 1.0e0"),  # north edge -> low row
        "sy1": srow("CAST(gy AS DOUBLE)"),  # south edge -> high row
    }


# COMPUTE_WEIGHT (first pixel: 1-(dfMin-iMin); last: 1-(iMax-dfMax);
# single-pixel footprint and interior pixels: 1.0)
_WX_SQL = f"""CASE
  WHEN ixmin + 1 >= ixmax THEN 1.0e0
  WHEN px = ixmin THEN 1.0e0 - (sx0 - CAST(ixmin AS DOUBLE))
  WHEN px + 1 = ixmax THEN 1.0e0 - (CAST(ixmax AS DOUBLE) - sx1)
  ELSE 1.0e0 END"""
_WY_SQL = f"""CASE
  WHEN iymin + 1 >= iymax THEN 1.0e0
  WHEN py = iymin THEN 1.0e0 - (sy0 - CAST(iymin AS DOUBLE))
  WHEN py + 1 = iymax THEN 1.0e0 - (CAST(iymax AS DOUBLE) - sy1)
  ELSE 1.0e0 END"""


def warp_aggregate(spark: SparkSession, zoom: int = 0, band: int = 2) -> DataFrame:
    """All eight aggregate warp resamplers in one pass: per destination
    pixel (global mercator pixel coords gx, gy at ``zoom``; gy is TMS,
    south-origin) the footprint count plus min / max / q1 / med / q3 /
    weighted sum / weighted average / weighted rms / mode.

    Plan shape: codegen projection -> two explodes (footprint ranges,
    1-3 pixels per axis at z0) -> ONE hash aggregation on (band, gx, gy)
    + a value-level aggregation and window for the mode — no Python, no
    driver collect; survives any scale the shuffle does."""
    f = warp_agg_fragments(zoom)
    npx = mercator.TILE_SIZE * (2**zoom)
    eps = _W_EPS
    w = mercator.sql_double(float(SRC_W))
    h = mercator.sql_double(float(SRC_H))

    src = source_grid(spark).filter(F.col("band") == band)
    bounded = src.selectExpr(
        "band",
        "px",
        "py",
        "value",
        f"{f['gx_lo']} AS gx_lo",
        f"{f['gx_hi']} AS gx_hi",
        f"{f['gy_lo']} AS gy_lo",
        f"{f['gy_hi']} AS gy_hi",
    ).filter(
        f"gx_hi >= gx_lo AND gx_hi >= 0 AND gx_lo < {npx}"
        f" AND gy_hi >= gy_lo AND gy_hi >= 0 AND gy_lo < {npx}"
    )
    pairs = (
        bounded.withColumn(
            "gx",
            F.explode(
                F.expr(f"sequence(greatest(gx_lo, 0L), least(gx_hi, {npx - 1}L))")
            ),
        )
        .withColumn(
            "gy",
            F.explode(
                F.expr(f"sequence(greatest(gy_lo, 0L), least(gy_hi, {npx - 1}L))")
            ),
        )
        .selectExpr(
            "band",
            "px",
            "py",
            "value",
            "gx",
            "gy",
            f"{f['sx0']} AS sx0",
            f"{f['sx1']} AS sx1",
            f"{f['sy0']} AS sy0",
            f"{f['sy1']} AS sy1",
        )
        .selectExpr(
            "*",
            f"CAST(greatest(floor(sx0 + {eps}), 0.0e0) AS INT) AS ixmin",
            f"CAST(least(ceiling(sx1 - {eps}), {w}) AS INT) AS ixmax",
            f"CAST(greatest(floor(sy0 + {eps}), 0.0e0) AS INT) AS iymin",
            f"CAST(least(ceiling(sy1 - {eps}), {h}) AS INT) AS iymax",
        )
        .selectExpr(
            "band",
            "value",
            "gx",
            "gy",
            f"(({_WX_SQL}) * ({_WY_SQL})) AS wgt",
        )
    )
    stats = (
        pairs.groupBy("band", "gx", "gy")
        .agg(
            F.count("*").alias("n"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
            F.expr("array_sort(collect_list(value))").alias("vals"),
            F.sum(F.expr("wgt * CAST(value AS DOUBLE)")).alias("wv"),
            F.sum("wgt").alias("wtot"),
            F.sum(F.expr("wgt * CAST(value AS DOUBLE) * CAST(value AS DOUBLE)")).alias(
                "wv2"
            ),
        )
        .selectExpr(
            "band",
            "gx",
            "gy",
            "CAST(n AS BIGINT) AS n",
            "vmin",
            "vmax",
            "element_at(vals, CAST(ceiling(2.5e-1 * CAST(n AS DOUBLE) - 1.0e0) AS INT) + 1) AS vq1",
            "element_at(vals, CAST(ceiling(5.0e-1 * CAST(n AS DOUBLE) - 1.0e0) AS INT) + 1) AS vmed",
            "element_at(vals, CAST(ceiling(7.5e-1 * CAST(n AS DOUBLE) - 1.0e0) AS INT) + 1) AS vq3",
            "round(wv, 6) AS sum_w6",
            "round(wv / wtot, 6) AS avg_w6",
            "round(sqrt(wv2 / wtot), 6) AS rms_w6",
        )
    )
    from pyspark.sql.window import Window

    per_value = pairs.groupBy("band", "gx", "gy", "value").agg(
        F.round(F.sum("wgt"), 9).alias("wsum9")
    )
    win = Window.partitionBy("band", "gx", "gy").orderBy(
        F.col("wsum9").desc(), F.col("value").asc()
    )
    mode = (
        per_value.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") == 1)
        .select("band", "gx", "gy", F.col("value").alias("vmode"))
    )
    return stats.join(mode, ["band", "gx", "gy"])


def tile_pyramid_checksums(
    spark: SparkSession,
    zmax: int = 2,
    src: DataFrame | None = None,
    resample: str = "nearest",
    overview_method: str = "average",
    fused: bool = True,
) -> DataFrame:
    """Full pyramid zmax..0 with per-tile GDAL checksums.
    Returns (band, zoom, tx, ty, checksum).

    ``fused=True`` (average overviews): sub-pyramid AND checksums are
    computed in chained applyInPandas passes of up to 3 levels each,
    keyed on the pass's deepest ancestor — fan-in up to 4^3 = 64 tiles
    (4 MB) per group instead of 4 per level, so a zmax-level pyramid
    costs ceil(zmax/3) shuffles + Python stages (vs one per level plus
    the eager base checkpoint and the union re-derivation it guards).
    Intermediate passes carry the pass-floor tiles forward; levels
    above the floor leave each pass as checksum rows only.  The
    level-by-level path remains for the non-average overview methods."""
    if src is None:
        src = source_grid(spark)
    if fused and overview_method == "average" and zmax > 0:
        return _pyramid_checksums_fused(spark, zmax, src, resample)
    # eager checkpoint of the base warp: every overview level AND the
    # final union hang off it — without the pin the union re-derives
    # the full source warp per level (same repeated-subtree shape the
    # vector tile_pyramid had; exchange reuse only partially dedupes)
    base = base_tiles(spark, src, zmax, resample=resample)
    levels = [base.localCheckpoint(eager=True)]
    for _ in range(zmax, 0, -1):
        levels.append(overview_tiles(levels[-1], method=overview_method))
    out_schema = StructType(
        [
            StructField("band", IntegerType()),
            StructField("zoom", IntegerType()),
            StructField("tx", LongType()),
            StructField("ty", LongType()),
            StructField("checksum", IntegerType()),
        ]
    )

    def to_checksum(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cs = [
                np.int32(
                    checksum_image(
                        np.frombuffer(d, dtype=np.uint8).reshape(TILE, TILE)
                    )
                )
                for d in pdf["data"]
            ]
            out = pdf[["band", "zoom", "tx", "ty"]].copy()
            out["checksum"] = cs
            yield out

    from functools import reduce as _reduce

    all_tiles = _reduce(DataFrame.unionByName, levels)
    return all_tiles.mapInPandas(to_checksum, out_schema)


# --------------------------------------------------------------------------
# Mosaic (gdal_merge analog)
# --------------------------------------------------------------------------

# synthetic mosaic inputs: MOSAIC_SOURCES rasters, each MOSAIC_W x
# MOSAIC_H, source k offset by (k*MOSAIC_DX, k*MOSAIC_DY) in the shared
# output pixel grid; value 0 is the nodata marker (FIXTURES.md analog of
# gdal_merge's -n flag)
MOSAIC_SOURCES = 3
MOSAIC_W, MOSAIC_H = 280, 120
MOSAIC_DX, MOSAIC_DY = 40, 20


def mosaic_sources(spark: SparkSession) -> DataFrame:
    """(src_idx, px, py, value) for the synthetic overlapping sources;
    value = (px*7 + py*13 + (src_idx+1)*17) % 256 on source src_idx."""
    n = MOSAIC_SOURCES * MOSAIC_W * MOSAIC_H
    df = spark.range(n)
    per = MOSAIC_W * MOSAIC_H
    k = (F.col("id") / per).cast("int")
    lx = (F.col("id") % MOSAIC_W).cast("int")
    ly = ((F.col("id") / MOSAIC_W).cast("long") % MOSAIC_H).cast("int")
    px = lx + k * MOSAIC_DX
    py = ly + k * MOSAIC_DY
    value = ((px * 7 + py * 13 + (k + 1) * 17) % 256).cast("int")
    return df.select(
        k.alias("src_idx"), px.alias("px"), py.alias("py"), value.alias("value")
    )


def mosaic(sources: DataFrame, nodata: int = 0) -> DataFrame:
    """gdal_merge composite (osgeo_utils/gdal_merge.py raster_copy_with_nodata:
    ``np.where(src == nodata, dst, src)`` applied in file order): per output
    pixel, the value of the LAST source (highest src_idx) whose pixel is not
    nodata; pixels covered only by nodata keep the init value (0).

    Spark shape: ONE hash aggregation on the pixel key with map-side
    partial combine — the struct max(when(...)) folds "last non-nodata in
    file order" into an associative/commutative agg, so the composite of
    N sources is a single shuffle regardless of N (vs the reference's
    sequential per-file paint)."""
    s = F.when(
        F.col("value") != nodata, F.struct("src_idx", "value")
    )
    return (
        sources.groupBy("px", "py")
        .agg(F.max(s).alias("s"))
        .select(
            "px",
            "py",
            F.coalesce(F.col("s.value"), F.lit(nodata)).cast("int").alias("value"),
        )
    )


# --------------------------------------------------------------------------
# Pansharpening (weighted Brovey, alg/gdalpansharpen.cpp)
# --------------------------------------------------------------------------

# synthetic pansharpen fixture: pan band at full source resolution,
# multispectral bands at exactly half resolution (the classic 2x
# pan/MS ratio); both grids share the geotransform origin
PAN_W, PAN_H = SRC_W, SRC_H  # 400 x 200
MS_W, MS_H = SRC_W // 2, SRC_H // 2  # 200 x 100
MS_BANDS = 3


def pan_grid(spark: SparkSession) -> DataFrame:
    """(px, py, pan) full-resolution panchromatic band;
    pan = (px*11 + py*3) % 256."""
    df = spark.range(PAN_W * PAN_H)
    px = (F.col("id") % PAN_W).cast("int")
    py = (F.col("id") / PAN_W).cast("int")
    return df.select(
        px.alias("px"),
        py.alias("py"),
        ((px * 11 + py * 3) % 256).cast("int").alias("pan"),
    )


def ms_grid(spark: SparkSession) -> DataFrame:
    """(band, mx, my, value) half-resolution multispectral bands;
    value = (mx*7 + my*13 + band*29) % 256 (source-grid formula on the
    coarse grid)."""
    n = MS_W * MS_H * MS_BANDS
    df = spark.range(n)
    mx = (F.col("id") % MS_W).cast("int")
    my = ((F.col("id") / MS_W).cast("long") % MS_H).cast("int")
    band = (F.col("id") / (MS_W * MS_H)).cast("int") + 1
    value = ((mx * 7 + my * 13 + band * 29) % 256).cast("int")
    return df.select(
        band.alias("band"), mx.alias("mx"), my.alias("my"), value.alias("value")
    )


def pansharpen(pan: DataFrame, ms: DataFrame) -> DataFrame:
    """Weighted-Brovey pansharpening (GDALPansharpenOperation::
    WeightedBrovey, alg/gdalpansharpen.cpp:597-640): MS bands are
    bilinearly upsampled onto the pan grid, pseudo-pan = equal-weighted
    mean of the upsampled bands, factor = pan / pseudo-pan (0 when the
    pseudo-pan is 0, ComputeFactor), out_band = Byte(ms_up * factor)
    with GDALCopyWord round-half-up + [0,255] clamp.

    Spark shape (scales to co-gridded rasters of any size):
      1. each pan pixel EXPLODES to its 4 bilinear MS neighbours
         (weights are exact sixteenths at the 2x ratio: fx,fy in
         {1/4, 3/4}, edge-clamped) — map-side, no driver state;
      2. ONE equi-join on the MS pixel key (mx,my) fans the 3 bands in;
      3. ONE hash aggregation on (px,py) folds the weighted sum and the
         band pivot together (sum of exact sixteenth-weighted ints —
         order-insensitive, so the shuffle cannot change the value);
      4. the Brovey arithmetic is a pure whole-stage-codegen projection.
    """
    # bilinear anchor at the 2x ratio: continuous MS coord of the pan
    # center u = (p+0.5)/2; m0 = floor(u-0.5), frac = u-0.5-m0.
    # p-2+(p%2) is always even, so the division is exact (p=0 -> m0=-1)
    def anchor(p):
        m0 = ((F.col(p) - 2 + (F.col(p) % 2)) / 2).cast("int")
        frac = F.when(F.col(p) % 2 == 0, F.lit(0.75)).otherwise(F.lit(0.25))
        return m0, frac

    mx0, fx = anchor("px")
    my0, fy = anchor("py")

    def clamp(c, hi):
        return F.least(F.greatest(c, F.lit(0)), F.lit(hi))

    nbrs = F.array(
        *[
            F.struct(
                clamp(mx0 + dx, MS_W - 1).alias("mx"),
                clamp(my0 + dy, MS_H - 1).alias("my"),
                (
                    (fx if dx else 1.0 - fx) * (fy if dy else 1.0 - fy)
                ).alias("w"),
            )
            for dy in (0, 1)
            for dx in (0, 1)
        ]
    )
    scattered = pan.select(
        "px", "py", "pan", F.explode(nbrs).alias("nb")
    ).select("px", "py", "pan", "nb.mx", "nb.my", "nb.w")

    joined = scattered.join(ms, ["mx", "my"])
    up = (
        joined.groupBy("px", "py")
        .agg(
            F.first("pan").alias("pan"),
            *[
                F.sum(
                    F.when(F.col("band") == b, F.col("w") * F.col("value"))
                ).alias(f"b{b}")
                for b in range(1, MS_BANDS + 1)
            ],
        )
    )
    pseudo = (F.col("b1") + F.col("b2") + F.col("b3")) / F.lit(3.0)
    factor = F.when(pseudo != 0.0, F.col("pan") / pseudo).otherwise(F.lit(0.0))
    sharp = up.select(
        "px",
        "py",
        *[
            # +1e-8 nudge after the half-up shift: Brovey ratios land the
            # exact value of b*factor ON X.5 for ~429 fixture pixels, where
            # floor(x + 0.5) flips on a single-ulp cross-engine drift; the
            # achievable-value gap off those ties is >= 5e-4, drift <=
            # ~2e-13, so +1e-8 resolves every tie upward (the reference's
            # half-up) bit-robustly.  SAME text as the oracle.
            F.floor(
                F.least(
                    F.greatest(F.col(f"b{b}") * factor, F.lit(0.0)),
                    F.lit(255.0),
                )
                + F.lit(0.5)
                + F.lit(1.0e-8)
            )
            .cast("int")
            .alias(f"v{b}")
            for b in range(1, MS_BANDS + 1)
        ],
    )
    # long form (band, px, py, value) to match the raster table shape
    out = F.array(
        *[
            F.struct(
                F.lit(b).cast("int").alias("band"), F.col(f"v{b}").alias("value")
            )
            for b in range(1, MS_BANDS + 1)
        ]
    )
    return sharp.select("px", "py", F.explode(out).alias("o")).select(
        F.col("o.band").alias("band"), "px", "py", F.col("o.value").alias("value")
    )


# --------------------------------------------------------------------------
# Cutline crop (gdalwarp -cutline ... -crop_to_cutline)
# --------------------------------------------------------------------------


def cutline_crop(
    src: DataFrame,
    cutline: DataFrame,
    wkt_col: str = "geom_wkt",
    nodata: int = 0,
) -> DataFrame:
    """gdalwarp -cutline <polygon> -crop_to_cutline (apps/gdalwarp_lib.cpp
    CropToCutline + alg/gdalcutline.cpp blanking, -cblend 0): the output
    window is the cutline envelope snapped OUTWARD to the source pixel
    grid; pixels whose CENTER falls inside the cutline keep their value,
    all other window pixels are written as ``nodata``.  Output pixel
    coords are rebased to the window origin.

    ``cutline`` must be a single-feature layer (the reference unions
    multi-feature cutlines first; compose with the overlay union for
    that).  The polygon may be concave and have holes — the inside test
    is the engine's ray-cast refine on the WKT carried through the plan
    (no driver-side geometry).

    Spark shape: the 1-row cutline broadcasts; the window filter
    (px/py BETWEEN) folds into the source scan as a pushed predicate;
    the ray-cast refine runs Arrow-batched on window pixels only.
    """
    from gdal_spark.geometry.envelope import wkt_envelope
    from gdal_spark.operators.pip_join import _make_refine_udf

    def add_env(it):
        for pdf in it:
            envs = [wkt_envelope(w) for w in pdf[wkt_col]]
            pdf = pdf.copy()
            pdf["cxmin"] = [e[0] for e in envs]
            pdf["cymin"] = [e[1] for e in envs]
            pdf["cxmax"] = [e[2] for e in envs]
            pdf["cymax"] = [e[3] for e in envs]
            yield pdf

    cut = cutline.select(wkt_col).limit(1).mapInPandas(
        add_env,
        f"{wkt_col} string, cxmin double, cymin double, "
        "cxmax double, cymax double",
    )
    # window snapped outward to the pixel grid (GT_DY < 0: ymax -> py0)
    px0 = F.floor((F.col("cxmin") - GT_X0) / GT_DX).cast("int")
    px1 = (F.ceil((F.col("cxmax") - GT_X0) / GT_DX) - 1).cast("int")
    py0 = F.floor((F.col("cymax") - GT_Y0) / GT_DY).cast("int")
    py1 = (F.ceil((F.col("cymin") - GT_Y0) / GT_DY) - 1).cast("int")
    win = src.crossJoin(F.broadcast(cut)).filter(
        F.col("px").between(px0, px1) & F.col("py").between(py0, py1)
    )
    # E-notation keeps the literals DOUBLE in both SQL dialects (plain
    # 0.9 parses as DECIMAL in Spark SQL) — same rule as the oracles
    lon = F.expr("(-1.8e2) + (px + 5.0e-1) * 9.0e-1")
    lat = F.expr("9.0e1 + (py + 5.0e-1) * (-9.0e-1)")
    refine = _make_refine_udf()
    return win.select(
        "band",
        (F.col("px") - px0).alias("px"),
        (F.col("py") - py0).alias("py"),
        F.when(
            refine(lon, lat, F.col(wkt_col)), F.col("value")
        )
        .otherwise(F.lit(nodata))
        .cast("int")
        .alias("value"),
    )


# --------------------------------------------------------------------------
# Reclassify (apps/gdalalg_raster_reclassify.cpp) and clean-collar
# (apps/nearblack_lib.cpp)
# --------------------------------------------------------------------------


def reclassify(
    src: DataFrame, rules: DataFrame, default: int | None = 255
) -> DataFrame:
    """gdal raster reclassify: map [lo, hi) value ranges to new values.

    ``rules`` is a dim table (lo, hi, out) — the mapping is DATA, not a
    baked CASE, so rule sets ship per-job without a plan rebuild.  The
    plan is a broadcast range join (BroadcastNestedLoopJoin on the two
    inequalities — rules are dim-sized by contract, every source
    partition streams once); unmatched pixels get ``default``
    (the reference's DEFAULT=... fallback)."""
    r = F.broadcast(rules)
    j = src.join(
        r,
        (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
        "left",
    )
    return j.select(
        "band",
        "px",
        "py",
        F.coalesce(F.col("out"), F.lit(default)).cast("int").alias("value"),
    )


def nearblack(
    pixels: DataFrame, near_dist: int = 2, fill: int = 0, white: bool = False
) -> DataFrame:
    """Clean-collar / nearblack (apps/nearblack_lib.cpp ProcessLine with
    nMaxNonBlack=0): per scanline, the maximal prefix and suffix runs of
    near-black pixels (value <= near_dist from black) are collar and are
    overwritten with ``fill``.  ``white=True`` is the tool's -white mode
    (nearblack_lib.cpp bNearWhite: collar = value >= 255 - near_dist,
    conventional fill 255).

    DOCUMENTED DIVERGENCE: only the reference's horizontal zero-
    tolerance case — no nMaxNonBlack allowance and no cross-line count
    propagation (nearblack_lib.cpp:358's coupled top-down/bottom-up
    passes), which serialize rows and don't distribute.

    Spark shape: ONE aggregation per scanline (min/max first-valid px,
    map-side combined) re-joined on the line key — both sides shuffle on
    py, AQE reuses the partitioning; rows that are entirely near-black
    aggregate to NULL and blank completely."""
    if white:
        valid = F.when(F.col("value") < 255 - near_dist, F.col("px"))
    else:
        valid = F.when(F.col("value") > near_dist, F.col("px"))
    bounds = pixels.groupBy("py").agg(
        F.min(valid).alias("first_ok"), F.max(valid).alias("last_ok")
    )
    j = pixels.join(bounds, "py")
    collar = (
        F.col("first_ok").isNull()
        | (F.col("px") < F.col("first_ok"))
        | (F.col("px") > F.col("last_ok"))
    )
    return j.select(
        "px",
        "py",
        F.when(collar, F.lit(fill)).otherwise(F.col("value"))
        .cast("int")
        .alias("value"),
    )


def raster_resize(
    src: DataFrame, out_w: int, out_h: int, method: str = "nearest"
) -> DataFrame:
    """gdal raster resize (apps/gdalalg_raster_resize.cpp): resample the
    full grid to ``out_w x out_h``.  Nearest path: output center maps to
    source pixel floor((o + 0.5) * ratio) — the arbitrary-ratio NN
    sampling rule of GDALRasterIO.  The output grid is generated and
    equi-joined against the source pixel table on (band, px, py): one
    shuffle (or a broadcast when one side is dim-sized), no Python."""
    if method != "nearest":
        raise ValueError("resize v1 implements nearest (warp family has the rest)")
    spark = src.sparkSession
    n = out_w * out_h * N_BANDS
    g = spark.range(n)
    ox = (F.col("id") % out_w).cast("int")
    oy = ((F.col("id") / out_w).cast("long") % out_h).cast("int")
    band = (F.col("id") / (out_w * out_h)).cast("int") + 1
    rx, ry = SRC_W / out_w, SRC_H / out_h
    out = g.select(
        band.alias("band"),
        ox.alias("ox"),
        oy.alias("oy"),
        F.floor((ox + F.lit(0.5)) * F.lit(rx)).cast("int").alias("px"),
        F.floor((oy + F.lit(0.5)) * F.lit(ry)).cast("int").alias("py"),
    )
    return out.join(src, ["band", "px", "py"]).select(
        "band", "ox", "oy", "value"
    )


def cutline_blend(
    src: DataFrame,
    cutline: DataFrame,
    blend: float,
    wkt_col: str = "geom_wkt",
) -> DataFrame:
    """gdalwarp -cutline ... -cblend <dist> (apps/gdalwarp_lib.cpp
    CUTLINE_BLEND_DIST -> alg/gdalcutline.cpp BlendMaskGenerator):
    inside-cutline pixels get a feathered alpha ramp
    ``clamp(dist_to_cutline_boundary / blend, 0, 1)`` (hole boundaries
    feather too), outside pixels get alpha 0.  Emits
    (band, px, py, alpha4 = floor(alpha * 1e4)) over the crop window,
    pixel coords rebased like ``cutline_crop``.

    The distance kernel is the lineref point-to-segment projection,
    vectorized pixels x boundary-segments; min over segments is
    order-exact, so the float matches the oracle's LEAST chain."""
    from gdal_spark.geometry.envelope import wkt_envelope, zone_geometry

    def add_env(it):
        for pdf in it:
            envs = [wkt_envelope(w) for w in pdf[wkt_col]]
            pdf = pdf.copy()
            pdf["cxmin"] = [e[0] for e in envs]
            pdf["cymin"] = [e[1] for e in envs]
            pdf["cxmax"] = [e[2] for e in envs]
            pdf["cymax"] = [e[3] for e in envs]
            yield pdf

    cut = cutline.select(wkt_col).limit(1).mapInPandas(
        add_env,
        f"{wkt_col} string, cxmin double, cymin double, "
        "cxmax double, cymax double",
    )
    px0 = F.floor((F.col("cxmin") - GT_X0) / GT_DX).cast("int")
    px1 = (F.ceil((F.col("cxmax") - GT_X0) / GT_DX) - 1).cast("int")
    py0 = F.floor((F.col("cymax") - GT_Y0) / GT_DY).cast("int")
    py1 = (F.ceil((F.col("cymin") - GT_Y0) / GT_DY) - 1).cast("int")
    win = src.crossJoin(F.broadcast(cut)).filter(
        F.col("px").between(px0, px1) & F.col("py").between(py0, py1)
    )
    lon = F.expr("(-1.8e2) + (px + 5.0e-1) * 9.0e-1")
    lat = F.expr("9.0e1 + (py + 5.0e-1) * (-9.0e-1)")
    win = win.select(
        "band",
        (F.col("px") - px0).alias("px"),
        (F.col("py") - py0).alias("py"),
        lon.alias("_lon"),
        lat.alias("_lat"),
        F.col(wkt_col).alias("_wkt"),
    )

    from gdal_spark.geometry.pip import points_in_polygon
    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def alpha4(lon_s: pd.Series, lat_s: pd.Series, wkt_s: pd.Series) -> pd.Series:
        xs = lon_s.to_numpy(np.float64)
        ys = lat_s.to_numpy(np.float64)
        out = np.zeros(len(xs), dtype=np.int64)
        uniq, inv = np.unique(wkt_s.to_numpy(dtype=object), return_inverse=True)
        for i, w in enumerate(uniq):
            mask = inv == i
            polys = zone_geometry(w, "wkt").polys
            x, y = xs[mask], ys[mask]
            inside = np.zeros(x.size, dtype=bool)
            segs = []
            for rings in polys:
                inside |= points_in_polygon(x, y, rings)
                for ring in rings:
                    r = np.asarray(ring, dtype=np.float64)
                    segs.append((r[:-1], r[1:]))
            a = np.vstack([s[0] for s in segs])
            b = np.vstack([s[1] for s in segs])
            ax, ay = a[:, 0], a[:, 1]
            dx, dy = b[:, 0] - ax, b[:, 1] - ay
            len2 = dx * dx + dy * dy
            t = ((x[:, None] - ax) * dx + (y[:, None] - ay) * dy) / len2
            t = np.minimum(np.maximum(t, 0.0), 1.0)
            qx = ax + t * dx
            qy = ay + t * dy
            d2 = (x[:, None] - qx) * (x[:, None] - qx) + (
                y[:, None] - qy
            ) * (y[:, None] - qy)
            dist = np.sqrt(d2.min(axis=1))
            alpha = np.minimum(dist / blend, 1.0)
            out[mask] = np.where(
                inside, np.floor(alpha * 1e4).astype(np.int64), 0
            )
        return pd.Series(out)

    return win.select(
        "band",
        "px",
        "py",
        alpha4(F.col("_lon"), F.col("_lat"), F.col("_wkt")).alias("alpha4"),
    )


# ---------------------------------------------------------------------------
# Band stacking + nodata->alpha (apps/gdalalg_raster_stack.cpp,
# apps/gdalalg_raster_nodata_to_alpha.cpp)
# ---------------------------------------------------------------------------


def raster_stack(inputs: list[tuple[DataFrame, int]]) -> DataFrame:
    """gdal raster stack: concatenate the inputs' bands into one dataset,
    output bands numbered sequentially in input order (the reference
    renumbers cumulatively across inputs; grids must already align —
    same contract as gdalalg_raster_stack.cpp, which refuses mixed
    extents).  Each input is (grid, n_bands) — band count is dataset
    METADATA in the reference, so it arrives as a parameter, not a
    corpus scan.  Pure JVM unions + constant band offsets: zero
    shuffle, zero Python."""
    out = None
    offset = 0
    for df, nb in inputs:
        part = df.select(
            (F.col("band") + F.lit(offset)).cast("int").alias("band"),
            "px",
            "py",
            "value",
        )
        out = part if out is None else out.unionByName(part)
        offset += nb
    return out


def nodata_to_alpha(grid: DataFrame, nodata: int, nbands: int) -> DataFrame:
    """gdal raster nodata-to-alpha: append an alpha band that is 0 where
    EVERY band of the pixel equals ``nodata`` and 255 otherwise
    (gdalalg_raster_nodata_to_alpha.cpp: fully-nodata pixels go
    transparent; any valid band keeps the pixel opaque).  One bounded
    shuffle on (px, py) for the across-band AND; original bands pass
    through unchanged; ``nbands`` is dataset metadata (parameter, not a
    scan)."""
    alpha = (
        grid.groupBy("px", "py")
        .agg(
            F.max(
                F.when(F.col("value") != nodata, F.lit(1)).otherwise(F.lit(0))
            ).alias("_any_valid")
        )
        .select(
            F.lit(nbands + 1).cast("int").alias("band"),
            "px",
            "py",
            (F.col("_any_valid") * 255).cast("int").alias("value"),
        )
    )
    return grid.select("band", "px", "py", "value").unionByName(alpha)


# --------------------------------------------------------------------------
# gdal raster update (apps/gdalalg_raster_update.cpp): warp a source
# raster INTO an existing destination dataset — dst pixels whose center
# falls inside the source extent (and inside the optional clipping
# geometry, :84-93,:131-134) take the nearest-neighbour source sample
# unless that sample is srcnodata; everything else is left untouched.
# The update then drives a PARTIAL overview refresh over the source
# extent bbox (:137-188 computes overviewRefreshBBox from the source
# corners; gdalalg_raster_overview_refresh.cpp:397
# PartialRefreshFromSourceExtent recomputes only the overview blocks
# intersecting it).
# --------------------------------------------------------------------------

# source raster: half-resolution pixels at a fractional origin, so the
# NN back-projection key is a real grid remap (not an identity)
UPD_OX, UPD_OY = 120.25, 40.25
UPD_RES = 0.5
UPD_W, UPD_H = 160, 100
UPD_NODATA = 13

# shared formula text (Spark F.expr == DuckDB SQL, exact binary
# fractions only — memory: spark-duckdb-parity): NN source key of a dst
# pixel center, and the rectilinear concave cutline containment test
UPD_KEY_X = (
    "CAST(floor((CAST(px AS DOUBLE) + 5.0e-1 - 1.2025e2) / 5.0e-1) AS BIGINT)"
)
UPD_KEY_Y = (
    "CAST(floor((CAST(py AS DOUBLE) + 5.0e-1 - 4.025e1) / 5.0e-1) AS BIGINT)"
)
# L-shaped concave cutline with a hole, in dst world coords (cutline
# edges on integer coords, pixel centers at *.5 — never coincident, so
# center containment is unambiguous; rectilinear keeps the mask in
# whole-stage codegen, the general ray-cast path is covered by
# cutline_crop)
UPD_CUTLINE_PRED = (
    "(((CAST(px AS DOUBLE) + 5.0e-1 >= 1.30e2 AND CAST(px AS DOUBLE) + 5.0e-1 < 1.90e2"
    " AND CAST(py AS DOUBLE) + 5.0e-1 >= 5.0e1 AND CAST(py AS DOUBLE) + 5.0e-1 < 8.0e1)"
    " OR (CAST(px AS DOUBLE) + 5.0e-1 >= 1.30e2 AND CAST(px AS DOUBLE) + 5.0e-1 < 1.60e2"
    " AND CAST(py AS DOUBLE) + 5.0e-1 >= 8.0e1 AND CAST(py AS DOUBLE) + 5.0e-1 < 8.8e1))"
    " AND NOT (CAST(px AS DOUBLE) + 5.0e-1 >= 1.40e2 AND CAST(px AS DOUBLE) + 5.0e-1 < 1.50e2"
    " AND CAST(py AS DOUBLE) + 5.0e-1 >= 5.5e1 AND CAST(py AS DOUBLE) + 5.0e-1 < 6.5e1))"
)


def update_src(spark: SparkSession) -> DataFrame:
    """(sx, sy, value) — value = (sx*11 + sy*3 + 5) % 256; cells where
    the formula lands on UPD_NODATA are the transparent holes."""
    df = spark.range(UPD_W * UPD_H)
    sx = (F.col("id") % UPD_W).cast("long")
    sy = (F.col("id") / UPD_W).cast("long")
    value = ((sx * 11 + sy * 3 + 5) % 256).cast("int")
    return df.select(sx.alias("sx"), sy.alias("sy"), value.alias("value"))


def raster_update(
    dst: DataFrame,
    src: DataFrame,
    nodata: int = UPD_NODATA,
    cutline_pred: str | None = UPD_CUTLINE_PRED,
) -> DataFrame:
    """gdal raster update: dst keeps its value except where (a) the
    pixel center is inside the cutline, (b) the NN source sample exists,
    and (c) that sample is not srcnodata.

    Spark shape: ONE equi-join on the computed source pixel key — the
    source side is broadcast here (a patch raster is normally small
    relative to the 100 TB base); a base-sized patch degrades gracefully
    to a shuffle hash join on the same key.  Everything else is
    whole-stage codegen."""
    keyed = dst.withColumn("_sx", F.expr(UPD_KEY_X)).withColumn(
        "_sy", F.expr(UPD_KEY_Y)
    )
    patch = F.broadcast(
        src.select(
            F.col("sx").alias("_sx"),
            F.col("sy").alias("_sy"),
            F.col("value").alias("_src_value"),
        )
    )
    j = keyed.join(patch, ["_sx", "_sy"], "left")
    inside = F.expr(cutline_pred) if cutline_pred else F.lit(True)
    newv = F.when(
        inside & F.col("_src_value").isNotNull() & (F.col("_src_value") != nodata),
        F.col("_src_value"),
    ).otherwise(F.col("value"))
    return j.select("px", "py", newv.cast("int").alias("value"))


# --------------------------------------------------------------------------
# gdal raster overview refresh (partial): recompute ONLY the overview
# blocks intersecting a dirty window; untouched overview rows pass
# through with zero recompute (gdalalg_raster_overview_refresh.cpp:397
# PartialRefreshFromSourceExtent — block-aligned window in overview
# space, :403-436).
# --------------------------------------------------------------------------

OVR_BLOCK = 16  # overview pixels per refresh block (reference: dataset block size)


def overview_grid(base: DataFrame) -> DataFrame:
    """Level-1 overview of a (px, py, value) grid: AVERAGE resampler,
    floor(mean(2x2) + 0.5) (gcore/overview.cpp average) — one shrinking
    shuffle with map-side partial aggregation."""
    return (
        base.groupBy(
            (F.col("px") / 2).cast("long").alias("opx"),
            (F.col("py") / 2).cast("long").alias("opy"),
        )
        .agg(F.sum("value").alias("_s"))
        .select(
            "opx",
            "opy",
            F.expr("CAST(floor(_s / 4.0e0 + 5.0e-1) AS int)").alias("value"),
        )
    )


def refresh_window(
    xmin: float, ymin: float, xmax: float, ymax: float, block: int = OVR_BLOCK
) -> tuple[int, int, int, int]:
    """Dirty window (world coords at level 0, 1 unit per base pixel)
    -> block-aligned half-open overview-pixel rect, the reference's
    block-granularity refresh region (overview_refresh.cpp:403-436)."""
    import math as _math

    ox0 = int(_math.floor(xmin / 2.0))
    ox1 = int(_math.ceil(xmax / 2.0))
    oy0 = int(_math.floor(ymin / 2.0))
    oy1 = int(_math.ceil(ymax / 2.0))
    return (
        (ox0 // block) * block,
        -(-ox1 // block) * block,
        (oy0 // block) * block,
        -(-oy1 // block) * block,
    )


def overview_refresh(
    old_ovr: DataFrame,
    new_base: DataFrame,
    window: tuple[int, int, int, int],
) -> DataFrame:
    """Partial refresh: overview pixels inside the block-aligned dirty
    window are recomputed from the (updated) base; the rest pass through
    from the pre-existing overview.  ``refreshed`` marks which path a
    row took.

    Scale shape: the recompute side reads ONLY the dirty base window
    (the px/py range predicate prunes the scan before the halving
    shuffle); the pass-through side is a filter with no aggregation —
    at 100 TB a small patch refresh touches a small fraction of
    partitions instead of rebuilding the pyramid."""
    bx0, bx1, by0, by1 = window
    dirty_o = (
        (F.col("opx") >= bx0)
        & (F.col("opx") < bx1)
        & (F.col("opy") >= by0)
        & (F.col("opy") < by1)
    )
    keep = old_ovr.filter(~dirty_o).withColumn("refreshed", F.lit(0))
    fresh = (
        overview_grid(
            new_base.filter(
                (F.col("px") >= 2 * bx0)
                & (F.col("px") < 2 * bx1)
                & (F.col("py") >= 2 * by0)
                & (F.col("py") < 2 * by1)
            )
        )
        .withColumn("refreshed", F.lit(1))
    )
    return keep.unionByName(fresh)


_PYR_PASS_LEVELS = 3  # levels per fused pass: fan-in <= 4^3 = 64 tiles (4 MB)


def _pyramid_checksums_fused(
    spark: SparkSession, zmax: int, src: DataFrame, resample: str
) -> DataFrame:
    """Fused sub-pyramid in chained passes: each pass groups the current
    level's tiles by their ancestor ``k <= 3`` levels up, builds the
    intermediate overview levels locally with the SAME float math as
    ``overview_tiles``'s reduce4 (zero-filled 2x2 mosaic, floor(mean +
    0.5)) and checksums them in place; non-final passes carry the
    pass-floor tiles forward as binary data for the next pass.  Tiles
    are consumed exactly once per pass, so no lineage pin is needed,
    and a zmax-level pyramid costs ceil(zmax/3) shuffles."""
    from gdal_spark.geometry.checksum import checksum_image

    cs_fields = [
        StructField("band", IntegerType()),
        StructField("zoom", IntegerType()),
        StructField("tx", LongType()),
        StructField("ty", LongType()),
        StructField("checksum", IntegerType()),
    ]

    def make_pass(z_top: int, k: int, carry_floor: bool):
        z_floor = z_top - k
        cols = ["band", "zoom", "tx", "ty", "checksum"] + (
            ["data"] if carry_floor else []
        )

        def subpyramid(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            band = int(key[0])
            cur = {
                (int(tx), int(ty)): np.frombuffer(d, dtype=np.uint8).reshape(
                    TILE, TILE
                )
                for tx, ty, d in zip(pdf["tx"], pdf["ty"], pdf["data"])
            }
            rows = []
            z = z_top
            while True:
                for (tx, ty), img in sorted(cur.items()):
                    row = [band, z, tx, ty, int(checksum_image(img))]
                    if carry_floor:
                        row.append(img.tobytes() if z == z_floor else None)
                    rows.append(tuple(row))
                if z == z_floor:
                    break
                parents: dict[tuple[int, int], np.ndarray] = {}
                for pk in {(tx >> 1, ty >> 1) for (tx, ty) in cur}:
                    mosaic = np.zeros((2 * TILE, 2 * TILE), dtype=np.float64)
                    for cx in (0, 1):
                        for cy in (0, 1):
                            child = cur.get((2 * pk[0] + cx, 2 * pk[1] + cy))
                            if child is None:
                                continue
                            r0 = 0 if cy == 1 else TILE  # TMS: north child top
                            mosaic[
                                r0 : r0 + TILE, cx * TILE : (cx + 1) * TILE
                            ] = child
                    quads = mosaic.reshape(TILE, 2, TILE, 2)
                    parents[pk] = np.floor(quads.mean(axis=(1, 3)) + 0.5).astype(
                        np.uint8
                    )
                cur = parents
                z -= 1
            return pd.DataFrame(rows, columns=cols)

        schema = StructType(
            cs_fields + ([StructField("data", BinaryType())] if carry_floor else [])
        )
        return subpyramid, schema

    cur = base_tiles(spark, src, zmax, resample=resample)
    outs = []
    z = zmax
    while True:
        k = min(_PYR_PASS_LEVELS, z)
        last = z - k == 0
        kernel, schema = make_pass(z, k, carry_floor=not last)
        po = cur.groupBy(
            "band",
            F.shiftright("tx", k).alias("_ax"),
            F.shiftright("ty", k).alias("_ay"),
        ).applyInPandas(kernel, schema)
        if last:
            outs.append(po)
            break
        outs.append(
            po.filter(F.col("zoom") > z - k).select(
                "band", "zoom", "tx", "ty", "checksum"
            )
        )
        cur = po.filter(F.col("zoom") == z - k).select(
            "band", "zoom", "tx", "ty", "data"
        )
        z -= k

    from functools import reduce as _reduce

    return _reduce(DataFrame.unionByName, outs)


def nearblack_floodfill(
    pixels: DataFrame, width: int, height: int, near_dist: int = 2,
    fill: int = 0,
) -> DataFrame:
    """Clean collar, floodfill mode (apps/nearblack_lib_floodfill.cpp
    GDALNearblackFloodFillAlg): the collar is the set of near-black
    pixels 4-connected to a near-black BORDER pixel (Process() seeds the
    span filler from every border pixel; MustSet == value <= near_dist
    here), so concave bays reached vertically ARE trimmed and interior
    near-black lakes SURVIVE — both cases the scanline `nearblack` twin
    cannot express (its documented divergence, now closed by this
    operator).

    Distributed shape: the near-black mask runs through the polygonize
    tile-CC kernel (tile-local numpy relaxation + cross-tile min-label
    merge — the serial span-filler queue becomes the label-graph
    relaxation); border-touching labels are a dim set (broadcast
    semi-join) and the final patch is one co-keyed (px, py) join.  The
    raster side never drives, never runs per-pixel Python."""
    from gdal_spark.operators.polygonize import pixel_components

    mask = pixels.filter(F.col("value") <= near_dist).select(
        "px", "py", F.lit(1).cast("int").alias("value")
    )
    comp = pixel_components(mask, width, height)
    border = (
        comp.filter(
            (F.col("px") == 0) | (F.col("px") == width - 1)
            | (F.col("py") == 0) | (F.col("py") == height - 1)
        )
        .select("label")
        .distinct()
    )
    collar = comp.join(F.broadcast(border), "label").select(
        "px", "py", F.lit(1).alias("collar")
    )
    return pixels.join(collar, ["px", "py"], "left").select(
        "px",
        "py",
        F.when(F.col("collar").isNotNull(), F.lit(fill))
        .otherwise(F.col("value"))
        .cast("int")
        .alias("value"),
    )
