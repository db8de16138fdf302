"""Layer-algebra overlays: Intersection / Clip / Erase / Identity.

Reference semantics (ogr/ogrsf_frmts/generic/ogrlayer.cpp):
  * Intersection (:3345) — pairwise A x B intersection pieces, result
    schema = A's fields ⊕ B's fields, empty and (by default, unlike the
    reference's KEEP_LOWER_DIMENSION_GEOMETRIES=YES, :3370)
    lower-dimension results dropped;
  * Clip (:5497)  — A ∩ union(B), A's fields only;
  * Erase (:5806) — A − union(B);
  * Identity (:4730) — Intersection pieces ⊕ the Erase remainder with
    null-padded B fields.

Spark-first plan (replacing the reference's index nested loop):
  1. both sides get mercator cell covers of their envelopes — the doc
     (big) side via pure Spark SQL ``sequence()`` explode, the zone (dim)
     side prepared once per call on the driver like the PIP join's
     broadcast strategy (one bounded collect, a local relation);
  2. broadcast hash join on the cell key; duplicate (doc, zone) pairs
     from multi-cell overlap are eliminated WITHOUT a distinct shuffle by
     keeping only the canonical cell = min corner of the envelope
     intersection;
  3. envelope prefilter JVM-side, then the exact clip kernel in an
     Arrow-batched pandas UDF.  The kernel reads the zone geometry
     carried through the join and decodes it through the one executor
     cache every join shares (geometry/envelope.py ``zone_geometry``:
     polygons, envelope, ``IsRectangle`` flag, fan triangles filled in
     on first use): ``IsRectangle`` zones take the exact min/max fast
     path (the reference's rect-filter special case,
     ogrlayer.cpp:2276-2303) — the same flag the prepared cells hand
     the JVM rect branch, so the two never disagree; GENERAL zones —
     concave, holes, multipolygon, degenerate or self-crossing rings —
     go through the signed fan-triangle decomposition
     (geometry/boolean.py), one vectorized Sutherland–Hodgman pass per
     distinct zone per batch.

Union-of-B semantics (Clip/Erase/coverage against an OVERLAPPING method
layer) are exact for RECTILINEAR zones via per-zone decomposition into
disjoint rects + per-key coordinate-compressed union
(:func:`piece_rects` + :func:`union_area_by_key`); non-rectilinear
method layers raise (pairwise ops stay fully general).  ``erase_area``
keeps the legacy sum-of-pieces plan, valid for DISJOINT method layers.

Piece WKT is emitted on the rect x rect fast path (where the piece is a
single rectangle); general pieces report exact areas with NULL wkt (the
piece may be a multi-part region).
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

from gdal_spark.geometry import mercator
from gdal_spark.geometry.boolean import (
    polys_area,
    polys_pair_intersection_area,
    rects_polys_intersection_area,
)
from gdal_spark.geometry.envelope import ZoneGeometry, closed_polys, zone_geometry
from gdal_spark.geometry.wkt import _fmt, parse_wkt
from gdal_spark.operators.pip_join import _zone_cells

DEFAULT_ZOOM = 5

# areas below this are clip-plane roundoff (~1e-12 on fixture scales),
# not geometry: the corpus lattice makes every true piece >= 2.5e-7
AREA_EPS = 1.0e-9


def _env_cells(df: DataFrame, zoom: int, xmin, ymin, xmax, ymax) -> DataFrame:
    """Explode rows by the mercator cells covering their envelope —
    pure JVM (sequence + explode), stays in whole-stage codegen."""
    z = str(zoom)
    df = df.withColumn("_tx0", F.expr(mercator.sql_tx(xmin, z))).withColumn(
        "_tx1", F.expr(mercator.sql_tx(xmax, z))
    ).withColumn("_ty0", F.expr(mercator.sql_ty(ymin, z))).withColumn(
        "_ty1", F.expr(mercator.sql_ty(ymax, z))
    )
    df = df.withColumn("cell_tx", F.explode(F.sequence("_tx0", "_tx1")))
    df = df.withColumn("cell_ty", F.explode(F.sequence("_ty0", "_ty1")))
    return df


def _intersection_candidates(
    polydocs: DataFrame,
    zones: DataFrame,
    zoom: int,
    wkt_col: str = "geom_wkt",
    geom_format: str = "wkt",
) -> tuple[DataFrame, bool, bool]:
    """Cell join + canonical-cell dedup + envelope prefilter over the
    driver-prepared zone cells, as ``pip_join._zone_cells``'s
    ``(candidates, has_rect, has_poly)``.  polydocs must carry
    envelope columns xmin/ymin/xmax/ymax."""
    z = str(zoom)
    docs = _env_cells(polydocs, zoom, "xmin", "ymin", "xmax", "ymax")
    zcells, has_rect, has_poly = _zone_cells(
        zones, "mercator", zoom, wkt_col, geom_format, twin=None
    )
    cand = docs.join(F.broadcast(zcells), ["cell_tx", "cell_ty"], "inner")
    # envelope overlap (inclusive bbox test, ogrgeometry.cpp:586-593)
    cand = cand.filter(
        (F.col("xmin") <= F.col("env_xmax"))
        & (F.col("env_xmin") <= F.col("xmax"))
        & (F.col("ymin") <= F.col("env_ymax"))
        & (F.col("env_ymin") <= F.col("ymax"))
    )
    # canonical cell of the envelope intersection = its min corner's cell
    cand = cand.filter(
        (
            F.col("cell_tx")
            == F.greatest(F.col("_tx0"), F.expr(mercator.sql_tx("env_xmin", z)))
        )
        & (
            F.col("cell_ty")
            == F.greatest(F.col("_ty0"), F.expr(mercator.sql_ty("env_ymin", z)))
        )
    )
    cand = cand.drop("_tx0", "_tx1", "_ty0", "_ty1", "cell_tx", "cell_ty")
    return cand, has_rect, has_poly


def zone_clip_areas(z: ZoneGeometry, x0, y0, x1, y1) -> np.ndarray:
    """Exact area of each doc envelope [x0, x1] x [y0, y1] ∩ zone ``z``:
    IEEE min/max on an ``IsRectangle`` zone (the reference's rect-filter
    special case, bit-identical to intersection_join's JVM rect
    branch), the signed fan-triangle S-H pass otherwise."""
    if z.is_rect:
        ix0, iy0, ix1, iy1 = _rect_overlap(z, x0, y0, x1, y1)
        return np.where((ix0 < ix1) & (iy0 < iy1), (ix1 - ix0) * (iy1 - iy0), 0.0)
    tris, w = z.tris
    return rects_polys_intersection_area(np.c_[x0, y0, x1, y1], tris, w)


def _rect_overlap(z: ZoneGeometry, x0, y0, x1, y1):
    zx0, zy0, zx1, zy1 = z.env
    return (
        np.maximum(x0, zx0),
        np.maximum(y0, zy0),
        np.minimum(x1, zx1),
        np.minimum(y1, zy1),
    )


def _clip_kernel(
    zone_wkt_col: str,
    doc_wkt_col: str | None,
    emit_wkt: bool = True,
    geom_format: str = "wkt",
):
    """mapInPandas kernel computing exact intersection pieces.

    Emits (piece_wkt, piece_area) per candidate row; area <= AREA_EPS
    rows = empty/lower-dimension intersections (dropped by the caller,
    matching KEEP_LOWER_DIMENSION_GEOMETRIES=NO).  One vectorized pass
    per distinct zone in the batch."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            areas = np.zeros(n, dtype=np.float64)
            wkts = np.full(n, None, dtype=object)
            xmin = pdf["xmin"].to_numpy(np.float64)
            ymin = pdf["ymin"].to_numpy(np.float64)
            xmax = pdf["xmax"].to_numpy(np.float64)
            ymax = pdf["ymax"].to_numpy(np.float64)
            uniq, inv = np.unique(
                pdf[zone_wkt_col].to_numpy(dtype=object), return_inverse=True
            )
            for i, g in enumerate(uniq):
                rows = np.flatnonzero(inv == i)
                z = zone_geometry(g, geom_format)
                if doc_wkt_col is not None:
                    for r in rows:  # pytest-scale path: WKT x WKT pairs
                        dpolys = closed_polys(*parse_wkt(pdf[doc_wkt_col].iat[r]))
                        areas[r] = polys_pair_intersection_area(dpolys, z.polys)
                    continue
                env = (xmin[rows], ymin[rows], xmax[rows], ymax[rows])
                areas[rows] = zone_clip_areas(z, *env)
                if not (emit_wkt and z.is_rect):
                    continue
                # rect x rect: the piece is the envelope overlap itself
                ix0, iy0, ix1, iy1 = _rect_overlap(z, *env)
                for k in np.flatnonzero((ix0 < ix1) & (iy0 < iy1)):
                    x0s, y0s = _fmt(ix0[k]), _fmt(iy0[k])
                    x1s, y1s = _fmt(ix1[k]), _fmt(iy1[k])
                    wkts[rows[k]] = (
                        f"POLYGON (({x0s} {y0s},{x1s} {y0s},"
                        f"{x1s} {y1s},{x0s} {y1s},{x0s} {y0s}))"
                    )
            out = pdf.copy()
            out["piece_area"] = areas
            out["piece_wkt"] = wkts
            yield out

    return kernel


def _lowdim_kernel(zone_wkt_col: str, doc_wkt_col: str | None):
    """mapInPandas kernel replacing piece_wkt with the shared-boundary
    LINESTRING of a TOUCHING pair (geometry/polybool.py
    shared_boundary_wkt).  Runs only on the zero-area candidate residue
    — pairs whose envelopes overlap but interiors don't — a
    boundary-measure subset, so the per-pair loop is dim-sized, not
    corpus-sized."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from gdal_spark.geometry.polybool import shared_boundary_wkt

        for pdf in batches:
            out = []
            for i in range(len(pdf)):
                zpolys = zone_geometry(pdf[zone_wkt_col].iat[i], "wkt").polys
                if doc_wkt_col is not None:
                    dpolys = closed_polys(*parse_wkt(pdf[doc_wkt_col].iat[i]))
                else:
                    x0, y0 = pdf["xmin"].iat[i], pdf["ymin"].iat[i]
                    x1, y1 = pdf["xmax"].iat[i], pdf["ymax"].iat[i]
                    dpolys = [[[(x0, y0), (x1, y0), (x1, y1), (x0, y1)]]]
                out.append(shared_boundary_wkt(dpolys, zpolys))
            res = pdf.copy()
            res["piece_wkt"] = out
            yield res

    return kernel


def intersection_join(
    polydocs: DataFrame,
    zones: DataFrame,
    zoom: int = DEFAULT_ZOOM,
    doc_wkt_col: str | None = None,
    emit_wkt: bool = True,
    wkt_col: str = "geom_wkt",
    geom_format: str = "wkt",
    keep_lower_dim: bool = False,
) -> DataFrame:
    """OGRLayer::Intersection: one row per overlapping (doc, zone) pair
    with the exact intersection piece area (and piece_wkt on the
    rect x rect path).  Zones may be concave / holed / multipart.

    ``geom_format="wkb"`` consumes a WKB BinaryType zone column
    (geo-parquet / Arrow ogc.wkb): envelopes come off the raw bytes and
    the clip kernel parses WKB once per distinct zone per executor —
    same cache, same kernels, parity-pinned in tests/test_pip_wkb.py.

    Rectangle zones (IsRectangle, ogrgeometry.cpp:8822) with rect docs
    resolve their piece areas in PURE JVM codegen — the same min/max
    math as the kernel's rect path (overlay.py rect rows), so the two
    branches are bit-identical; only genuinely non-rect candidates
    transfer through Arrow (the pip_join rect_fast shape), and only the
    branches the prepared zone layer needs are planned.  WKT emission
    and WKT-doc pairs keep the kernel (Python float formatting).

    The zone layer is prepared on the driver when called, one zone at a
    time, so this pays off on a SMALL layer (see pip_join); a mixed
    layer plans both branches.  At most ``MAX_DIM_ROWS`` zones
    (operators/dim.py), a bound every overlay built on this join
    shares — none has a distributed version.

    ``keep_lower_dim=False`` (the default) DIVERGES from the reference,
    whose ``KEEP_LOWER_DIMENSION_GEOMETRIES`` defaults to YES
    (ogrlayer.cpp:3370): touching pairs are dropped unless True."""
    use_rect = not emit_wkt and doc_wkt_col is None
    cand, has_rect, has_poly = _intersection_candidates(
        polydocs, zones, zoom, wkt_col, geom_format
    )
    branches = []
    if use_rect and (has_rect or not has_poly):
        ix0 = F.greatest(F.col("xmin"), F.col("env_xmin"))
        iy0 = F.greatest(F.col("ymin"), F.col("env_ymin"))
        ix1 = F.least(F.col("xmax"), F.col("env_xmax"))
        iy1 = F.least(F.col("ymax"), F.col("env_ymax"))
        area = F.when((ix0 < ix1) & (iy0 < iy1), (ix1 - ix0) * (iy1 - iy0))
        branches.append(
            cand.filter(F.col("is_rect"))
            .drop("is_rect")
            .withColumn("piece_area", area.otherwise(F.lit(0.0)))
            .withColumn("piece_wkt", F.lit(None).cast(StringType()))
        )
    if has_poly or not use_rect:
        poly_cand = (cand.filter(~F.col("is_rect")) if use_rect else cand).drop(
            "is_rect"
        )
        schema = StructType(
            poly_cand.schema.fields
            + [
                StructField("piece_area", DoubleType()),
                StructField("piece_wkt", StringType()),
            ]
        )
        branches.append(
            poly_cand.mapInPandas(
                _clip_kernel(wkt_col, doc_wkt_col, emit_wkt, geom_format), schema
            )
        )
    pieces = reduce(DataFrame.unionByName, branches)
    out = pieces.filter(F.col("piece_area") > AREA_EPS)
    if keep_lower_dim:
        # KEEP_LOWER_DIMENSION_GEOMETRIES=YES (ogrlayer.cpp:3345-3580):
        # zero-area candidates re-resolve through the shared-boundary
        # kernel; pairs with a 1-D touch survive with the LINESTRING in
        # piece_wkt and piece_area = 0.  Off (the default) == the
        # previous drop-empties behavior exactly.
        if not emit_wkt or geom_format != "wkt":
            raise ValueError(
                "keep_lower_dim requires emit_wkt=True and WKT zones "
                "(the reference's option lives on the WKT-emitting "
                "Intersection method)"
            )
        touching = pieces.filter(F.col("piece_area") <= AREA_EPS)
        lines = touching.mapInPandas(
            _lowdim_kernel(wkt_col, doc_wkt_col), touching.schema
        ).filter(F.col("piece_wkt") != "LINESTRING EMPTY")
        out = out.unionByName(lines)
    return out.drop("env_xmin", "env_ymin", "env_xmax", "env_ymax")


def _erase_remainder(polydocs: DataFrame, cut: DataFrame) -> DataFrame:
    """(doc_id, erase_area): each doc's envelope area minus its ``_cut``."""
    full = (F.col("xmax") - F.col("xmin")) * (F.col("ymax") - F.col("ymin"))
    docs = polydocs.select("doc_id", full.alias("_full"))
    out = docs.join(cut, "doc_id", "left").fillna({"_cut": 0.0})
    return out.select("doc_id", (F.col("_full") - F.col("_cut")).alias("erase_area"))


def erase_from_pieces(polydocs: DataFrame, pieces: DataFrame) -> DataFrame:
    """Erase remainder per doc from an EXISTING pieces DataFrame —
    identity/union/symdifference reuse one pieces computation instead of
    re-running the clip kernel.  Requires a disjoint method layer
    (union = sum of pairwise pieces); overlapping layers use
    :func:`erase_union_area`."""
    cut = pieces.groupBy("doc_id").agg(F.sum("piece_area").alias("_cut"))
    return _erase_remainder(polydocs, cut)


def erase_area(polydocs: DataFrame, zones: DataFrame, zoom: int = DEFAULT_ZOOM) -> DataFrame:
    """Erase (A − union B) reported as remaining area per doc; requires a
    disjoint zone layer (union = sum of pairwise pieces)."""
    return erase_from_pieces(
        polydocs, intersection_join(polydocs, zones, zoom, emit_wkt=False)
    )


def identity_join(
    polydocs: DataFrame, zones: DataFrame, zoom: int = DEFAULT_ZOOM
) -> DataFrame:
    """Identity (ogrlayer.cpp:4730): intersection pieces with zone fields
    plus the uncovered remainder of each doc with null zone fields.
    The pieces are computed ONCE and shared by the cut and remainder
    branches (persisted: both branches consume the same kernel output)."""
    pieces = intersection_join(polydocs, zones, zoom, emit_wkt=False).persist()
    remainder = (
        erase_from_pieces(polydocs, pieces)
        .filter(F.col("erase_area") > 0)
        .select(
            "doc_id",
            F.lit(None).cast("long").alias("zone_id"),
            F.col("erase_area").alias("piece_area"),
        )
    )
    return pieces.select("doc_id", "zone_id", "piece_area").unionByName(remainder)


# ------------------------------------------------ union-of-B machinery

def piece_rects(
    polydocs: DataFrame,
    zones: DataFrame,
    zoom: int = DEFAULT_ZOOM,
    wkt_col: str = "geom_wkt",
) -> DataFrame:
    """(doc_id, zone_id, rxmin, rymin, rxmax, rymax): the doc ∩ zone
    overlap as DISJOINT-per-zone rects — each zone's cover (holes
    already subtracted) decomposed once per executor via
    ``rectilinear_rects``, clipped to the doc envelope.

    Works for OVERLAPPING, concave, holed method layers as long as every
    zone is rectilinear (axis-parallel edges); raises otherwise.  This
    is the exact input for union-of-B areas by doc (Erase/Clip) or by
    zone (coverage) — one groupBy on the chosen key."""
    cand = _intersection_candidates(polydocs, zones, zoom)[0].select(
        "doc_id", "zone_id", "xmin", "ymin", "xmax", "ymax", wkt_col
    )
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("zone_id", LongType()),
            StructField("rxmin", DoubleType()),
            StructField("rymin", DoubleType()),
            StructField("rxmax", DoubleType()),
            StructField("rymax", DoubleType()),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out_doc, out_zone, rx0, ry0, rx1, ry1 = [], [], [], [], [], []
            uniq, inv = np.unique(
                pdf[wkt_col].to_numpy(dtype=object), return_inverse=True
            )
            xmin = pdf["xmin"].to_numpy(np.float64)
            ymin = pdf["ymin"].to_numpy(np.float64)
            xmax = pdf["xmax"].to_numpy(np.float64)
            ymax = pdf["ymax"].to_numpy(np.float64)
            dids = pdf["doc_id"].to_numpy(np.int64)
            zids = pdf["zone_id"].to_numpy(np.int64)
            for i, w in enumerate(uniq):
                rl = zone_geometry(w, "wkt").rects
                if rl is None:
                    raise ValueError(
                        "union-of-B semantics need a rectilinear method "
                        "layer (pairwise intersection stays general)"
                    )
                rows = np.flatnonzero(inv == i)
                # clip every zone rect against every candidate doc env
                R = len(rl)
                if R == 0 or rows.size == 0:
                    continue
                cx0 = np.maximum(xmin[rows][:, None], rl[None, :, 0])
                cy0 = np.maximum(ymin[rows][:, None], rl[None, :, 1])
                cx1 = np.minimum(xmax[rows][:, None], rl[None, :, 2])
                cy1 = np.minimum(ymax[rows][:, None], rl[None, :, 3])
                ok = (cx0 < cx1) & (cy0 < cy1)
                ri, rj = np.nonzero(ok)
                out_doc.append(dids[rows][ri])
                out_zone.append(zids[rows][ri])
                rx0.append(cx0[ri, rj])
                ry0.append(cy0[ri, rj])
                rx1.append(cx1[ri, rj])
                ry1.append(cy1[ri, rj])
            if not out_doc:
                continue
            yield pd.DataFrame(
                {
                    "doc_id": np.concatenate(out_doc),
                    "zone_id": np.concatenate(out_zone),
                    "rxmin": np.concatenate(rx0),
                    "rymin": np.concatenate(ry0),
                    "rxmax": np.concatenate(rx1),
                    "rymax": np.concatenate(ry1),
                }
            )

    return cand.mapInPandas(kernel, schema)


def union_area_by_key(rects: DataFrame, key: str) -> DataFrame:
    """(key, union_area): exact union area of possibly-overlapping
    axis-aligned rects per key — coordinate compression per group
    (one shuffle on the key; group size bounded by local overlap
    density, not corpus size)."""
    from gdal_spark.operators.coverage import rect_union_area

    schema = StructType(
        [StructField(key, LongType()), StructField("union_area", DoubleType())]
    )

    def kernel(k: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        r = pdf[["rxmin", "rymin", "rxmax", "rymax"]].to_numpy(np.float64)
        return pd.DataFrame({key: [k[0]], "union_area": [rect_union_area(r)]})

    return rects.groupBy(key).applyInPandas(kernel, schema)


def erase_union_area(
    polydocs: DataFrame,
    zones: DataFrame,
    zoom: int = DEFAULT_ZOOM,
    rects: DataFrame | None = None,
) -> DataFrame:
    """Erase (A − union B) with a possibly OVERLAPPING rectilinear method
    layer: per-doc coordinate-compressed union of the piece rects."""
    if rects is None:
        rects = piece_rects(polydocs, zones, zoom)
    cut = union_area_by_key(rects, "doc_id").withColumnsRenamed(
        {"union_area": "_cut"}
    )
    return _erase_remainder(polydocs, cut)


def zone_uncovered_area(
    zones: DataFrame,
    rects: DataFrame,
    wkt_col: str = "geom_wkt",
) -> DataFrame:
    """(zone_id, uncovered_area): zone cover minus the union of its doc
    overlaps (the B-side term of Union/SymDifference), overlapping A
    layer handled exactly.  Zone area from the parsed geometry."""
    cov = union_area_by_key(rects, "zone_id").withColumnsRenamed(
        {"union_area": "_cov"}
    )

    area_schema = StructType(
        [StructField("zone_id", LongType()), StructField("zone_area", DoubleType())]
    )

    def zarea(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            areas = [polys_area(zone_geometry(w, "wkt").polys) for w in pdf[wkt_col]]
            yield pd.DataFrame({"zone_id": pdf["zone_id"], "zone_area": areas})

    z = zones.select("zone_id", wkt_col).mapInPandas(zarea, area_schema)
    out = z.join(cov, "zone_id", "left").fillna({"_cov": 0.0})
    return out.select(
        "zone_id", (F.col("zone_area") - F.col("_cov")).alias("uncovered_area")
    )
