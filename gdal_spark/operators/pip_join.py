"""Point-in-polygon spatial join — the engine's flagship operator.

Re-answers ``OGRLayer::Intersection`` for point inputs
(ogr/ogrsf_frmts/generic/ogrlayer.cpp:3345-3580) with a Spark-first plan
replacing the reference's nested loop + prepared-geometry pretest:

  1. **Cell index**: every zone polygon's envelope is covered with grid
     cells (one per-batch cover, :func:`_cover`, fed a cover function
     and key columns from the ``_INDEXES`` table: GlobalMercator tiles
     at ``zoom``, S2 cells or axial hexes); every point gets its single
     cell (pure Spark SQL for mercator and hex, one Arrow kernel for S2).
  2. **Join**: hash join on the cell key.  ``broadcast`` (default)
     collects the bounded zone layer once per call (``operators/dim.py``)
     and plans its cells as a local relation: map-side join, zero
     shuffle of the doc corpus, immune to hot-cell skew.  ``shuffle``
     (layers too big to collect) covers zones in a mapInPandas, salts
     the point side SALT ways and replicates zone-cells per salt.
  3. **Refine**: envelope prefilter JVM-side (the reference's bbox
     short-circuit, ogrgeometry.cpp:586-593), then exact ray-cast PIP in
     an Arrow-batched pandas UDF (port of ogrlinearring.cpp:453-532) over
     the zone geometry carried through the join; rectangle zones take a
     JVM envelope accept instead, and only the branches the layer needs
     are planned (the reference's ``InstallFilter``, ogrlayer.cpp:2171).

The cover decodes each zone once into a ``ZoneGeometry`` (closed rings,
envelope, ``IsRectangle``); the refine reads the same decode through
the executor cache ``zone_geometry``, so both agree.

Output = point columns ⊕ zone columns (ogrlayer.cpp:3550-3560 result
schema), span sequence untouched.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from gdal_spark.geometry import mercator
from gdal_spark.geometry.envelope import ZoneGeometry, decode, zone_geometry
from gdal_spark.geometry.wkt import parse_wkt
from gdal_spark.operators.dim import collect_dim

DEFAULT_ZOOM = 6  # ~5.6° cells at equator; zone envelopes span O(10) cells


def _cover_cells(env, zoom):
    """All (tx, ty) mercator cells intersecting an envelope (lon/lat)."""
    xmin, ymin, xmax, ymax = env
    # clamp to mercator domain
    ymin = max(ymin, -85.05)
    ymax = min(ymax, 85.05)
    xmin = max(xmin, -179.999999)
    xmax = min(xmax, 179.999999)
    tx0, ty0 = (int(v) for v in mercator.lat_lon_to_tile(ymin, xmin, zoom))
    tx1, ty1 = (int(v) for v in mercator.lat_lon_to_tile(ymax, xmax, zoom))
    n = 2**zoom
    return [
        (tx, ty)
        for tx in range(max(tx0, 0), min(tx1, n - 1) + 1)
        for ty in range(max(ty0, 0), min(ty1, n - 1) + 1)
    ]


_ENV = ("env_xmin", "env_ymin", "env_xmax", "env_ymax")


def _cover(pdf: pd.DataFrame, index: str, zoom: int, wkt_col: str, geom_format: str):
    """One row per (zone, covering cell of ``index``): the zone's columns,
    the cell keys, the envelope for the JVM prefilter and ``is_rect``
    (``IsRectangle``, ogrgeometry.cpp:8822, routing rectangles to the
    envelope-only refine).  Each zone is decoded once."""
    keys, cover, _ = _INDEXES[index]
    rows = []
    for i, g in enumerate(pdf[wkt_col]):
        z = ZoneGeometry(*decode(g, geom_format))
        rows.extend((i, *cell, *z.env, z.is_rect) for cell in cover(z.env, zoom))
    extra = pd.DataFrame(rows, columns=["_i", *keys, *_ENV, "is_rect"])
    out = pdf.iloc[extra["_i"].to_numpy(dtype=np.int64)].reset_index(drop=True)
    for c in extra.columns[1:]:
        out[c] = extra[c].to_numpy()
    return out


def _zone_cells(
    zones: DataFrame,
    index: str,
    zoom: int,
    wkt_col: str,
    geom_format: str,
    on_driver: bool = True,
    twin: str | None = "pip_join(strategy='shuffle'), whose cover runs on executors",
) -> tuple[DataFrame, bool, bool]:
    """The zone side of every cell index as ``(cells, has_rect,
    has_poly)``: the :func:`_cover` rows and whether any is / is not a
    rectangle.  ``on_driver`` covers the bounded layer once, when
    called, on the driver (:func:`collect_dim`) and plans it as a local
    relation (a ``LocalTableScan``); otherwise the same cover runs in a
    mapInPandas on the executors each time the plan runs, nothing is
    collected, and both flags are True."""
    keys = _INDEXES[index][0]
    schema = StructType(
        list(zones.schema.fields)
        + [StructField(k, LongType()) for k in keys]
        + [StructField(c, DoubleType()) for c in _ENV]
        + [StructField("is_rect", BooleanType())]
    )
    if not on_driver:

        def expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                yield _cover(pdf, index, zoom, wkt_col, geom_format)

        return zones.mapInPandas(expand, schema), True, True
    cells = _cover(
        collect_dim(zones, "zone layer", twin), index, zoom, wkt_col, geom_format
    )
    rect = cells["is_rect"].to_numpy(dtype=bool)
    return (
        zones.sparkSession.createDataFrame(cells, schema),
        bool(rect.any()),
        bool((~rect).any()),
    )


def zone_cell_index(
    zones: DataFrame,
    zoom: int = DEFAULT_ZOOM,
    wkt_col: str = "geom_wkt",
    with_rect_flag: bool = False,
    geom_format: str = "wkt",
) -> DataFrame:
    """Explode a zone layer into one row per covered mercator cell
    (cell_tx, cell_ty) at ``zoom``, with the zone envelope (and
    optionally ``is_rect``) attached — the driver-prepared local
    relation of :func:`_zone_cells`.

    ``geom_format="wkb"`` reads the geometry column as WKB BinaryType
    (geo-parquet / Arrow ``ogc.wkb`` interop, ogrlayerarrow.cpp:2562)."""
    cells, _, _ = _zone_cells(zones, "mercator", zoom, wkt_col, geom_format)
    return cells if with_rect_flag else cells.drop("is_rect")


def with_wkb_geometry(
    df: DataFrame, wkt_col: str = "geom_wkt", wkb_col: str = "geom_wkb"
) -> DataFrame:
    """Attach a WKB ``BinaryType`` geometry column rendered from WKT —
    the fixture/interop shim for layers that arrive as text (a real
    geo-parquet source already carries ``ogc.wkb`` bytes).  Per-row loop
    is fine here: this runs over dim-sized method layers only."""
    from pyspark.sql.types import BinaryType

    from gdal_spark.geometry.wkb import wkt_payload_to_wkb

    @F.pandas_udf(BinaryType())
    def conv(wkt: pd.Series) -> pd.Series:
        out = []
        for s in wkt:
            typ, payload = parse_wkt(s)
            out.append(wkt_payload_to_wkb(typ, payload))
        return pd.Series(out)

    return df.withColumn(wkb_col, conv(F.col(wkt_col)))


def with_point_cell(points: DataFrame, zoom: int = DEFAULT_ZOOM) -> DataFrame:
    """Attach (cell_tx, cell_ty) to a point DataFrame — pure JVM math."""
    return points.withColumn(
        "cell_tx", F.expr(mercator.sql_tx("lon", str(zoom)))
    ).withColumn("cell_ty", F.expr(mercator.sql_ty("lat", str(zoom))))


# -------------------------------------------------------------- S2 index
# The pluggable S2 encoder (SURVEY §7; geometry/s2.py).  One BIGINT cell
# key instead of (tx, ty): the point side is a single Arrow-batched
# numpy kernel (the north-star "batched H3/S2 cell encoding in
# Arrow-vectorized pandas UDFs"), the zone side covers each envelope
# with a proven-superset (s,t)-bbox per face.  Ids are stored as the
# SIGNED view of the uint64 bit pattern (faces 4-5 set bit 63) — the
# equi-join and range-partitioning only care about the bit pattern.
S2_LEVEL = 6  # ~64x64 cells/face, same granularity class as zoom 6


def with_point_cell_s2(points: DataFrame, level: int = S2_LEVEL) -> DataFrame:
    """Attach the level-``level`` S2 ancestor cell id to each point."""
    from gdal_spark.geometry import s2

    @F.pandas_udf(LongType())
    def enc(lat: pd.Series, lon: pd.Series) -> pd.Series:
        leaf = s2.leaf_from_lat_lng(
            lat.to_numpy(dtype=np.float64), lon.to_numpy(dtype=np.float64)
        )
        return pd.Series(s2.parent_at_level(leaf, level).view(np.int64))

    return points.withColumn("cell_s2", enc(F.col("lat"), F.col("lon")))


def _s2_cover(env, zoom) -> list[tuple[int]]:
    """Level-``S2_LEVEL`` cells covering an envelope (``zoom`` unused)."""
    from gdal_spark.geometry import s2

    return [(int(c),) for c in s2.cover_rect(*env, level=S2_LEVEL).view(np.int64)]


# ------------------------------------------------------------- hex index
# The hexagonal pluggable encoder (the H3 half of the north-star "H3/S2
# cell encoding", delivered as an honest axial hex grid rather than a
# from-memory reproduction of H3's icosahedral base-cell tables): a
# pointy-top hexagonal lattice of circumradius HEX_DEG degrees directly
# on the lon/lat plane.  The point side is PURE whole-stage-codegen SQL
# (fractional axial coords + cube rounding — no Python at all, one step
# cheaper than S2's Arrow kernel); the zone side enumerates every hex
# center inside the envelope expanded by 2*HEX_DEG, a proven superset:
# cube-rounding assigns each point a hexagon containing it, whose center
# is therefore within one circumradius of the point.  Like S2 (and
# unlike mercator tiles) the grid covers the poles.  The refine stage is
# shared, so the index is output-invisible — pip_join_hex registers
# against the SAME oracle.
HEX_DEG = 4.0  # hex circumradius in degrees, same class as zoom-6 cells
_SQRT3 = 1.7320508075688772


def with_point_cell_hex(points: DataFrame, size: float = HEX_DEG) -> DataFrame:
    """Attach (hex_q, hex_r) axial hex coordinates — pure JVM math.

    Fractional axial coords for a pointy-top hex grid, then standard
    cube rounding (round each cube axis, recompute the axis with the
    largest rounding error from the other two)."""
    qf = f"(({_SQRT3!r} / 3.0e0 * lon - lat / 3.0e0) / {size!r})"
    rf = f"(2.0e0 / 3.0e0 * lat / {size!r})"
    pts = (
        points.withColumn("_hx", F.expr(qf))
        .withColumn("_hz", F.expr(rf))
        .withColumn("_hy", F.expr("-_hx - _hz"))
        .withColumn("_rx", F.expr("round(_hx)"))
        .withColumn("_ry", F.expr("round(_hy)"))
        .withColumn("_rz", F.expr("round(_hz)"))
        .withColumn("_dx", F.expr("abs(_rx - _hx)"))
        .withColumn("_dy", F.expr("abs(_ry - _hy)"))
        .withColumn("_dz", F.expr("abs(_rz - _hz)"))
    )
    pts = pts.withColumn(
        "hex_q",
        F.expr(
            "CAST(CASE WHEN _dx > _dy AND _dx > _dz THEN -_ry - _rz"
            " ELSE _rx END AS BIGINT)"
        ),
    ).withColumn(
        "hex_r",
        F.expr(
            "CAST(CASE WHEN _dx > _dy AND _dx > _dz THEN _rz"
            " WHEN _dy > _dz THEN _rz"
            " ELSE -_rx - _ry END AS BIGINT)"
        ),
    )
    return pts.drop(
        "_hx", "_hy", "_hz", "_rx", "_ry", "_rz", "_dx", "_dy", "_dz"
    )


def hex_cover_rect(
    xmin: float, ymin: float, xmax: float, ymax: float, size: float = HEX_DEG
):
    """All (q, r) hexes whose CENTER lies in the envelope expanded by
    one circumradius (+0.1% fp slack) — a superset of every hex any
    contained point can round to: the assigned hexagon contains the
    point, so its center is within exactly one circumradius; the slack
    term dwarfs any rounding drift while costing no extra cells at
    realistic zone sizes (a 2x margin measurably inflated the join
    fan-out and the Arrow refine volume at the 2M-doc probe)."""
    m = 1.001 * size
    step_y = 1.5 * size
    step_x = _SQRT3 * size
    r_lo = int(np.ceil((ymin - m) / step_y))
    r_hi = int(np.floor((ymax + m) / step_y))
    out = []
    for r in range(r_lo, r_hi + 1):
        q_lo = int(np.ceil((xmin - m) / step_x - r / 2.0))
        q_hi = int(np.floor((xmax + m) / step_x - r / 2.0))
        out.extend((q, r) for q in range(q_lo, q_hi + 1))
    return out


# index name -> (zone-side cell keys, envelope cover, point-side encoder);
# the candidate grid only decides which pairs reach the shared refine,
# so every index yields the same join output
_INDEXES = {
    "mercator": (("cell_tx", "cell_ty"), _cover_cells, with_point_cell),
    "s2": (
        ("cell_s2",),
        _s2_cover,
        lambda points, zoom: with_point_cell_s2(points),
    ),
    "hex": (
        ("hex_q", "hex_r"),
        lambda env, zoom: hex_cover_rect(*env),
        lambda points, zoom: with_point_cell_hex(points),
    ),
}


def _make_refine_udf(geom_format: str = "wkt"):
    """pandas UDF testing (lon, lat) against the zone polygon whose WKT
    (or WKB bytes) rides on the candidate row.  Batch work is grouped by
    UNIQUE geometry (np.unique), so the ray-cast stays vectorized per
    zone."""
    from gdal_spark.geometry.pip import points_in_polygon

    @F.pandas_udf(BooleanType())
    def refine(lon: pd.Series, lat: pd.Series, wkt: pd.Series) -> pd.Series:
        xs = lon.to_numpy(dtype=np.float64)
        ys = lat.to_numpy(dtype=np.float64)
        uniq, inv = np.unique(wkt.to_numpy(dtype=object), return_inverse=True)
        out = np.zeros(len(xs), dtype=bool)
        for i, s in enumerate(uniq):
            mask = inv == i
            hit = np.zeros(int(mask.sum()), dtype=bool)
            for rings in zone_geometry(s, geom_format).polys:
                hit |= points_in_polygon(xs[mask], ys[mask], rings)
            out[mask] = hit
        return pd.Series(out)

    return refine


def pip_join(
    points: DataFrame,
    zones: DataFrame,
    zoom: int = DEFAULT_ZOOM,
    strategy: str = "broadcast",
    salt: int = 8,
    wkt_col: str = "geom_wkt",
    rect_fast: bool = True,
    geom_format: str = "wkt",
    index: str = "mercator",
) -> DataFrame:
    """Spatial inner join: point docs x polygon zones.

    ``index`` selects the candidate cell grid: ``"mercator"`` (default,
    GlobalMercator (tx, ty) at ``zoom``), ``"s2"`` (S2 cell ids at
    ``S2_LEVEL`` — one BIGINT join key, whole-sphere incl. poles, Hilbert
    locality for free) or ``"hex"`` (axial hexes of circumradius
    ``HEX_DEG``).  The refine stage is identical, so every index
    produces bit-identical join output.

    ``geom_format="wkb"`` consumes a WKB ``BinaryType`` geometry column
    (geo-parquet / Arrow ``ogc.wkb``, ogrlayerarrow.cpp:2562) under any
    index: cell cover, envelope, rectangle routing and refine all read
    the zone through the same decoder as the WKT path — its exact twin,
    bit-parity pytest-pinned, without the ~2-5x text parse/shuffle tax
    of WKT at corpus scale.

    Returns points.* ⊕ zones.* (minus helper columns) for every (point,
    zone) pair where the point lies strictly inside the zone polygon.

    ``rect_fast`` mirrors the reference's rectangle-filter short-circuit
    (``InstallFilter`` → ``m_bFilterIsEnvelope``, ogrlayer.cpp:2171;
    envelope-only accept ogrlayer.cpp:2287-2299): zones whose geometry IS
    an axis-aligned rectangle skip the Python ray-cast entirely.  The
    ray-cast (ogrlinearring.cpp:499-532 half-open crossing rule) on a
    rectangle reduces EXACTLY to ``xmin <= x < xmax AND ymin <= y < ymax``
    — horizontal edges never straddle the +x ray, each vertical edge at
    ``xe`` crosses iff ``ymin <= y < ymax`` and ``x < xe`` — so the fast
    branch is bit-identical to the slow path, evaluated as pure JVM
    whole-stage codegen.  Only the branches the prepared layer needs are
    planned (all-rect: no Python; all-polygon: no rect branch; mixed:
    a union, each branch scanning the corpus once); the shuffle
    strategy cannot know without collecting, so it plans both.  The
    broadcast prepare pays off on a SMALL layer: it covers zones one at
    a time on the driver, not in parallel on executors, so a layer of
    ~1e5 zones prepares slower than the parallel cover would; a layer
    of one kind also drops a branch.  It reads the zone layer once,
    when called (one Spark job); a streaming ``points`` keeps the
    executor cover, so each micro-batch re-reads the static layer, as
    in any stream-static join.
    """
    if index not in _INDEXES:
        raise ValueError(f"unknown index: {index}")
    if strategy not in ("broadcast", "shuffle"):
        raise ValueError(f"unknown strategy: {strategy}")
    keys = list(_INDEXES[index][0])
    cells, has_rect, has_poly = _zone_cells(
        zones, index, zoom, wkt_col, geom_format,
        strategy == "broadcast" and not points.isStreaming,
    )
    pts = _INDEXES[index][2](points, zoom)
    if strategy == "broadcast":
        cand = pts.join(F.broadcast(cells), keys, "inner")
    else:
        # salt the hot cells: point side gets a deterministic salt,
        # zone-cell side is replicated once per salt value
        pts = pts.withColumn("_salt", F.pmod(F.xxhash64("doc_id"), F.lit(salt)))
        salts = pts.sparkSession.range(salt).select(F.col("id").alias("_salt"))
        cells = cells.crossJoin(salts)
        cand = pts.join(cells, keys + ["_salt"], "inner").drop("_salt")

    lon, lat = F.col("lon"), F.col("lat")
    x0, y0, x1, y1 = (F.col(c) for c in _ENV)
    branches = []
    if rect_fast and (has_rect or not has_poly):
        # half-open envelope accept == ray-cast result on a rectangle
        branches.append(
            cand.filter(F.col("is_rect")).filter(
                (lon >= x0) & (lon < x1) & (lat >= y0) & (lat < y1)
            )
        )
    if has_poly or not rect_fast:
        poly = cand.filter(~F.col("is_rect")) if rect_fast else cand
        branches.append(
            poly.filter((lon >= x0) & (lon <= x1) & (lat >= y0) & (lat <= y1))
            .filter(_make_refine_udf(geom_format)(lon, lat, F.col(wkt_col)))
        )
    return reduce(DataFrame.unionByName, branches).drop(*keys, *_ENV, "is_rect")
