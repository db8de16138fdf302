"""Query registry backing ``__spark_entry__.py``.

Every implemented operator from SURVEY.md §2 registers:
  * a Spark callable ``(spark, sf_dir) -> DataFrame``;
  * where ANSI-SQL-expressible, the equivalent DuckDB oracle SQL over the
    driver's pre-registered views (documents, lineitem, ...).

Column names are aliased identically on both sides (driver hashes values
under sorted column names).  Float outputs are rounded to 6 decimals on
both sides to keep the value-hash stable across engines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gdal_spark import corpus, zones
from gdal_spark.geometry import mercator

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# --------------------------------------------------------------------------
# Spatial join family (ogrlayer.cpp:3345 Intersection semantics)
# --------------------------------------------------------------------------

_DOCS_CTE = corpus.duckdb_docs_cte("documents")
_ZONES_CTE = zones.duckdb_zones_cte()

_PIP_ORACLE = f"""
WITH docs AS ({_DOCS_CTE}), zones AS ({_ZONES_CTE})
SELECT d.doc_id, z.zone_id
FROM docs d JOIN zones z
  ON d.lon > z.zxmin AND d.lon < z.zxmax
 AND d.lat > z.zymin AND d.lat < z.zymax
"""


@register("pip_join", _PIP_ORACLE)
def q_pip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon join: docs x rect zones -> (doc_id, zone_id)."""
    from gdal_spark.operators.pip_join import pip_join

    docs = corpus.load_docs(spark, sf_dir)
    z = zones.rect_zones(spark).drop("zxmin", "zymin", "zxmax", "zymax")
    return pip_join(docs, z).select("doc_id", "zone_id")


# WKB-native twin: the zone layer travels as WKB BinaryType (geo-parquet
# / Arrow ogc.wkb interop, ogrlayerarrow.cpp:2562); cell cover + envelope
# run straight off the bytes (ogr_wkb.cpp:574) and the refine parses WKB
# once per distinct geometry per executor.  rect_fast=False on purpose:
# it forces every candidate through the WKB-parse ray-cast refine, so the
# driver row checks the full binary path, not just the envelope math (the
# rect fast path itself is bit-pinned against the WKT twin in
# tests/test_pip_wkb.py on the concave rich layer).
@register("pip_join_wkb", _PIP_ORACLE)
def q_pip_join_wkb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.pip_join import pip_join, with_wkb_geometry

    docs = corpus.load_docs(spark, sf_dir)
    z = with_wkb_geometry(
        zones.rect_zones(spark).drop("zxmin", "zymin", "zxmax", "zymax")
    ).drop("geom_wkt")
    return pip_join(
        docs, z, wkt_col="geom_wkb", geom_format="wkb", rect_fast=False
    ).select("doc_id", "zone_id")


# S2-indexed twin: the pluggable S2 cell encoder (geometry/s2.py — the
# north-star "batched H3/S2 cell encoding in Arrow-vectorized pandas
# UDFs"; SURVEY §7's promised pluggable encoder).  Point side = ONE
# numpy pandas UDF emitting a single BIGINT cell key (Hilbert-curve id,
# faces/quadratic-(s,t)/4-bit-lookup per the published S2 layout); zone
# side = proven-superset per-face (s,t)-bbox coverage at level 6; join +
# envelope prefilter + exact ray-cast refine identical to pip_join, so
# the S2 index is output-invisible — same oracle, bit-identical rows.
# rect_fast=False forces every candidate through the refine so the
# driver row exercises the S2 candidate set end-to-end.
@register("pip_join_s2", _PIP_ORACLE)
def q_pip_join_s2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.pip_join import pip_join

    docs = corpus.load_docs(spark, sf_dir)
    z = zones.rect_zones(spark).drop("zxmin", "zymin", "zxmax", "zymax")
    return pip_join(docs, z, index="s2", rect_fast=False).select(
        "doc_id", "zone_id"
    )


# Hex-indexed twin: the third pluggable encoder (the H3 half of the
# north-star "H3/S2 cell encoding", as an honest axial hex lattice —
# operators/pip_join.py HEX_DEG block).  The point side is PURE
# whole-stage-codegen SQL (fractional axial coords + cube rounding, no
# Python stage on the corpus at all — one step cheaper than S2's Arrow
# kernel); zone side = proven-superset hex-center coverage of the
# envelope; refine shared, so the hex index is output-invisible — same
# oracle, bit-identical rows.  rect_fast=False exercises the hex
# candidate set end-to-end through the ray-cast.
@register("pip_join_hex", _PIP_ORACLE)
def q_pip_join_hex(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.pip_join import pip_join

    docs = corpus.load_docs(spark, sf_dir)
    z = zones.rect_zones(spark).drop("zxmin", "zymin", "zxmax", "zymax")
    return pip_join(docs, z, index="hex", rect_fast=False).select(
        "doc_id", "zone_id"
    )


def _corpus_snapshot_table(spark: SparkSession, sf_dir: str, tag: str,
                           n_snapshots: int):
    """Idempotently build a SnapshotTable of the doc corpus, committed in
    ``n_snapshots`` appends split on doc_id % n, S2-clustered within each
    commit (repartitionByRange on the cell key + in-partition sort), with
    per-file lon/lat min/max recorded in the manifest."""
    import hashlib
    import os
    import tempfile

    from gdal_spark.operators.pip_join import with_point_cell_s2
    from gdal_spark.table import SnapshotTable

    root = os.path.join(
        tempfile.gettempdir(),
        f"gdal_spark_{tag}_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8],
    )
    t = SnapshotTable(spark, root, stats_cols=["lon", "lat"])
    if t.current_snapshot_id() != n_snapshots:
        docs = with_point_cell_s2(
            corpus.load_docs(spark, sf_dir).select("doc_id", "lon", "lat")
        )
        for r in range(n_snapshots):
            t.append(
                docs.filter(F.col("doc_id") % n_snapshots == r)
                .repartitionByRange(32, "cell_s2")
                .sortWithinPartitions("cell_s2")
            )
    return t


# Manifest-pruned spatial lookup — the flagship join composed with the
# snapshot table's scan planning (table.py pruned_read): the corpus is
# committed S2-CLUSTERED (Hilbert locality => per-file lon/lat ranges
# are tight), so a selective zone lookup opens only the files whose
# recorded [min, max] lon range can intersect the zone — metadata plus
# a handful of files, never the table.  This is the 100 TB shape of
# "query three zones out of the planet": the zone bbox prunes at the
# MANIFEST level before any scan, then the residual strict-bbox filter
# applies (pruning is sound: the strict range is a subset of the
# inclusive pruned range).  The 3-row zone list is a driver-side dim
# contract (the per-zone pruned scans are independent jobs).
# tests/test_pip_pruned.py pins that files are actually skipped.
_PRUNED_ZONE_IDS = (171, 229, 190)

_PIP_PRUNED_ORACLE = f"""
WITH docs AS ({_DOCS_CTE}), zones AS ({_ZONES_CTE})
SELECT d.doc_id, z.zone_id
FROM docs d JOIN zones z
  ON d.lon > z.zxmin AND d.lon < z.zxmax
 AND d.lat > z.zymin AND d.lat < z.zymax
WHERE z.zone_id IN {_PRUNED_ZONE_IDS}
"""


@register("pip_join_pruned", _PIP_PRUNED_ORACLE)
def q_pip_join_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-driven scan planning: the zone layer's bboxes JOIN the
    manifest's per-file lon stats (one metadata-sized broadcast join,
    no driver loop over zones), the matched file set opens in ONE scan
    (table.read_subset), and the strict bbox residual resolves as one
    broadcast range join against the zone dim.  Plan size is
    independent of zone count — a 100x larger zone list changes only
    the data flowing through the same three operators (the round-4
    shape built one pruned scan PER zone on the driver)."""
    t = _corpus_snapshot_table(spark, sf_dir, "pippruned", 1)
    zdim = (
        zones.rect_zones(spark)
        .filter(F.col("zone_id").isin(*_PRUNED_ZONE_IDS))
        .select("zone_id", "zxmin", "zymin", "zxmax", "zymax")
    )
    stats = spark.createDataFrame(
        t.stats_rows("lon"), "path string, lo double, hi double"
    )
    # manifest x zones: keep files whose recorded lon range can touch
    # ANY zone (stats-less files kept — pruning is never unsound)
    matched = stats.join(
        F.broadcast(zdim),
        F.col("lo").isNull()
        | ((F.col("lo") <= F.col("zxmax")) & (F.col("hi") >= F.col("zxmin"))),
        "left_semi",
    )
    paths = [r["path"] for r in matched.select("path").distinct().collect()]
    scan = t.read_subset(paths)
    return scan.join(
        F.broadcast(zdim),
        (F.col("lon") > F.col("zxmin"))
        & (F.col("lon") < F.col("zxmax"))
        & (F.col("lat") > F.col("zymin"))
        & (F.col("lat") < F.col("zymax")),
    ).select("doc_id", "zone_id")


# Snapshot-incremental zonal stats — pip_join_agg maintained across
# table commits (the snapshot_delta pattern applied to the SPATIAL
# aggregate): zonal counts are distributive, so snapshot-2 state =
# snapshot-1 partial state merged with the partial state of the
# files-added-since delta (table.py incremental — at 100 TB the
# maintenance job scans ONLY the appended files).  The oracle recomputes
# from the full corpus; incremental == full is the certified property.
_PIP_AGG_INC_ORACLE = f"""
WITH docs AS ({_DOCS_CTE}), zones AS ({_ZONES_CTE})
SELECT z.zone_id, count(*) AS n_docs
FROM docs d JOIN zones z
  ON d.lon > z.zxmin AND d.lon < z.zxmax
 AND d.lat > z.zymin AND d.lat < z.zymax
GROUP BY z.zone_id
"""


@register("pip_join_agg_incremental", _PIP_AGG_INC_ORACLE)
def q_pip_join_agg_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.pip_join import pip_join

    t = _corpus_snapshot_table(spark, sf_dir, "pipinc", 2)
    z = zones.rect_zones(spark).drop("zxmin", "zymin", "zxmax", "zymax")

    def zonal(docs):
        return (
            pip_join(docs, z)
            .groupBy("zone_id")
            .agg(F.count("*").alias("n_docs"))
        )

    state1 = zonal(t.read(1))
    delta = zonal(t.incremental(1))
    return (
        state1.unionByName(delta)
        .groupBy("zone_id")
        .agg(F.sum("n_docs").cast("long").alias("n_docs"))
    )


# STR-tree twin over the CONCAVE-WITH-HOLE rich layer — the north-star
# "STR-tree per partition" candidate stage (geometry/strtree.py packed
# R-tree, operators/strtree_join.py): zero-shuffle mapInPandas, tree
# built once per executor over the broadcast method layer, every
# envelope candidate refined by the SAME ray-cast kernel as pip_join.
# Oracle: exact part decomposition of the rich zones ((A ∪ B) \ H per
# zone, zones.duckdb_rich_parts_cte) — also the first driver-checked
# point containment on a concave layer (pip_join's rect layer can't
# exercise hole exclusion).
_PIP_STRTREE_ORACLE = f"""
WITH docs AS ({_DOCS_CTE}), parts AS ({zones.duckdb_rich_parts_cte()})
SELECT d.doc_id, p.zone_id
FROM docs d JOIN parts p
  ON p.kind <> 'H'
 AND d.lon >= p.pxmin AND d.lon < p.pxmax
 AND d.lat >= p.pymin AND d.lat < p.pymax
WHERE NOT EXISTS (
  SELECT 1 FROM parts h
  WHERE h.kind = 'H' AND h.zone_id = p.zone_id
    AND d.lon >= h.pxmin AND d.lon < h.pxmax
    AND d.lat >= h.pymin AND d.lat < h.pymax
)
"""


@register("pip_join_strtree", _PIP_STRTREE_ORACLE)
def q_pip_join_strtree(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.strtree_join import pip_join_strtree

    docs = corpus.load_docs(spark, sf_dir)
    return pip_join_strtree(docs, zones.rich_zones(spark))


_PIP_AGG_ORACLE = f"""
WITH docs AS ({_DOCS_CTE}), zones AS ({_ZONES_CTE})
SELECT z.zone_id, count(*) AS n_docs
FROM docs d JOIN zones z
  ON d.lon > z.zxmin AND d.lon < z.zxmax
 AND d.lat > z.zymin AND d.lat < z.zymax
GROUP BY z.zone_id
"""


@register("pip_join_agg", _PIP_AGG_ORACLE)
def q_pip_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal count — groupBy(zone).agg after the PIP join (SURVEY §2.4
    zonal stats)."""
    from gdal_spark.operators.pip_join import pip_join

    docs = corpus.load_docs(spark, sf_dir)
    z = zones.rect_zones(spark).drop("zxmin", "zymin", "zxmax", "zymax")
    return (
        pip_join(docs, z)
        .groupBy("zone_id")
        .agg(F.count("*").alias("n_docs"))
    )


_TILE_ZOOM = 8
_TILE_ORACLE = f"""
WITH docs AS ({_DOCS_CTE})
SELECT doc_id, {mercator.sql_tx('lon', str(_TILE_ZOOM))} AS tx,
       {mercator.sql_ty('lat', str(_TILE_ZOOM))} AS ty
FROM docs
"""


@register("tile_assign", _TILE_ORACLE)
def q_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal2tiles tile assignment (gdal2tiles.py:422-530 math) for every
    doc at zoom 8 — pure JVM-side expression, no Python."""
    docs = corpus.load_docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.expr(mercator.sql_tx("lon", str(_TILE_ZOOM))).alias("tx"),
        F.expr(mercator.sql_ty("lat", str(_TILE_ZOOM))).alias("ty"),
    )


# gdal2tiles tile-key conventions beyond raw TMS (tx, ty): the --xyz
# flip (gdal2tiles.py --xyz: Google/OSM y grows DOWN, ty_xyz = 2^z-1-ty)
# and the Microsoft QuadTree key (gdal2tiles.py:539-553 QuadTree
# profile: digit i = tx bit + 2*xyz-y bit, z digits MSB-first).  Pure
# JVM string program; bit tests spelled as floor-div/mod arithmetic so
# one generated text serves both engines (no shiftright/>> dialect
# split).  Python twin mercator.quadkey pinned on the Bing doc example
# in tests/test_geometry.py.
def _quadkey_sql(tx: str, gy: str, zoom: int) -> str:
    digits = []
    for i in range(zoom, 0, -1):
        p = 2 ** (i - 1)
        d = (
            f"(CAST(floor({tx} / {p}.0) AS BIGINT) % 2"
            f" + 2 * (CAST(floor({gy} / {p}.0) AS BIGINT) % 2))"
        )
        digits.append(f"CAST({d} AS STRING)")
    return "concat(" + ", ".join(digits) + ")"


_QK_ZOOM = 8
_QK_TX = mercator.sql_tx("lon", str(_QK_ZOOM))
_QK_GY = f"({2**_QK_ZOOM - 1} - {mercator.sql_ty('lat', str(_QK_ZOOM))})"

_TILE_QUADKEY_ORACLE = f"""
WITH docs AS ({_DOCS_CTE})
SELECT doc_id, {_QK_TX} AS tx, {_QK_GY} AS ty_xyz,
       {_quadkey_sql(_QK_TX, _QK_GY, _QK_ZOOM)} AS quadkey
FROM docs
"""


@register("tile_quadkey", _TILE_QUADKEY_ORACLE)
def q_tile_quadkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = corpus.load_docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.expr(_QK_TX).alias("tx"),
        F.expr(_QK_GY).alias("ty_xyz"),
        F.expr(_quadkey_sql(_QK_TX, _QK_GY, _QK_ZOOM)).alias("quadkey"),
    )


# --------------------------------------------------------------------------
# kNN lookup (gdalgrid.cpp:241-330 quadtree radius search analog)
# --------------------------------------------------------------------------
from gdal_spark.operators.knn import duckdb_targets_cte  # noqa: E402

_KNN_K = 5
_KNN_ORACLE = f"""
WITH docs AS ({_DOCS_CTE}), t AS ({duckdb_targets_cte()}),
d AS (
  SELECT docs.doc_id, t.target_id,
         (docs.lon - t.tlon) * (docs.lon - t.tlon)
       + (docs.lat - t.tlat) * (docs.lat - t.tlat) AS d2
  FROM docs, t
),
r AS (
  SELECT doc_id, target_id,
         row_number() OVER (PARTITION BY doc_id ORDER BY d2, target_id) AS rnk
  FROM d
)
SELECT doc_id, target_id, CAST(rnk AS int) AS rnk FROM r WHERE rnk <= {_KNN_K}
"""


@register("knn", _KNN_ORACLE)
def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=5 nearest targets per doc via radius doubling on the broadcast
    target STR tree (map-side, zero shuffle); ties by min target_id."""
    from gdal_spark.operators.knn import knn_join, knn_targets

    docs = corpus.load_docs(spark, sf_dir).select("doc_id", "lon", "lat")
    out = knn_join(docs, knn_targets(spark), k=_KNN_K)
    return out.select("doc_id", "target_id", "rnk")


# The STR-tree kNN row: knn_join itself queries the broadcast target STR
# tree (the one tree shape of operators/dim.py), so this row runs the
# same call as ``knn``.  It stays registered because the correctness
# report is keyed by query name.
@register("knn_strtree", _KNN_ORACLE)
def q_knn_strtree(spark: SparkSession, sf_dir: str) -> DataFrame:
    return q_knn(spark, sf_dir)


@register("knn_shuffle", _KNN_ORACLE)
def q_knn_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same kNN semantics via the SHUFFLE strategy (no driver collect,
    no broadcast of the target table): iterative ring-doubling cell
    equi-join — the huge-target-table scale path.  Same oracle as knn."""
    from gdal_spark.operators.knn import knn_join_shuffle, knn_targets

    docs = corpus.load_docs(spark, sf_dir).select("doc_id", "lon", "lat")
    out = knn_join_shuffle(docs, knn_targets(spark), k=_KNN_K)
    return out.select("doc_id", "target_id", "rnk")


# --------------------------------------------------------------------------
# Tile pyramid (gdal2tiles base + overview reduce)
# --------------------------------------------------------------------------
_PYR_ZMAX = 8
_PYR_ORACLE = f"""
WITH docs AS ({_DOCS_CTE}),
zl AS (SELECT i AS zoom FROM range(0, {_PYR_ZMAX + 1}) t(i)),
t AS (
  SELECT CAST(zl.zoom AS int) AS zoom,
         {mercator.sql_tx('lon', 'zl.zoom')} AS tx,
         {mercator.sql_ty('lat', 'zl.zoom')} AS ty
  FROM docs, zl
)
SELECT zoom, tx, ty, count(*) AS n_docs FROM t GROUP BY zoom, tx, ty
"""


@register("tile_pyramid", _PYR_ORACLE)
def q_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile doc counts for zoom 0..8; overview levels produced by the
    4-child reduce (gdal2tiles.py:1484-1486), bit-identical to direct
    assignment (dyadic pyramid proof in tiling.py)."""
    from gdal_spark.operators.tiling import tile_pyramid

    docs = corpus.load_docs(spark, sf_dir).select("lon", "lat")
    return tile_pyramid(docs, _PYR_ZMAX)


# --------------------------------------------------------------------------
# Overlay family (ogrlayer.cpp Intersection/Clip/Erase/Identity)
# --------------------------------------------------------------------------
_POLYDOCS_CTE = corpus.duckdb_polydocs_cte("documents")
_CLIPZ_CTE = zones.duckdb_clip_zones_cte()

_RECT_OVERLAP = (
    "d.xmin < z.zxmax AND z.zxmin < d.xmax AND d.ymin < z.zymax AND z.zymin < d.ymax"
)
_RECT_AREA = (
    "(least(d.xmax, z.zxmax) - greatest(d.xmin, z.zxmin))"
    " * (least(d.ymax, z.zymax) - greatest(d.ymin, z.zymin))"
)

_CLIP_ORACLE = f"""
WITH docs AS ({_POLYDOCS_CTE}), z AS ({_CLIPZ_CTE})
SELECT d.doc_id, z.zone_id,
       CAST(round({_RECT_AREA} * 1.0e6) AS bigint) AS micro_area
FROM docs d JOIN z ON {_RECT_OVERLAP}
"""


@register("clip_pieces", _CLIP_ORACLE)
def q_clip_pieces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise intersection pieces of polygon docs x disjoint clip layer
    (= Clip decomposition when B is disjoint), micro-area (1e-6 deg^2)."""
    from gdal_spark.operators.overlay import intersection_join

    pd_docs = corpus.load_polydocs(spark, sf_dir)
    cz = zones.clip_zones(spark).drop("zxmin", "zymin", "zxmax", "zymax")
    out = intersection_join(pd_docs, cz)
    return out.select(
        "doc_id",
        "zone_id",
        F.round(F.col("piece_area") * 1.0e6).cast("long").alias("micro_area"),
    )


# WKB-native clip twin: the zone layer travels as WKB BinaryType —
# envelopes/cells off the raw bytes, clip kernel parses WKB once per
# distinct zone per executor (same oracle as clip_pieces; rich-layer
# parity additionally pinned in tests/test_pip_wkb.py)
@register("clip_wkb", _CLIP_ORACLE)
def q_clip_wkb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.overlay import intersection_join
    from gdal_spark.operators.pip_join import with_wkb_geometry

    pd_docs = corpus.load_polydocs(spark, sf_dir)
    cz = with_wkb_geometry(
        zones.clip_zones(spark).drop("zxmin", "zymin", "zxmax", "zymax")
    ).drop("geom_wkt")
    out = intersection_join(pd_docs, cz, wkt_col="geom_wkb", geom_format="wkb")
    return out.select(
        "doc_id",
        "zone_id",
        F.round(F.col("piece_area") * 1.0e6).cast("long").alias("micro_area"),
    )


_ERASE_ORACLE = f"""
WITH docs AS ({_POLYDOCS_CTE}), z AS ({_CLIPZ_CTE}),
cut AS (
  SELECT d.doc_id, sum({_RECT_AREA}) AS c
  FROM docs d JOIN z ON {_RECT_OVERLAP}
  GROUP BY d.doc_id
)
SELECT d.doc_id,
       CAST(round(((d.xmax - d.xmin) * (d.ymax - d.ymin) - COALESCE(cut.c, 0.0e0)) * 1.0e6) AS bigint) AS micro_area
FROM docs d LEFT JOIN cut ON d.doc_id = cut.doc_id
"""


@register("erase_area", _ERASE_ORACLE)
def q_erase_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erase (A − union B): remaining micro-area per doc."""
    from gdal_spark.operators.overlay import erase_area

    pd_docs = corpus.load_polydocs(spark, sf_dir)
    cz = zones.clip_zones(spark).drop("zxmin", "zymin", "zxmax", "zymax")
    return erase_area(pd_docs, cz).select(
        "doc_id", F.round(F.col("erase_area") * 1.0e6).cast("long").alias("micro_area")
    )


_IDENTITY_ORACLE = f"""
WITH docs AS ({_POLYDOCS_CTE}), z AS ({_CLIPZ_CTE}),
pieces AS (
  SELECT d.doc_id, z.zone_id, {_RECT_AREA} AS a
  FROM docs d JOIN z ON {_RECT_OVERLAP}
),
cut AS (SELECT doc_id, sum(a) AS c FROM pieces GROUP BY doc_id),
remainder AS (
  SELECT d.doc_id, CAST(NULL AS bigint) AS zone_id,
         (d.xmax - d.xmin) * (d.ymax - d.ymin) - COALESCE(cut.c, 0.0e0) AS a
  FROM docs d LEFT JOIN cut ON d.doc_id = cut.doc_id
)
SELECT doc_id, zone_id, CAST(round(a * 1.0e6) AS bigint) AS micro_area
FROM (SELECT * FROM pieces UNION ALL SELECT * FROM remainder WHERE a > 0) u
"""


@register("identity_pieces", _IDENTITY_ORACLE)
def q_identity_pieces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identity (ogrlayer.cpp:4730): pieces ⊕ null-padded remainder."""
    from gdal_spark.operators.overlay import identity_join

    pd_docs = corpus.load_polydocs(spark, sf_dir)
    cz = zones.clip_zones(spark).drop("zxmin", "zymin", "zxmax", "zymax")
    return identity_join(pd_docs, cz).select(
        "doc_id",
        "zone_id",
        F.round(F.col("piece_area") * 1.0e6).cast("long").alias("micro_area"),
    )


# --------------------------------------------------------------------------
# OGR SQL surface (swq grammar subset) over the TPC-H-ish tables
# --------------------------------------------------------------------------

_SUMMARY_ORACLE = """
SELECT count(*) AS cnt,
       min(l_quantity) AS min_qty,
       max(l_quantity) AS max_qty,
       round(sum(l_extendedprice), 2) AS sum_price,
       round(avg(l_discount), 6) AS avg_disc,
       round(stddev_samp(l_quantity), 6) AS sd_qty
FROM lineitem
"""


@register("summary_agg", _SUMMARY_ORACLE)
def q_summary_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OGR SQL summary mode (SWQM_SUMMARY_RECORD, ogr/ogr_swq.h:320):
    MIN/MAX/AVG/SUM/COUNT/STDDEV registry ops (swq_op_registrar.cpp:53-59)
    produce one row."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.agg(
        F.count("*").alias("cnt"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
    )


_DISTINCT_ORACLE = "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"


@register("distinct_list", _DISTINCT_ORACLE)
def q_distinct_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT DISTINCT (SWQM_DISTINCT_LIST mode, ogr_swq.h:322)."""
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_returnflag", "l_linestatus"
    ).distinct()


_ORDER_LIMIT_ORACLE = """
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
LIMIT 10
"""


@register("order_limit", _ORDER_LIMIT_ORACLE)
def q_order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY ... LIMIT — Catalyst's TakeOrderedAndProject replaces the
    reference's materialize-sort-index (ogr_gensql.cpp:2185-2400)."""
    return (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(
            F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")
        )
        .limit(10)
    )


# --------------------------------------------------------------------------
# Multi-way dim join + grouped revenue (the OGR SQL multi-table FROM
# clause, ogr_gensql.cpp swq JOIN support, in the classic local-supplier
# shape): fact table lineitem shuffles ONCE on orderkey; customer/
# supplier/nation/region are broadcast dims.
#
# Revenue is EXACT int64 "cent-percent" units: price and discount are
# 2-decimal money stored as double, so round(x * 1e2) sits ~1e-9 from
# its integer (0.4999999991 away from the nearest .5 tie) — a one-ulp
# cross-engine difference cannot flip it.  The previous form,
# floor(price * (1 - disc) * 1e2), put 29 of this query's rows EXACTLY
# on integer boundaries (exact rationals with denominator 100), where
# any single-ulp evaluation divergence flips floor() by a whole unit —
# the round-3 driver red row.  Rule: never floor/round an arithmetic
# product whose exact value can land ON the quantizer grid; convert
# each 2-decimal column to int64 first, then stay integer.
# --------------------------------------------------------------------------
_LOCAL_SUPPLIER_SQL = """
SELECT n.n_name AS nation,
       CAST(SUM(CAST(round(l.l_extendedprice * 1.0e2) AS BIGINT)
                * (100 - CAST(round(l.l_discount * 1.0e2) AS BIGINT)))
            AS BIGINT) AS revenue_cpct,
       CAST(count(*) AS BIGINT) AS n_items
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
              AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
"""


@register("local_supplier_volume", _LOCAL_SUPPLIER_SQL)
def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("customer", "orders", "lineitem", "supplier", "nation",
              "region"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)
    return spark.sql(_LOCAL_SUPPLIER_SQL)


_FIRST_MATCH_ORACLE = """
WITH j AS (
  SELECT o.o_orderkey, o.o_totalprice, l.l_linenumber, l.l_quantity,
         row_number() OVER (
           PARTITION BY o.o_orderkey
           ORDER BY l.l_linenumber NULLS LAST, l.l_partkey NULLS LAST,
                    l.l_suppkey NULLS LAST, l.l_extendedprice NULLS LAST
         ) AS rn
  FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
)
SELECT o_orderkey, o_totalprice, l_linenumber, l_quantity FROM j WHERE rn = 1
"""


@register("first_match_join", _FIRST_MATCH_ORACLE)
def q_first_match_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OGR SQL first-match LEFT JOIN (ogr_gensql.cpp:1497-1527):
    one secondary row per primary, deterministic min-order tiebreak."""
    from gdal_spark.operators.sqlops import first_match_join

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("k"), "o_totalprice"
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_orderkey").alias("k"),
        "l_linenumber",
        "l_quantity",
        "l_partkey",
        "l_suppkey",
        "l_extendedprice",
    )
    out = first_match_join(
        o, li, ["k"], ["l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice"]
    )
    return out.select(
        F.col("k").alias("o_orderkey"), "o_totalprice", "l_linenumber", "l_quantity"
    )


_LIKE_ORACLE = """
SELECT p_partkey, p_name FROM part
WHERE p_name LIKE '%widget%' AND p_type IN ('ECONOMY', 'PROMO')
"""


@register("like_filter", _LIKE_ORACLE)
def q_like_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE + IN predicates (swq_op_general.cpp:41-160 matcher,
    registry ops swq_op_registrar.cpp:32-42)."""
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    return p.filter(
        F.col("p_name").like("%widget%") & F.col("p_type").isin("ECONOMY", "PROMO")
    ).select("p_partkey", "p_name")


_ILIKE_ORACLE = """
SELECT p_partkey, p_name FROM part
WHERE p_name ILIKE '%WiDgEt%'
   OR p_name LIKE '%!_%' ESCAPE '!'
"""


@register("ilike_filter", _ILIKE_ORACLE)
def q_ilike_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ILIKE (case-insensitive LIKE) + LIKE ... ESCAPE
    (swq_op_general.cpp:41-160: swq_op_like case-fold matcher with
    escape char, SWQ_ILIKE registry op)."""
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    return p.filter(
        F.expr("p_name ILIKE '%WiDgEt%' OR p_name LIKE '%!_%' ESCAPE '!'")
    ).select("p_partkey", "p_name")


# OGR stores unparsed dates as strings and compares them lexicographically
# (ogr/ogr_swq.h:90-92 SWQ_TIMESTAMP falls back to string compare); the
# engines format identically so the string comparison is bit-identical.
_DATE_STR_ORACLE = """
SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
FROM events
WHERE strftime(ts, '%Y-%m-%d %H:%M:%S') >= '2024-01-10'
  AND strftime(ts, '%Y-%m-%d %H:%M:%S') < '2024-01-20 12'
"""


@register("date_string_filter", _DATE_STR_ORACLE)
def q_date_string_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    s = F.date_format("ts", "yyyy-MM-dd HH:mm:ss")
    return e.filter((s >= "2024-01-10") & (s < "2024-01-20 12")).select(
        "event_id", s.alias("ts_str")
    )


# OGR SQL's EXCEPT keyword is projection EXCLUSION, not the relational
# set op (ogr/swq_parser.y:861-867: SELECT * EXCEPT(f1, ...)) — mapped
# to DataFrame.drop.
_EXCEPT_ORACLE = """
SELECT * EXCLUDE (n_name) FROM nation
"""


@register("except_project", _EXCEPT_ORACLE)
def q_except_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return n.drop("n_name")


_EXPR_ORACLE = """
SELECT o_orderkey,
       concat(substr(o_orderpriority, 1, 3), '-', CAST(o_orderkey % 7 AS VARCHAR)) AS tag,
       CAST(floor(o_totalprice) AS BIGINT) AS price_int
FROM orders
"""


@register("expr_project", _EXPR_ORACLE)
def q_expr_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONCAT/SUBSTR/CAST scalar surface (swq_op_registrar.cpp:43-61).
    double->int goes through floor() because bare CAST rounds in DuckDB
    but truncates in Spark."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return o.select(
        "o_orderkey",
        F.concat(
            F.substring("o_orderpriority", 1, 3),
            F.lit("-"),
            (F.col("o_orderkey") % 7).cast("string"),
        ).alias("tag"),
        F.floor("o_totalprice").cast("long").alias("price_int"),
    )


_UNION_ORACLE = """
SELECT o_orderkey AS key, 'orders' AS src FROM orders WHERE o_totalprice > 400000
UNION ALL
SELECT l_orderkey AS key, 'lineitem' AS src FROM lineitem WHERE l_extendedprice > 90000
"""


@register("union_all", _UNION_ORACLE)
def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of selects — OGRUnionLayer (gdaldataset.cpp:7131-7177)
    as unionByName."""
    o = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_totalprice") > 400000)
        .select(F.col("o_orderkey").alias("key"), F.lit("orders").alias("src"))
    )
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(F.col("l_extendedprice") > 90000)
        .select(F.col("l_orderkey").alias("key"), F.lit("lineitem").alias("src"))
    )
    return o.unionByName(li)


# OGRUnionLayer's FIELD-SCHEMA MERGE (ogrunionlayer.cpp
# FIELD_STRATEGY_UNION, the default): layers contribute DIFFERENT field
# sets; the union layer's schema is the union of fields and a feature
# leaves the fields its source layer lacks NULL.  Spark shape:
# unionByName(allowMissingColumns=True) — still one narrow scan per
# layer, no shuffle.
_UNION_SCHEMA_ORACLE = """
SELECT o_orderkey AS key, 'orders' AS src,
       o_totalprice AS totalprice, CAST(NULL AS DOUBLE) AS quantity
FROM orders WHERE o_totalprice > 400000
UNION ALL
SELECT l_orderkey AS key, 'lineitem' AS src,
       CAST(NULL AS DOUBLE) AS totalprice, l_quantity AS quantity
FROM lineitem WHERE l_extendedprice > 90000
"""


@register("union_mixed_schema", _UNION_SCHEMA_ORACLE)
def q_union_mixed_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_totalprice") > 400000)
        .select(
            F.col("o_orderkey").alias("key"),
            F.lit("orders").alias("src"),
            F.col("o_totalprice").alias("totalprice"),
        )
    )
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(F.col("l_extendedprice") > 90000)
        .select(
            F.col("l_orderkey").alias("key"),
            F.lit("lineitem").alias("src"),
            F.col("l_quantity").alias("quantity"),
        )
    )
    return o.unionByName(li, allowMissingColumns=True)


_JSON_ORACLE = """
SELECT event_id, CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) AS k_val
FROM events WHERE event_type IS NOT NULL
"""


@register("json_extract", _JSON_ORACLE)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HSTORE_GET_VALUE analog (swq_op_registrar.cpp:50): key extraction
    from the props payload via regexp (shared pattern both engines)."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return e.filter(F.col("event_type").isNotNull()).select(
        "event_id",
        F.regexp_extract("props", '"k": (\\d+)', 1).cast("long").alias("k_val"),
    )


@register("json_native", _JSON_ORACLE)
def q_json_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same key extraction through Spark's NATIVE JSON path
    (get_json_object, Jackson-backed codegen — the scale path when the
    payload is real JSON, not just a regexp-able string); the oracle
    stays the independent regexp recomputation, so the two parsers
    cross-check each other."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return e.filter(F.col("event_type").isNotNull()).select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_val"),
    )


# --------------------------------------------------------------------------
# HSTORE_GET_VALUE — the real OGR hstore grammar
# (swq_op_general.cpp:291 OGRHStoreGetValue over 'k=>v, "k 2"=>"v 2"'
# pairs: optionally double-quoted keys/values, spaces tolerated around
# '=>' and ',', FIRST matching key wins, missing key -> NULL).  Pure
# JVM: one regexp_extract per key with a backslash-free pattern (the
# same literal text parses identically in Java regex and RE2), unquote
# via substr.  Escape sequences inside quoted strings are out of the
# exercised grammar (documented; the reference's backslash handling
# needs a stateful scan).
# --------------------------------------------------------------------------
_HSTORE_H = (
    "('lang=>' || lang || ' , \"src name\" => \"' || source || '\" ,"
    " n=>' || CAST(n_chars AS VARCHAR(20)) || ' , lang=>dup')"
)


def _hstore_get(h_sql: str, key: str, alias: str) -> str:
    pat = f'(?:^|,) *(?:"{key}"|{key}) *=> *("[^"]*"|[^, ]+)'
    raw = f"nullif(regexp_extract({h_sql}, '{pat}', 1), '')"
    return (
        f"CASE WHEN {raw} IS NULL THEN NULL"
        f" WHEN substr({raw}, 1, 1) = '\"'"
        f" THEN substr({raw}, 2, length({raw}) - 2)"
        f" ELSE {raw} END AS {alias}"
    )


_HSTORE_ORACLE = f"""
SELECT doc_id,
       {_hstore_get(_HSTORE_H, "lang", "v_lang")},
       {_hstore_get(_HSTORE_H, "src name", "v_src")},
       {_hstore_get(_HSTORE_H, "n", "v_n")},
       {_hstore_get(_HSTORE_H, "nope", "v_nope")}
FROM documents
"""


@register("hstore_value", _HSTORE_ORACLE)
def q_hstore_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The duplicate trailing 'lang=>dup' pair proves first-match-wins;
    'src name' exercises a quoted key + quoted value; 'nope' the NULL
    path."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return d.select(
        "doc_id",
        F.expr(_hstore_get(_HSTORE_H, "lang", "v_lang")),
        F.expr(_hstore_get(_HSTORE_H, "src name", "v_src")),
        F.expr(_hstore_get(_HSTORE_H, "n", "v_n")),
        F.expr(_hstore_get(_HSTORE_H, "nope", "v_nope")),
    )


# --------------------------------------------------------------------------
# Training-data pipeline ops over documents / embeddings
# --------------------------------------------------------------------------

_DEDUP_ORACLE = """
SELECT md5(text) AS content_hash, count(*) AS n_dups, min(doc_id) AS keeper_id
FROM documents GROUP BY md5(text)
"""


@register("dedup_exact", _DEDUP_ORACLE)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.text import exact_dedup

    return exact_dedup(spark.read.parquet(f"{sf_dir}/documents.parquet"))


_QUALITY_ORACLE = """
SELECT doc_id,
       length(text) AS n_chars_q,
       len(string_split(text, ' ')) AS n_tokens,
       length(regexp_replace(text, '[^.,!?;]', '', 'g')) AS n_punct
FROM documents
"""


@register("text_quality", _QUALITY_ORACLE)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring features — JVM column expressions only."""
    from gdal_spark.operators.text import with_quality

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return with_quality(d).select("doc_id", "n_chars_q", "n_tokens", "n_punct")


_LANG_ORACLE = """
SELECT doc_id,
       CASE WHEN contains(text, ' der ') OR contains(text, ' und ') THEN 'de'
            WHEN contains(text, ' el ') OR contains(text, ' los ') THEN 'es'
            WHEN contains(text, ' le ') OR contains(text, ' les ') THEN 'fr'
            WHEN contains(text, ' the ') OR contains(text, ' and ') THEN 'en'
            ELSE 'und' END AS lang_guess
FROM documents
"""


@register("lang_id", _LANG_ORACLE)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID heuristic (deterministic CASE cascade)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t = F.col("text")
    has = lambda w: t.contains(w)  # noqa: E731
    return d.select(
        "doc_id",
        F.when(has(" der ") | has(" und "), "de")
        .when(has(" el ") | has(" los "), "es")
        .when(has(" le ") | has(" les "), "fr")
        .when(has(" the ") | has(" and "), "en")
        .otherwise("und")
        .alias("lang_guess"),
    )


# --------------------------------------------------------------------------
# Gopher-style repetition / quality rules (training-data pipeline).
#
# Rahm/Gopher-family filters re-expressed over this corpus's shape (the
# docs are single-line word streams, so the "duplicate line fraction"
# family becomes word/bigram repetition): duplicate-word fraction,
# top-unigram fraction, top-bigram fraction, mean word length,
# alphabetic-word fraction.  Everything is a JVM higher-order-function
# column program (transform/filter/array_distinct — whole-stage codegen,
# per-row cost independent of corpus size); the DuckDB oracle mirrors it
# with the list_* lambda family.  Ratios are emitted as ppm integers
# (floor(1e6·x)) per the parity rules; top_bigram_ppm is NULL for
# single-word docs (nullif both sides).
# --------------------------------------------------------------------------

def _gopher_stage_sql(dialect: str) -> tuple[str, str, str]:
    """(bigram_expr, counts_select, ratios_select) in one dialect.

    dialect='spark': transform/filter/array_distinct/array_max/sequence/
    element_at/size + rlike.  dialect='duck': list_transform/list_filter/
    list_distinct/list_max/generate_series/list_extract/len +
    regexp_matches.  The arithmetic text is byte-identical across
    dialects; only function names differ.
    """
    if dialect == "spark":
        tf, ff, dis, amax, seq, elem, sz = (
            "transform", "filter", "array_distinct", "array_max",
            "sequence", "element_at", "size",
        )
        alpha = "x -> x rlike '^[a-z]+$'"
    else:
        tf, ff, dis, amax, seq, elem, sz = (
            "list_transform", "list_filter", "list_distinct", "list_max",
            "generate_series", "list_extract", "len",
        )
        alpha = "x -> regexp_matches(x, '^[a-z]+$')"
    bigram = (
        f"CASE WHEN {sz}(w) >= 2 THEN {tf}({seq}(1, {sz}(w) - 1), "
        f"i -> {elem}(w, i) || ' ' || {elem}(w, i + 1)) END"
    )
    counts = (
        f"CAST({sz}(w) AS BIGINT) AS n_words, "
        f"CAST({sz}({dis}(w)) AS BIGINT) AS n_distinct, "
        f"CAST({amax}({tf}({dis}(w), x -> {sz}({ff}(w, y -> y = x)))) AS BIGINT) AS top_word_n, "
        f"CAST(CASE WHEN bg IS NULL THEN 0 ELSE "
        f"{amax}({tf}({dis}(bg), x -> {sz}({ff}(bg, y -> y = x)))) END AS BIGINT) AS top_bigram_n, "
        f"CAST({sz}({ff}(w, {alpha})) AS BIGINT) AS n_alpha, "
        f"CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_letters"
    )
    ratios = (
        "CAST(floor(1.0e6 * n_letters / n_words) AS BIGINT) AS mean_word_len_ppm, "
        "CAST(floor(1.0e6 * (n_words - n_distinct) / n_words) AS BIGINT) AS dup_word_ppm, "
        "CAST(floor(1.0e6 * top_word_n / n_words) AS BIGINT) AS top_word_ppm, "
        "CAST(floor(1.0e6 * top_bigram_n / nullif(n_words - 1, 0)) AS BIGINT) AS top_bigram_ppm, "
        "CAST(floor(1.0e6 * n_alpha / n_words) AS BIGINT) AS alpha_word_ppm"
    )
    return bigram, counts, ratios


_G_BG_D, _G_CNT_D, _G_RAT_D = _gopher_stage_sql("duck")
_GOPHER_ORACLE = f"""
WITH s AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
b AS (SELECT doc_id, text, w, {_G_BG_D} AS bg FROM s),
c AS (SELECT doc_id, {_G_CNT_D} FROM b)
SELECT doc_id, n_words, n_distinct, top_word_n, top_bigram_n, n_alpha,
       {_G_RAT_D}
FROM c
"""


@register("gopher_rules", _GOPHER_ORACLE)
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition/quality signals per doc — three chained codegen
    projections, zero shuffles, zero Python."""
    bg, cnt, rat = _gopher_stage_sql("spark")
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    s = d.select("doc_id", "text", F.split("text", " ").alias("w"))
    b = s.select("doc_id", "text", "w", F.expr(bg).alias("bg"))
    c = b.selectExpr("doc_id", *[e.strip() for e in _split_select(cnt)])
    return c.selectExpr(
        "doc_id", "n_words", "n_distinct", "top_word_n", "top_bigram_n",
        "n_alpha", *[e.strip() for e in _split_select(rat)]
    )


def _split_select(select_text: str) -> list[str]:
    """Split a SELECT-list fragment on top-level commas (commas inside
    parens belong to function args)."""
    out, depth, cur = [], 0, []
    for ch in select_text:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    out.append("".join(cur))
    return out


# --------------------------------------------------------------------------
# Context-window chunking (training-data pipeline): split each doc into
# overlapping fixed-size word windows (size 32, stride 24 — the standard
# chunk-with-overlap shape for LLM context packing).  Chunk starts are a
# JVM sequence + explode (Generate node, stays in codegen); the last
# partial window is emitted.  DuckDB mirrors with generate_series/unnest
# + list_slice.
# --------------------------------------------------------------------------
_CHUNK_SIZE = 32
_CHUNK_STRIDE = 24

_CHUNKS_ORACLE = f"""
WITH s AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
e AS (SELECT doc_id, w, unnest(generate_series(1, len(w), {_CHUNK_STRIDE})) AS st FROM s)
SELECT doc_id,
       CAST((st - 1) / {_CHUNK_STRIDE} AS BIGINT) AS chunk_id,
       CAST(len(list_slice(w, st, st + {_CHUNK_SIZE} - 1)) AS BIGINT) AS n_chunk_words,
       array_to_string(list_slice(w, st, st + {_CHUNK_SIZE} - 1), ' ') AS chunk_text
FROM e
"""


@register("doc_chunks", _CHUNKS_ORACLE)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    s = d.select("doc_id", F.split("text", " ").alias("w"))
    e = s.select(
        "doc_id", "w",
        F.explode(F.expr(f"sequence(1, size(w), {_CHUNK_STRIDE})")).alias("st"),
    )
    return e.selectExpr(
        "doc_id",
        f"CAST((st - 1) / {_CHUNK_STRIDE} AS BIGINT) AS chunk_id",
        f"CAST(size(slice(w, st, {_CHUNK_SIZE})) AS BIGINT) AS n_chunk_words",
        f"array_join(slice(w, st, {_CHUNK_SIZE}), ' ') AS chunk_text",
    )


# --------------------------------------------------------------------------
# PII scrubbing (training-data pipeline): regex redaction of emails and
# URLs.  The synthetic corpus has no PII, so the query plants a
# deterministic contact line per doc (same expression both engines) and
# scrubs it — proving the redaction regexes and the match counting on a
# text where the effect is visible.  ASCII-only classes keep Java regex
# (Spark) and RE2 (DuckDB) byte-identical; Spark regexp_replace is
# global by default, DuckDB needs the 'g' flag.
# --------------------------------------------------------------------------
_PII_AUG = (
    "(text || ' contact user' || CAST(doc_id AS VARCHAR(20)) ||"
    " '@mail' || CAST(doc_id AS VARCHAR(20)) || '.example.com or"
    " http://site' || CAST(doc_id AS VARCHAR(20)) || '.example.org/page now')"
)
# [.] instead of backslash-dot: Spark SQL string literals process
# backslash escapes, DuckDB's don't — the bracket class needs no escape
# in either engine.
_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][a-z][a-z]+"
_PII_URL = "https?://[A-Za-z0-9./_-]+"


def _pii_select(dialect: str) -> list[str]:
    if dialect == "spark":
        n_email = f"size(regexp_extract_all(aug, '{_PII_EMAIL}', 0))"
        n_url = f"size(regexp_extract_all(aug, '{_PII_URL}', 0))"
        scrub = (
            f"regexp_replace(regexp_replace(aug, '{_PII_EMAIL}', '<EMAIL>'), "
            f"'{_PII_URL}', '<URL>')"
        )
    else:
        n_email = f"len(regexp_extract_all(aug, '{_PII_EMAIL}'))"
        n_url = f"len(regexp_extract_all(aug, '{_PII_URL}'))"
        scrub = (
            f"regexp_replace(regexp_replace(aug, '{_PII_EMAIL}', '<EMAIL>', 'g'), "
            f"'{_PII_URL}', '<URL>', 'g')"
        )
    return [
        f"CAST({n_email} AS BIGINT) AS n_emails",
        f"CAST({n_url} AS BIGINT) AS n_urls",
        f"{scrub} AS clean_text",
    ]


_PII_ORACLE = f"""
WITH a AS (SELECT doc_id, {_PII_AUG} AS aug FROM documents)
SELECT doc_id, {", ".join(_pii_select("duck"))} FROM a
"""


@register("pii_scrub", _PII_ORACLE)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = d.selectExpr("doc_id", f"{_PII_AUG} AS aug")
    return a.selectExpr("doc_id", *_pii_select("spark"))


# --------------------------------------------------------------------------
# Interleaved span-sequence statistics: the engine's primary input shape
# (BASELINE.json input_hint: spans array<struct<kind,text,media_ref,
# offset>>) interrogated declaratively — per doc, span counts by kind,
# total text length across text spans, the media ref, and the offset
# sequence, all via JVM higher-order functions (filter/transform/
# aggregate) over the span array: zero shuffle, zero Python.  The
# oracle RECONSTRUCTS every figure independently from the base
# documents table (the span builder splits text at 40 chars, so the two
# text spans must sum back to length(text)), which checks the span
# plumbing itself, not just a tautology.
# --------------------------------------------------------------------------
_SPAN_KINDS_ORACLE = """
SELECT doc_id,
       CAST(4 AS INT) AS n_spans,
       CAST(2 AS INT) AS n_text,
       CAST(1 AS INT) AS n_geom,
       CAST(1 AS INT) AS n_media,
       CAST(length(text) AS BIGINT) AS text_len_sum,
       'media://' || CAST(doc_id AS VARCHAR(20)) || '/2' AS media_ref,
       '0,1,2,3' AS offsets_csv
FROM documents
"""


@register("span_kinds", _SPAN_KINDS_ORACLE)
def q_span_kinds(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = corpus.load_docs(spark, sf_dir)
    return d.selectExpr(
        "doc_id",
        "CAST(size(spans) AS INT) AS n_spans",
        "CAST(size(filter(spans, s -> s.kind = 'text')) AS INT) AS n_text",
        "CAST(size(filter(spans, s -> s.kind = 'geom')) AS INT) AS n_geom",
        "CAST(size(filter(spans, s -> s.kind = 'media')) AS INT) AS n_media",
        "aggregate(filter(spans, s -> s.kind = 'text'), CAST(0 AS BIGINT),"
        " (a, s) -> a + length(s.text)) AS text_len_sum",
        "filter(spans, s -> s.kind = 'media')[0].media_ref AS media_ref",
        "array_join(transform(spans, s -> CAST(s.offset AS STRING)), ',')"
        " AS offsets_csv",
    )


# --------------------------------------------------------------------------
# Cross-doc duplicated-span fraction (training-data pipeline): the
# RefinedWeb/Dolma dedup diagnostic — per doc, the fraction of its word
# 5-gram spans that also occur in ANOTHER document.  Grams are JVM
# slice+array_join over an exploded start index; the cross-doc count is
# one shuffle on the gram key with map-side partial agg (the gram
# dictionary is corpus-sized but each reducer key is tiny — the same
# shape at 100 TB, no driver state).  Ratios quantized to ppm per the
# parity rules (floor(1e6·x), no double hashing).
# --------------------------------------------------------------------------
_DS_N = 5

_DUP_SPANS_ORACLE = f"""
WITH s AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
g AS (
  SELECT doc_id,
         array_to_string(list_slice(w, st, st + {_DS_N - 1}), ' ') AS gram
  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - {_DS_N - 1})) AS st
        FROM s WHERE len(w) >= {_DS_N})
),
c AS (SELECT gram, COUNT(DISTINCT doc_id) AS ndocs FROM g GROUP BY gram)
SELECT g.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(CASE WHEN c.ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
       CAST(floor(1.0e6 * SUM(CASE WHEN c.ndocs > 1 THEN 1 ELSE 0 END) / COUNT(*)) AS BIGINT) AS dup_span_ppm
FROM g JOIN c USING (gram)
GROUP BY g.doc_id
"""


@register("dup_spans", _DUP_SPANS_ORACLE)
def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    g = (
        d.select("doc_id", F.split("text", " ").alias("w"))
        .filter(F.size("w") >= _DS_N)
        .select(
            "doc_id", "w",
            F.explode(F.expr(f"sequence(1, size(w) - {_DS_N - 1})")).alias("st"),
        )
        .select(
            "doc_id",
            F.expr(f"array_join(slice(w, st, {_DS_N}), ' ')").alias("gram"),
        )
    )
    c = g.groupBy("gram").agg(F.countDistinct("doc_id").alias("ndocs"))
    return (
        g.join(c, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.when(F.col("ndocs") > 1, 1).otherwise(0)).alias("n_dup_spans"),
        )
        .selectExpr(
            "doc_id",
            "CAST(n_spans AS BIGINT) AS n_spans",
            "CAST(n_dup_spans AS BIGINT) AS n_dup_spans",
            "CAST(floor(1.0e6 * n_dup_spans / n_spans) AS BIGINT) AS dup_span_ppm",
        )
    )


# --------------------------------------------------------------------------
# Decontamination (training-data pipeline): flag training docs that
# contain any n-gram from a held-out benchmark set.  The benchmark set
# here is derived in-query (the 8-grams of docs with doc_id < 10 — a
# stand-in for a test-set dim table); at scale it is a broadcast-sized
# dim side, so the flagging join is a broadcast semi-join on the gram
# key — training docs never shuffle.
# --------------------------------------------------------------------------
_DC_N = 8

_DECON_ORACLE = f"""
WITH s AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
g AS (
  SELECT doc_id,
         array_to_string(list_slice(w, st, st + {_DC_N - 1}), ' ') AS gram
  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - {_DC_N - 1})) AS st
        FROM s WHERE len(w) >= {_DC_N})
),
bench AS (SELECT DISTINCT gram FROM g WHERE doc_id < 10)
SELECT g.doc_id,
       CAST(COUNT(DISTINCT g.gram) AS BIGINT) AS n_contaminated_grams
FROM g JOIN bench USING (gram)
WHERE g.doc_id >= 10
GROUP BY g.doc_id
"""


@register("decontaminate", _DECON_ORACLE)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    g = (
        d.select("doc_id", F.split("text", " ").alias("w"))
        .filter(F.size("w") >= _DC_N)
        .select(
            "doc_id", "w",
            F.explode(F.expr(f"sequence(1, size(w) - {_DC_N - 1})")).alias("st"),
        )
        .select(
            "doc_id",
            F.expr(f"array_join(slice(w, st, {_DC_N}), ' ')").alias("gram"),
        )
    )
    bench = g.filter(F.col("doc_id") < 10).select("gram").distinct()
    return (
        g.filter(F.col("doc_id") >= 10)
        .join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").alias("n_contaminated_grams"))
        .selectExpr(
            "doc_id",
            "CAST(n_contaminated_grams AS BIGINT) AS n_contaminated_grams",
        )
    )


# --------------------------------------------------------------------------
# Bloom-filter decontamination (the 100 TB scale path): instead of
# broadcasting the benchmark gram STRINGS (a hash table proportional to
# total bench text), broadcast an m-bit Bloom bitset — k deterministic
# md5-derived positions per gram.  The corpus scan then prefilters its
# grams with pure codegen bit math (zero join, zero shuffle); only the
# tiny bloom-candidate set reaches the exact string verify.  m is a
# CONSTANT (the bitset, 64 longs here), so materialising the position
# set driver-side is the same bounded dim contract as the GCP tables —
# corpus rows never transit the driver.  The oracle reproduces the
# bloom exactly (same md5 positions), so the false-positive column is
# itself oracle-checked.
# --------------------------------------------------------------------------
_BLOOM_M = 4096  # bits
_BLOOM_K = 2     # hash functions: md5(gram || '#j'), j in {0,1}


def _bloom_pos_sql(hexint_open: str, hexint_close: str, j: int) -> str:
    """Shared formula text: position j of a gram = 28-bit md5 prefix of
    (gram || '#j') mod m; ``hexint_open/close`` wrap the dialect's
    hex-to-int spelling around the md5 call."""
    return (
        f"{hexint_open}substring(md5(gram || '#{j}'), 1, 7){hexint_close}"
        f" % {_BLOOM_M}"
    )


_BLOOM_POS_DUCK = [
    _bloom_pos_sql("CAST(('0x' || ", ")::BIGINT AS BIGINT)", j)
    for j in range(_BLOOM_K)
]
_BLOOM_POS_SPARK = [
    _bloom_pos_sql("CAST(conv(", ", 16, 10) AS BIGINT)", j)
    for j in range(_BLOOM_K)
]

_BLOOM_DECON_ORACLE = f"""
WITH s AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
g AS (
  SELECT doc_id,
         array_to_string(list_slice(w, st, st + {_DC_N - 1}), ' ') AS gram
  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - {_DC_N - 1})) AS st
        FROM s WHERE len(w) >= {_DC_N})
),
bench AS (SELECT DISTINCT gram FROM g WHERE doc_id < 10),
bpos AS (
  SELECT DISTINCT pos FROM (
    SELECT {_BLOOM_POS_DUCK[0]} AS pos FROM bench
    UNION ALL
    SELECT {_BLOOM_POS_DUCK[1]} AS pos FROM bench
  )
),
corp AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id >= 10),
cand AS (
  SELECT doc_id, gram FROM corp
  WHERE {_BLOOM_POS_DUCK[0]} IN (SELECT pos FROM bpos)
    AND {_BLOOM_POS_DUCK[1]} IN (SELECT pos FROM bpos)
)
SELECT c.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bloom_candidates,
       CAST(SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_contaminated_grams,
       CAST(SUM(CASE WHEN b.gram IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bloom_false_pos
FROM cand c LEFT JOIN bench b USING (gram)
GROUP BY c.doc_id
"""


@register("bloom_decontaminate", _BLOOM_DECON_ORACLE)
def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage decontamination: literal Bloom bitset (64 longs in the
    plan — pure codegen bit test per gram, no join) then exact verify
    of the surviving candidates via the broadcast bench dim."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    g = (
        d.select("doc_id", F.split("text", " ").alias("w"))
        .filter(F.size("w") >= _DC_N)
        .select(
            "doc_id", "w",
            F.explode(F.expr(f"sequence(1, size(w) - {_DC_N - 1})")).alias("st"),
        )
        .select(
            "doc_id",
            F.expr(f"array_join(slice(w, st, {_DC_N}), ' ')").alias("gram"),
        )
    )
    bench = g.filter(F.col("doc_id") < 10).select("gram").distinct().persist()
    # bitset build: positions of the bench grams, bounded by m (4096) —
    # the documented dim contract; corpus rows never transit the driver
    pos_rows = (
        bench.select(F.expr(_BLOOM_POS_SPARK[0]).alias("pos"))
        .unionAll(bench.select(F.expr(_BLOOM_POS_SPARK[1]).alias("pos")))
        .distinct()
        .collect()
    )
    words = [0] * (_BLOOM_M // 64)
    for r in pos_rows:
        p = int(r["pos"])
        words[p >> 6] |= 1 << (p & 63)
    words = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    mask = F.array(*[F.lit(w).cast("long") for w in words])
    corp = (
        g.filter(F.col("doc_id") >= 10).dropDuplicates(["doc_id", "gram"])
        .withColumn("_mask", mask)
    )
    for j in range(_BLOOM_K):
        pos = _BLOOM_POS_SPARK[j]
        corp = corp.filter(
            F.expr(
                f"(shiftright(element_at(_mask, CAST(({pos}) DIV 64 AS INT) + 1),"
                f" CAST(({pos}) % 64 AS INT)) & 1) = 1"
            )
        )
    return (
        corp.drop("_mask")
        .join(
            F.broadcast(bench.withColumn("_hit", F.lit(1))), "gram", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bloom_candidates"),
            F.sum(F.when(F.col("_hit").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_contaminated_grams"),
            F.sum(F.when(F.col("_hit").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_bloom_false_pos"),
        )
    )


# --------------------------------------------------------------------------
# HyperLogLog distinct-gram cardinality per source (Flajolet et al.
# 2007): the mergeable-sketch pattern for 100 TB distinct counts.  The
# sketch path has NO distinct shuffle — every gram occurrence maps to
# (bucket, rank) in codegen and the 256 registers fold via partial-agg
# MAX (duplicates absorbed map-side; registers merge across partitions,
# snapshots and streams by the same MAX).  The hash is md5-derived so
# DuckDB reproduces every register; ranks/fold stay integer-exact
# (CASE ladders, no pow/log) and only the final estimate touches
# doubles — identical literal text both sides, floor-quantized to
# milli-units (a transcendental-quotient output, never on-grid).  The
# exact COUNT(DISTINCT) rides along as the audit column — computed in
# the SAME (source, bucket) groupBy, since the hash buckets partition
# the gram space (per-bucket distincts sum to the source distinct) —
# so the sketch's error is itself oracle-checked with ONE corpus scan
# and no extra join (spark.sql WITH would otherwise re-execute the
# gram explode per CTE reference).
# --------------------------------------------------------------------------
_HLL_P = 8                       # 2^8 = 256 registers
_HLL_M = 1 << _HLL_P
_HLL_VBITS = 28 - _HLL_P         # 20 value bits above the bucket
_HLL_RMAX = _HLL_VBITS + 1      # rank range [1, 21]
# alpha_256 * m^2 * 2^RMAX as shared literal text
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / _HLL_M)
_HLL_SCALE = mercator.sql_double(_HLL_ALPHA * _HLL_M * _HLL_M * (1 << _HLL_RMAX))
# rank = 1 + #leading-zero bits of the 20-bit value = 1 + #{k : v < 2^k}
_HLL_RANK = "1 + " + " + ".join(
    f"(CASE WHEN v < {1 << k} THEN 1 ELSE 0 END)" for k in range(_HLL_VBITS)
)
# 2^(RMAX - reg) as an integer CASE ladder (no pow(): stays BIGINT-exact)
_HLL_TERM = (
    "CASE reg "
    + " ".join(f"WHEN {r} THEN {1 << (_HLL_RMAX - r)}" for r in range(1, _HLL_RMAX + 1))
    + " END"
)


def _hll_sql(split_fn: str, len_fn: str, slice_sql: str, hexint_open: str,
             hexint_close: str) -> str:
    """Shared HLL query text; only the gram extraction and hex-to-int
    spellings differ per dialect."""
    return f"""
WITH s AS (SELECT source, {split_fn}(text, ' ') AS w FROM documents),
g AS (
  SELECT source, {slice_sql} AS gram
  FROM (SELECT source, w, unnest(generate_series(1, {len_fn}(w) - {_DC_N - 1})) AS st
        FROM s WHERE {len_fn}(w) >= {_DC_N})
),
h AS (
  SELECT source, gram,
         {hexint_open}substring(md5(gram), 1, 7){hexint_close} AS hv
  FROM g
),
b AS (
  SELECT source, gram, hv % {_HLL_M} AS bucket,
         CAST((hv - (hv % {_HLL_M})) / {_HLL_M} AS BIGINT) AS v
  FROM h
),
reg AS (
  SELECT source, bucket, MAX({_HLL_RANK}) AS reg,
         COUNT(DISTINCT gram) AS nd
  FROM b GROUP BY source, bucket
),
fold AS (
  SELECT source,
         CAST(SUM(nd) AS BIGINT) AS n_exact,
         CAST(SUM({_HLL_TERM}) AS BIGINT)
           + ({_HLL_M} - COUNT(*)) * {1 << _HLL_RMAX} AS hll_sum,
         CAST({_HLL_M} - COUNT(*) AS BIGINT) AS hll_zero_registers
  FROM reg GROUP BY source
)
SELECT source, n_exact, hll_sum, hll_zero_registers,
       CAST(floor({_HLL_SCALE} / CAST(hll_sum AS DOUBLE) * 1.0e3) AS BIGINT)
         AS hll_estimate_milli
FROM fold
"""


_HLL_ORACLE = _hll_sql(
    "string_split", "len",
    f"array_to_string(list_slice(w, st, st + {_DC_N - 1}), ' ')",
    "CAST(('0x' || ", ")::BIGINT AS BIGINT)",
)

_HLL_SPARK = _hll_sql(
    "split", "size",
    f"array_join(slice(w, st, {_DC_N}), ' ')",
    "CAST(conv(", ", 16, 10) AS BIGINT)",
).replace("unnest(generate_series(1,", "explode(sequence(1,")


@register("hll_cardinality", _HLL_ORACLE)
def q_hll_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct 8-gram cardinality: exact audit column next
    to the 256-register HLL estimate; the register fold is one
    partial-aggregated MAX groupBy (no distinct shuffle on the sketch
    path)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d.createOrReplaceTempView("documents")
    return spark.sql(_HLL_SPARK)


# --------------------------------------------------------------------------
# End-to-end curation pipeline (training-data pipeline): the composed
# flow a corpus actually runs — exact-dedup keeper → quality gate
# (length + lexical-diversity thresholds) → per-source cap → uniform
# md5 sample — in ONE declarative plan, each doc labeled with the first
# stage that dropped it.  Stage order mirrors production pipelines
# (dedup before quality so near-empty dups don't inflate the gate;
# cap before sample so hot sources can't dominate the sampled set).
# One md5-group shuffle + one window shuffle; everything else folds
# into codegen projections.
# --------------------------------------------------------------------------
# sources carry exactly 25 docs each, so an 18-doc cap bites; exact
# duplicates are planted in-query (clones of every 40th doc) since the
# synthetic texts are unique — every pipeline stage drops something
_CUR_CAP = 18
# keep-fraction 80%: md5 prefix as 28-bit int < 0.8 * 2^28
_CUR_SAMPLE_THR = int(0.8 * (1 << 28))


def _curation_sql(split_fn: str, len_fn: str, hexint: str) -> str:
    """``split_fn``/``len_fn``: dialect spellings; ``hexint(h)`` text
    converting the md5 hex prefix to an integer."""
    return f"""
WITH docx AS (
  SELECT doc_id, source, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, source, text FROM documents
  WHERE doc_id % 40 = 0
),
w AS (
  SELECT doc_id, source, text,
         {len_fn}({split_fn}(text, ' ')) AS n_words,
         {len_fn}(list_distinct_{split_fn}(text)) AS n_distinct
  FROM docx
),
k AS (SELECT md5(text) AS h, MIN(doc_id) AS keeper FROM docx GROUP BY md5(text)),
s1 AS (
  SELECT w.*, CASE WHEN w.doc_id = k.keeper THEN 1 ELSE 0 END AS is_keeper
  FROM w JOIN k ON md5(w.text) = k.h
),
s2 AS (
  SELECT *,
         CASE WHEN n_words >= 20 AND n_words <= 1000
                   AND 1000000 * n_distinct >= 120000 * n_words
              THEN 1 ELSE 0 END AS quality_ok
  FROM s1
),
s3 AS (
  SELECT *, row_number() OVER (
           PARTITION BY source
           ORDER BY CASE WHEN is_keeper = 1 AND quality_ok = 1 THEN 0 ELSE 1 END,
                    md5(CAST(doc_id AS VARCHAR(20))), doc_id) AS rk
  FROM s2
),
s4 AS (
  SELECT *, {hexint} AS hv FROM s3
)
SELECT doc_id, source, CAST(n_words AS BIGINT) AS n_words,
       CASE WHEN is_keeper = 0 THEN 'dup'
            WHEN quality_ok = 0 THEN 'quality'
            WHEN rk > {_CUR_CAP} THEN 'cap'
            WHEN hv >= {_CUR_SAMPLE_THR} THEN 'sample'
            ELSE 'kept' END AS stage
FROM s4
"""


def _curation_dialect(dialect: str) -> str:
    if dialect == "spark":
        sql = _curation_sql(
            "split", "size",
            "CAST(conv(substring(md5(CAST(doc_id AS VARCHAR(20))), 1, 7), 16, 10) AS BIGINT)",
        )
        return sql.replace(
            "size(list_distinct_split(text))",
            "size(array_distinct(split(text, ' ')))",
        )
    sql = _curation_sql(
        "string_split", "len",
        "CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR(20))), 1, 7))::BIGINT AS BIGINT)",
    )
    return sql.replace(
        "len(list_distinct_string_split(text))",
        "len(list_distinct(string_split(text, ' ')))",
    )


@register("curation_pipeline", _curation_dialect("duck"))
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d.createOrReplaceTempView("documents")
    return spark.sql(_curation_dialect("spark"))


# The numpy MinHash twin (text.minhash_lsh_pairs) is DEMOTED from the
# registry (round-3 decision): it measured 0.585 2->8 scaling and 2.1x
# the wall time of the JVM md5 pipeline (BASELINE.md §5), so the
# oracle-checked `minhash_md5` is the engine's near-dup path; the numpy
# variant stays as a pytest-only recall/equivalence comparison
# (tests/test_text_ops.py).


# simhash IS SQL-expressible: word hash = little-endian uint64 of
# md5(word)'s first 8 bytes, reconstructed from the hex digest per bit;
# bit votes over DISTINCT words; staged CTEs (the one-expression form
# trips DuckDB's parser).
_SIMHASH_CTE = """
wd AS (
  SELECT DISTINCT doc_id, unnest(str_split(text, ' ')) AS word FROM documents
),
hb AS (SELECT word, md5(word) AS hx FROM (SELECT DISTINCT word FROM wd) v),
byv AS (
  SELECT word, kk.k AS k,
         (strpos('0123456789abcdef', substr(hx, 2 * CAST(kk.k AS INT) + 1, 1)) - 1) * 16
         + (strpos('0123456789abcdef', substr(hx, 2 * CAST(kk.k AS INT) + 2, 1)) - 1) AS byteval
  FROM hb, range(0, 8) kk(k)
),
w64 AS (
  SELECT word, sum(CAST(byteval AS HUGEINT) << CAST(8 * k AS INT)) AS wv FROM byv GROUP BY word
),
mix AS (
  SELECT word,
         (((wv % (CAST(1 AS HUGEINT) << 32)) * 11400714819323198485
           + (((wv // (CAST(1 AS HUGEINT) << 32)) * 11400714819323198485) % (CAST(1 AS HUGEINT) << 32)) * (CAST(1 AS HUGEINT) << 32))
          % (CAST(1 AS HUGEINT) << 64)) AS m
  FROM w64
),
rot AS (
  SELECT word,
         (((m * 128) % (CAST(1 AS HUGEINT) << 64)) + (m // (CAST(1 AS HUGEINT) << 57))) AS h
  FROM mix
),
bit1 AS (
  SELECT word, jj.j AS j,
         CAST((h // (CAST(1 AS HUGEINT) << CAST(jj.j AS INT))) % 2 AS INT) AS b
  FROM rot, range(0, 64) jj(j)
),
votes AS (
  SELECT wd.doc_id, b1.j, sum(2 * b1.b - 1) AS v
  FROM wd JOIN bit1 b1 ON wd.word = b1.word
  GROUP BY wd.doc_id, b1.j
),
acc AS (
  SELECT doc_id,
         sum(CASE WHEN v > 0 THEN CAST(1 AS HUGEINT) << CAST(j AS INT) ELSE CAST(0 AS HUGEINT) END) AS u
  FROM votes GROUP BY doc_id
),
sh AS (
  SELECT doc_id,
         CAST(CASE WHEN u >= (CAST(1 AS HUGEINT) << 63) THEN u - (CAST(1 AS HUGEINT) << 64) ELSE u END AS BIGINT) AS simhash,
         u
  FROM acc
)
"""

_SIMHASH_ORACLE = f"WITH {_SIMHASH_CTE} SELECT doc_id, simhash FROM sh"


@register("simhash", _SIMHASH_ORACLE)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.text import simhash

    return simhash(spark.read.parquet(f"{sf_dir}/documents.parquet"))


_SIMHASH_PAIRS_ORACLE = f"""
WITH {_SIMHASH_CTE},
bnd AS (
  SELECT doc_id, u, bb.band AS band,
         CAST((u // (CAST(1 AS HUGEINT) << CAST(bb.band * 16 AS INT))) % 65536 AS INT) AS bits
  FROM sh, range(0, 4) bb(band)
),
sp AS (
  SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
  FROM bnd a JOIN bnd b2
    ON a.band = b2.band AND a.bits = b2.bits AND a.doc_id < b2.doc_id
)
SELECT sp.id_a, sp.id_b,
       CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INT) AS hamming
FROM sp JOIN sh sa ON sp.id_a = sa.doc_id JOIN sh sb ON sp.id_b = sb.doc_id
WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3
"""


@register("simhash_pairs", _SIMHASH_PAIRS_ORACLE)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming<=3 near-dup pairs via banded simhash LSH (pigeonhole);
    the oracle mirrors signatures, banding and the bit_count verify."""
    from gdal_spark.operators.text import simhash_pairs

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return simhash_pairs(d, max_hamming=3)


# md5-based MinHash: the same signatures/bands/pairs pipeline rendered
# with md5 so DuckDB reproduces every value — the ORACLE-CHECKED near-dup
# path.  One md5 per gram (28-bit base fingerprint), then the num_perm
# permutations as (a_k*h + b_k) mod 2^31-1 linear min-wise hashes
# (Broder '97) — the a_k/b_k literals come from text.mh_lane_consts so
# engine and oracle share the exact constants.
from gdal_spark.operators.text import MH_PRIME, mh_lane_consts  # noqa: E402

_MM_PERM, _MM_BANDS, _MM_ROWS, _MM_MIN_EQ = 16, 4, 4, 6
_MM_SIG_LIST = ", ".join(
    f"list_min(list_transform(ghs, h -> ({a} * h + {b}) % {MH_PRIME}))"
    for a, b in mh_lane_consts(_MM_PERM)
)
_MM_BUCKETS = ", ".join(
    "(%d)" % b for b in range(_MM_BANDS)
)
_MM_BAND_BUCKET = (
    "md5(CAST(sigs[band * 4 + 1] AS VARCHAR) || '|' || "
    "CAST(sigs[band * 4 + 2] AS VARCHAR) || '|' || "
    "CAST(sigs[band * 4 + 3] AS VARCHAR) || '|' || "
    "CAST(sigs[band * 4 + 4] AS VARCHAR))"
)

_MM_PIPELINE_CTE = f"""
tk AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents),
tk2 AS (SELECT doc_id, toks FROM tk WHERE len(toks) >= 3),
gg AS (
  SELECT doc_id,
         list_transform(range(1, len(toks) - 1),
                        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS ngrams
  FROM tk2
),
gh AS (
  SELECT doc_id,
         list_transform(ngrams,
                        g -> CAST(('0x' || substring(md5(g), 1, 7))::BIGINT AS BIGINT)) AS ghs
  FROM gg
),
sg AS (SELECT doc_id, [{_MM_SIG_LIST}] AS sigs FROM gh),
bnd AS (
  SELECT doc_id, band, {_MM_BAND_BUCKET} AS bucket
  FROM sg, (VALUES {_MM_BUCKETS}) b(band)
),
pp AS (
  SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
  FROM bnd a JOIN bnd b2
    ON a.band = b2.band AND a.bucket = b2.bucket AND a.doc_id < b2.doc_id
),
jj AS (
  SELECT pp.id_a, pp.id_b, sa.sigs AS sa, sb.sigs AS sb
  FROM pp JOIN sg sa ON pp.id_a = sa.doc_id JOIN sg sb ON pp.id_b = sb.doc_id
),
mm_pairs AS (
  SELECT id_a, id_b,
         CAST(len(list_filter(range(1, {_MM_PERM + 1}), i -> sa[i] = sb[i])) AS INT) AS n_equal
  FROM jj
  WHERE len(list_filter(range(1, {_MM_PERM + 1}), i -> sa[i] = sb[i])) >= {_MM_MIN_EQ}
)
"""

_MINHASH_MD5_ORACLE = f"""
WITH {_MM_PIPELINE_CTE}
SELECT id_a, id_b, n_equal FROM mm_pairs
"""


@register("minhash_md5", _MINHASH_MD5_ORACLE)
def q_minhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked MinHash + banded LSH: signatures, band buckets,
    candidate join and verify all run JVM-side (whole-stage codegen)."""
    from gdal_spark.operators.text import minhash_md5_pairs

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return minhash_md5_pairs(d)


# Incremental (delta-vs-base) near-dup dedup: the per-snapshot shape of
# the minhash pipeline.  Delta = doc_id % 10 = 0 stands in for the
# newly-ingested tranche (at scale: the snapshot's own partition /
# `table_incremental` read).  Only pairs touching a delta doc form —
# base×base pairs are the prior run's artifact — so per-snapshot cost
# scales with |delta| × bucket density, not |corpus|².  The oracle is
# the FULL minhash pipeline filtered to delta-touching pairs: identical
# signatures, bands, buckets and verify as `minhash_md5`.
_MM_INC_ORACLE = f"""
WITH {_MM_PIPELINE_CTE}
SELECT id_a, id_b, n_equal FROM mm_pairs
WHERE id_a % 10 = 0 OR id_b % 10 = 0
"""


@register("minhash_incremental", _MM_INC_ORACLE)
def q_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-vs-base MinHash LSH: band the delta tranche only on the
    probe side of the bucket equi-join; emits exactly the pairs with
    >=1 delta endpoint, canonicalised (least, greatest)."""
    from gdal_spark.operators.text import minhash_md5_pairs_incremental

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return minhash_md5_pairs_incremental(d, F.col("doc_id") % 10 == 0)


_DEDUP_CLUSTERS_ORACLE = f"""
WITH RECURSIVE {_MM_PIPELINE_CTE},
sym AS (
  SELECT id_a AS n, id_b AS m FROM mm_pairs
  UNION
  SELECT id_b AS n, id_a AS m FROM mm_pairs
),
reach AS (
  SELECT n, m FROM sym
  UNION
  SELECT r.n, s2.m FROM reach r JOIN sym s2 ON r.m = s2.n
),
cl AS (SELECT n AS cdoc, min(m) AS mn FROM reach GROUP BY n)
SELECT d.doc_id, CAST(least(COALESCE(cl.mn, d.doc_id), d.doc_id) AS BIGINT) AS cluster_id
FROM documents d LEFT JOIN cl ON d.doc_id = cl.cdoc
"""


@register("dedup_clusters", _DEDUP_CLUSTERS_ORACLE)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc -> dedup cluster id: connected components over the ORACLE-
    CHECKED md5-MinHash pair graph (min-label propagation + pointer
    jumping vs the oracle's recursive-CTE transitive closure)."""
    from gdal_spark.operators.text import dedup_clusters, minhash_md5_pairs

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = minhash_md5_pairs(d)
    return dedup_clusters(d, pairs)


# rolling-hash Horner recurrence rendered as a DuckDB recursive CTE —
# exact per-byte parity with the vectorized numpy kernel (ASCII corpus,
# so ord(char) == utf-8 byte)
_FINGERPRINT_ORACLE = """
WITH RECURSIVE h AS (
  SELECT doc_id AS hid, CAST(0 AS HUGEINT) AS acc, 0 AS i FROM documents
  UNION ALL
  SELECT h.hid AS hid,
         CAST((h.acc * 131 + ord(substr(d.text, h.i + 1, 1))) % 2305843009213693951 AS HUGEINT) AS acc,
         h.i + 1 AS i
  FROM h JOIN documents d ON h.hid = d.doc_id
  WHERE h.i < length(d.text)
)
SELECT h.hid AS doc_id, CAST(h.acc AS BIGINT) AS fingerprint
FROM h JOIN documents d ON h.hid = d.doc_id AND h.i = length(d.text)
"""


@register("fingerprint", _FINGERPRINT_ORACLE)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.text import fingerprint

    return fingerprint(spark.read.parquet(f"{sf_dir}/documents.parquet"))


_NGRAM_JACCARD_ORACLE = f"""
WITH {_MM_PIPELINE_CTE}
SELECT p.id_a, p.id_b,
       round(CAST(len(list_intersect(list_distinct(a.ngrams), list_distinct(b.ngrams))) AS DOUBLE)
             / len(list_distinct(list_concat(a.ngrams, b.ngrams))), 6) AS jaccard
FROM mm_pairs p
JOIN gg a ON p.id_a = a.doc_id
JOIN gg b ON p.id_b = b.doc_id
"""


@register("ngram_jaccard", _NGRAM_JACCARD_ORACLE)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard verify over the (oracle-checked) md5-LSH
    candidate pairs — the re-rank stage of the near-dup pipeline.
    Both engines divide the SAME distinct-set integers, so the rounded
    double matches bit-for-bit (64-bit gram-hash collisions are the only
    theoretical divergence, ~1e-13 at this scale)."""
    from gdal_spark.operators.text import minhash_md5_pairs, ngram_jaccard_pairs

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = minhash_md5_pairs(d).select("id_a", "id_b")
    return ngram_jaccard_pairs(d, pairs).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


# the media codec is a deterministic md5 STUB (sandbox has no media
# libs), which makes even the multimodal plumbing oracle-checkable: the
# fake payload is md5(ref) x16, so feature j = (#digest low-nibbles == j)/16.
# Output is the TALL scalar shape (doc_id, media_ref, j, feature) — the
# driver's pandas canonicalizer cannot hash array cells (r02 red row).
_MEDIA_FEAT_ORACLE = """
WITH m AS (SELECT doc_id, 'media://' || doc_id || '/2' AS media_ref FROM documents),
h AS (SELECT doc_id, media_ref, md5(media_ref) AS hx FROM m)
SELECT doc_id, media_ref, CAST(t.j AS INT) AS j,
       CAST(len(list_filter(range(1, 17),
              i -> (strpos('0123456789abcdef', substr(hx, 2*i, 1)) - 1) = t.j)) / 16.0 AS FLOAT) AS feature
FROM h CROSS JOIN range(0, 16) t(j)
"""


@register("media_features", _MEDIA_FEAT_ORACLE)
def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pipeline: span media_refs -> binary fetch -> feature
    extraction (mapInPandas Arrow plumbing; codec layer is the
    clearly-marked deterministic stub, which the oracle reproduces).
    Flattened via posexplode so every output column is scalar (values
    0/16..16/16 are exact in float32, so the hash gate is bit-safe)."""
    from gdal_spark.operators.media import fetch_media, image_features, media_refs

    docs = corpus.load_docs(spark, sf_dir)
    feats = image_features(fetch_media(media_refs(docs)))
    return feats.select(
        "doc_id",
        "media_ref",
        F.posexplode("features").alias("j", "feature"),
    ).select("doc_id", "media_ref", F.col("j").cast("int").alias("j"), "feature")


# video-frame sampling plumbing (operators/media.py frame_sample): the
# deterministic payload stub is md5(ref) x16, so every sampled 32-byte
# frame is digest||digest — the oracle rebuilds the frame HEX from pure
# string md5, checking the explode shape, stride, and byte windows
_MEDIA_FRAMES_ORACLE = """
WITH m AS (SELECT doc_id, 'media://' || doc_id || '/2' AS media_ref FROM documents)
SELECT doc_id, media_ref, CAST(t.j * 4 AS INT) AS frame_idx,
       upper(md5(media_ref) || md5(media_ref)) AS frame_hex,
       CAST(32 AS INT) AS frame_bytes
FROM m CROSS JOIN range(0, 2) t(j)
"""


@register("media_frames", _MEDIA_FRAMES_ORACLE)
def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.media import fetch_media, frame_sample, media_refs

    docs = corpus.load_docs(spark, sf_dir)
    frames = frame_sample(fetch_media(media_refs(docs)), every_k=4, frame_bytes=32)
    return frames.select(
        "doc_id",
        "media_ref",
        "frame_idx",
        F.hex("frame").alias("frame_hex"),
        F.length("frame").cast("int").alias("frame_bytes"),
    )


_ANN_K = 3
_ANN_ORACLE = f"""
WITH s AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         list_cosine_similarity(a.embedding, b.embedding) AS cos
  FROM embeddings a, embeddings b
  WHERE a.vec_id <> b.vec_id
),
r AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
  FROM s
)
SELECT query_id, neighbor_id, CAST(rnk AS int) AS rnk FROM r WHERE rnk <= {_ANN_K}
"""


@register("ann_topk", _ANN_ORACLE)
def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k over the embeddings table (map-side GEMM)."""
    from gdal_spark.operators.similarity import brute_force_topk

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return brute_force_topk(e, e, k=_ANN_K).select("query_id", "neighbor_id", "rnk")


# The RNG-plane LSH twin (similarity.lsh_topk) is DEMOTED from the
# registry (round-3 decision, same rationale as the numpy MinHash twin):
# its numpy hyperplanes aren't SQL-reproducible, so it could only ever
# be a rows-only driver row, while the deterministic `ann_lsh_det`
# carries the FULL-pipeline oracle for the same plan shape.  The RNG
# variant stays recall-graded in tests/test_text_ops.py.


def _ann_det_duck_proj(t: int, p: int) -> str:
    sign = (
        f"(CASE WHEN ((({t}) * 73856093 + {p} * 19349663 + d * 83492791) % 97) % 2 = 0"
        f" THEN 1.0e0 ELSE (0.0e0 - 1.0e0) END)"
    )
    return (
        f"list_sum(list_transform(range(1, 65),"
        f" d -> CAST(embedding[d] AS DOUBLE) * {sign}))"
    )


_ANN_DET_SIG = " UNION ALL ".join(
    "SELECT vec_id, {t} AS tbl, CAST({b} AS INT) AS bucket FROM embeddings".format(
        t=t,
        b=" + ".join(
            f"(CASE WHEN {_ann_det_duck_proj(t, p)} > 0.0e0 THEN {1 << p} ELSE 0 END)"
            for p in range(8)
        ),
    )
    for t in range(4)
)

_ANN_DET_ORACLE = f"""
WITH sig AS ({_ANN_DET_SIG}),
cand AS (
  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
  FROM sig a JOIN sig b
    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id <> b.vec_id
),
s AS (
  SELECT c.query_id, c.neighbor_id,
         list_cosine_similarity(qa.embedding, qb.embedding) AS cos
  FROM cand c
  JOIN embeddings qa ON c.query_id = qa.vec_id
  JOIN embeddings qb ON c.neighbor_id = qb.vec_id
),
r AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
  FROM s
)
SELECT query_id, neighbor_id, CAST(rnk AS int) AS rnk FROM r WHERE rnk <= {_ANN_K}
"""


_IVF_CELLS = 16
_IVF_PROBE = 2
_ANN_IVF_ORACLE = f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding FROM embeddings ORDER BY vec_id LIMIT {_IVF_CELLS}
),
allcos AS (
  SELECT e.vec_id, c.cid, list_cosine_similarity(e.embedding, c.embedding) AS cos
  FROM embeddings e CROSS JOIN cents c
),
tassign AS (
  SELECT vec_id AS neighbor_id, cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
    FROM allcos) WHERE rn = 1
),
qprobe AS (
  SELECT vec_id AS query_id, cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
    FROM allcos) WHERE rn <= {_IVF_PROBE}
),
s AS (
  SELECT q.query_id, t.neighbor_id,
         list_cosine_similarity(a.embedding, b.embedding) AS cos
  FROM qprobe q
  JOIN tassign t ON q.cell = t.cell AND q.query_id <> t.neighbor_id
  JOIN embeddings a ON q.query_id = a.vec_id
  JOIN embeddings b ON t.neighbor_id = b.vec_id
),
r AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
  FROM s
)
SELECT query_id, neighbor_id, CAST(rnk AS int) AS rnk FROM r WHERE rnk <= {_ANN_K}
"""


@register("ann_ivf", _ANN_IVF_ORACLE)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer ANN (the other scale path next to LSH):
    deterministic codebook = lowest-id vectors, broadcast to executors
    as one array column, zero-shuffle JVM cell assignment, queries probe
    top-{_IVF_PROBE} cells, ONE equi-join on cell id (no dedup — each
    candidate pair is generated exactly once), exact re-score + window
    top-k.  Full pipeline reproduced value-for-value by DuckDB."""
    from gdal_spark.operators.similarity import ivf_topk

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivf_topk(e, e, k=_ANN_K, n_cells=_IVF_CELLS, n_probe=_IVF_PROBE)


@register("ann_lsh_det", _ANN_DET_ORACLE)
def q_ann_lsh_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-CHECKED ANN: deterministic ±1 hyperplanes (integer-hash
    signs), signatures whole-stage-codegen JVM-side, bucket equi-join +
    exact re-score + window top-k — the full approximate-similarity
    pipeline reproduced value-for-value by DuckDB."""
    from gdal_spark.operators.similarity import lsh_topk_det

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return lsh_topk_det(e, e, k=_ANN_K, dim=64)


# --------------------------------------------------------------------------
# Update overlay (ogrlayer.cpp:5148): B patches over A — B's features
# plus the A-remainder (A − union B). Disjoint B keeps the oracle exact.
# --------------------------------------------------------------------------
_UPDATE_ORACLE = f"""
WITH docs AS ({_POLYDOCS_CTE}), z AS ({_CLIPZ_CTE}),
cut AS (
  SELECT d.doc_id, sum({_RECT_AREA}) AS c
  FROM docs d JOIN z ON {_RECT_OVERLAP}
  GROUP BY d.doc_id
),
a_rem AS (
  SELECT d.doc_id, CAST(NULL AS bigint) AS zone_id,
         (d.xmax - d.xmin) * (d.ymax - d.ymin) - COALESCE(cut.c, 0.0e0) AS a
  FROM docs d LEFT JOIN cut ON d.doc_id = cut.doc_id
),
b_full AS (
  SELECT CAST(NULL AS bigint) AS doc_id, z.zone_id,
         (z.zxmax - z.zxmin) * (z.zymax - z.zymin) AS a
  FROM z
)
SELECT doc_id, zone_id, CAST(round(a * 1.0e6) AS bigint) AS micro_area
FROM (SELECT * FROM b_full UNION ALL SELECT * FROM a_rem WHERE a > 0) u
"""


@register("update_pieces", _UPDATE_ORACLE)
def q_update_pieces(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.overlay import erase_area

    pd_docs = corpus.load_polydocs(spark, sf_dir)
    cz_full = zones.clip_zones(spark)
    b_rows = cz_full.select(
        F.lit(None).cast("long").alias("doc_id"),
        "zone_id",
        (
            (F.col("zxmax") - F.col("zxmin")) * (F.col("zymax") - F.col("zymin"))
        ).alias("piece_area"),
    )
    cz = cz_full.drop("zxmin", "zymin", "zxmax", "zymax")
    a_rem = (
        erase_area(pd_docs, cz)
        .filter(F.col("erase_area") > 0)
        .select(
            "doc_id",
            F.lit(None).cast("long").alias("zone_id"),
            F.col("erase_area").alias("piece_area"),
        )
    )
    return b_rows.unionByName(a_rem).select(
        "doc_id",
        "zone_id",
        F.round(F.col("piece_area") * 1.0e6).cast("long").alias("micro_area"),
    )


# --------------------------------------------------------------------------
# Raster: point probe, band statistics, pixel algebra
# --------------------------------------------------------------------------
from gdal_spark.operators.raster import (  # noqa: E402
    GT_DX,
    GT_DY,
    GT_X0,
    GT_Y0,
    N_BANDS,
    SRC_H,
    SRC_W,
)

_SRC_GRID_CTE = f"""
SELECT CAST((i % {SRC_W}) AS int) AS px,
       CAST((CAST(((i - (i % {SRC_W})) / {SRC_W}) AS BIGINT) % {SRC_H}) AS int) AS py,
       CAST((CAST(((i - (i % {SRC_W * SRC_H})) / {SRC_W * SRC_H}) AS BIGINT) + 1) AS int) AS band
FROM range(0, {SRC_W * SRC_H * N_BANDS}) t(i)
"""
_SRC_VAL = "((px * 7 + py * 13 + band * 29) % 256)"

_sd = mercator.sql_double
_PROBE_ORACLE = f"""
WITH docs AS ({_DOCS_CTE}),
probe AS (
  SELECT doc_id,
         CAST(floor((lon - ({_sd(GT_X0)})) / ({_sd(GT_DX)})) AS BIGINT) AS px,
         CAST(floor((lat - ({_sd(GT_Y0)})) / ({_sd(GT_DY)})) AS BIGINT) AS py
  FROM docs
),
b AS (SELECT i + 1 AS band FROM range(0, {N_BANDS}) t(i))
SELECT p.doc_id, CAST(b.band AS int) AS band,
       CAST({_SRC_VAL} AS int) AS value
FROM probe p, b
WHERE px >= 0 AND px < {SRC_W} AND py >= 0 AND py < {SRC_H}
"""


@register("raster_probe", _PROBE_ORACLE)
def q_raster_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdallocationinfo / GDALInterpolateAtPoint(nearest)
    (apps/gdallocationinfo.cpp:286, alg/gdal_interpolateatpoint.cpp:165):
    point -> source pixel equi-join against the pixel table."""
    from gdal_spark.operators.raster import source_grid

    docs = corpus.load_docs(spark, sf_dir).select("doc_id", "lon", "lat")
    probe = docs.select(
        "doc_id",
        F.floor((F.col("lon") - F.lit(GT_X0)) / F.lit(GT_DX)).alias("px"),
        F.floor((F.col("lat") - F.lit(GT_Y0)) / F.lit(GT_DY)).alias("py"),
    )
    src = source_grid(spark)
    return probe.join(
        src, (probe.px == src.px) & (probe.py == src.py), "inner"
    ).select("doc_id", "band", "value")


# bilinear interpolation at point (GDALInterpolateAtPoint bilinear path,
# alg/gdal_interpolateatpoint.cpp:165): the SAME formula text evaluates
# JVM-side (F.expr) and in DuckDB, so weights are bit-identical.
# Interior-only (continuous pixel coords in (0, W-1)/(0, H-1)) — edge
# clamping left to the warp kernel (raster.py _resample_window).
_BL_PXF = f"((lon - ({_sd(GT_X0)})) / ({_sd(GT_DX)}) - 5.0e-1)"
_BL_PYF = f"((lat - ({_sd(GT_Y0)})) / ({_sd(GT_DY)}) - 5.0e-1)"
_BL_I0 = f"CAST(floor({_BL_PXF}) AS BIGINT)"
_BL_J0 = f"CAST(floor({_BL_PYF}) AS BIGINT)"
_BL_FX = f"({_BL_PXF} - {_BL_I0})"
_BL_FY = f"({_BL_PYF} - {_BL_J0})"


def _bl_src(i, j):
    return f"CAST((({i}) * 7 + ({j}) * 13 + band * 29) % 256 AS DOUBLE)"


_BL_VAL = (
    f"((1.0e0 - {_BL_FY}) * ((1.0e0 - {_BL_FX}) * {_bl_src(_BL_I0, _BL_J0)}"
    f" + {_BL_FX} * {_bl_src(f'{_BL_I0} + 1', _BL_J0)})"
    f" + {_BL_FY} * ((1.0e0 - {_BL_FX}) * {_bl_src(_BL_I0, f'{_BL_J0} + 1')}"
    f" + {_BL_FX} * {_bl_src(f'{_BL_I0} + 1', f'{_BL_J0} + 1')}))"
)

_PROBE_BILINEAR_ORACLE = f"""
WITH docs AS ({_DOCS_CTE}),
b AS (SELECT i + 1 AS band FROM range(0, {N_BANDS}) t(i)),
p AS (
  SELECT doc_id, CAST(band AS int) AS band, {_BL_VAL} AS v
  FROM docs, b
  WHERE {_BL_PXF} > 0 AND {_BL_PXF} < {SRC_W - 1}
    AND {_BL_PYF} > 0 AND {_BL_PYF} < {SRC_H - 1}
)
SELECT doc_id, band, CAST(floor(v * 1.0e4 + 1.0e-6) AS BIGINT) AS v4
FROM p
"""


@register("raster_probe_bilinear", _PROBE_BILINEAR_ORACLE)
def q_raster_probe_bilinear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilinear point probe — whole-stage-codegen column math (the
    shared-formula twin of the warp kernel's numpy bilinear path, which
    is pinned against this same interpolation in pytest)."""
    docs = corpus.load_docs(spark, sf_dir).select("doc_id", "lon", "lat")
    bands = spark.range(N_BANDS).select((F.col("id") + 1).cast("int").alias("band"))
    p = docs.crossJoin(F.broadcast(bands))
    p = p.filter(
        F.expr(f"{_BL_PXF} > 0 AND {_BL_PXF} < {SRC_W - 1}")
        & F.expr(f"{_BL_PYF} > 0 AND {_BL_PYF} < {SRC_H - 1}")
    )
    return p.select(
        "doc_id",
        "band",
        F.expr(f"CAST(floor({_BL_VAL} * 1.0e4 + 1.0e-6) AS BIGINT)").alias("v4"),
    )


# cubic + cubic-spline interpolation at point (GDALInterpolateAtPoint,
# alg/gdal_interpolateatpoint.cpp:303-366 apply4x4Kernel; kernels
# alg/gdalresamplingkernels.h:23-60).  Every arithmetic op mirrors the
# C sequence (same literals, same association) so the shared text is
# bit-identical in F.expr and DuckDB, including the Σw normalization.


def _ck_val(k: int, d: str) -> str:
    """fPoint component: (k-1) - delta, k in 0..3."""
    return f"(CAST({k - 1} AS DOUBLE) - {d})"


def _cubic_w(val: str) -> str:
    """CubicKernel (Catmull-Rom, a=-0.5), gdalresamplingkernels.h:23."""
    ax = f"abs({val})"
    x2 = f"({val} * {val})"
    b1 = f"(({x2} * ((1.5e0 * {ax}) - 2.5e0)) + 1.0e0)"
    b2 = (
        f"((({x2} * (((0.0e0 - 5.0e-1) * {ax}) + 2.5e0))"
        f" - (4.0e0 * {ax})) + 2.0e0)"
    )
    return (
        f"(CASE WHEN {ax} <= 1.0e0 THEN {b1}"
        f" WHEN {ax} <= 2.0e0 THEN {b2} ELSE 0.0e0 END)"
    )


def _spline_w(val: str) -> str:
    """CubicSplineKernel (cardinal B-spline), gdalresamplingkernels.h:45."""
    xm1 = f"({val} - 1.0e0)"
    xp1 = f"({val} + 1.0e0)"
    xp2 = f"({val} + 2.0e0)"
    a = f"(CASE WHEN {xp2} <= 0.0e0 THEN 0.0e0 ELSE {xp2} * {xp2} * {xp2} END)"
    b = f"(CASE WHEN {xp1} <= 0.0e0 THEN 0.0e0 ELSE {xp1} * {xp1} * {xp1} END)"
    c = f"(CASE WHEN {val} <= 0.0e0 THEN 0.0e0 ELSE {val} * {val} * {val} END)"
    d = f"(CASE WHEN {xm1} <= 0.0e0 THEN 0.0e0 ELSE {xm1} * {xm1} * {xm1} END)"
    body = f"1.6666666666666666667e-1 * ((({a} - (4.0e0 * {b})) + (6.0e0 * {c})) - (4.0e0 * {d}))"
    return f"(CASE WHEN {val} > 2.0e0 THEN 0.0e0 ELSE {body} END)"


def _probe4x4(weight_fn) -> str:
    """sumH / sumW over the 4x4 window, C accumulation order
    (k_i outer over y, k_j inner over x)."""
    wx = [weight_fn(_ck_val(k, _BL_FX)) for k in range(4)]
    wy = [weight_fn(_ck_val(k, _BL_FY)) for k in range(4)]
    hterms, wterms = [], []
    for ki in range(4):
        for kj in range(4):
            src = _bl_src(f"{_BL_I0} - 1 + {kj}", f"{_BL_J0} - 1 + {ki}")
            w = f"({wx[kj]} * {wy[ki]})"
            hterms.append(f"({src} * {w})")
            wterms.append(w)
    return f"(({' + '.join(hterms)}) / ({' + '.join(wterms)}))"


_CUBIC_INTERIOR = (
    f"{_BL_PXF} > 1 AND {_BL_PXF} < {SRC_W - 2}"
    f" AND {_BL_PYF} > 1 AND {_BL_PYF} < {SRC_H - 2}"
)

_PROBE_CUBIC_ORACLE = f"""
WITH docs AS ({_DOCS_CTE}),
b AS (SELECT i + 1 AS band FROM range(0, {N_BANDS}) t(i)),
p AS (
  SELECT doc_id, CAST(band AS int) AS band,
         {_probe4x4(_cubic_w)} AS vc,
         {_probe4x4(_spline_w)} AS vs
  FROM docs, b
  WHERE {_CUBIC_INTERIOR}
)
SELECT doc_id, band,
       CAST(floor(vc * 1.0e4 + 1.0e-6) AS BIGINT) AS v4_cubic,
       CAST(floor(vs * 1.0e4 + 1.0e-6) AS BIGINT) AS v4_spline
FROM p
"""


@register("raster_probe_cubic", _PROBE_CUBIC_ORACLE)
def q_raster_probe_cubic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cubic (Catmull-Rom) + cubic-B-spline point probe — the 4x4
    apply4x4Kernel as whole-stage-codegen column math, interior-only
    (full window in range; border drag handled by the warp kernel)."""
    docs = corpus.load_docs(spark, sf_dir).select("doc_id", "lon", "lat")
    bands = spark.range(N_BANDS).select((F.col("id") + 1).cast("int").alias("band"))
    p = docs.crossJoin(F.broadcast(bands)).filter(F.expr(_CUBIC_INTERIOR))
    return p.select(
        "doc_id",
        "band",
        F.expr(f"CAST(floor({_probe4x4(_cubic_w)} * 1.0e4 + 1.0e-6) AS BIGINT)").alias(
            "v4_cubic"
        ),
        F.expr(f"CAST(floor({_probe4x4(_spline_w)} * 1.0e4 + 1.0e-6) AS BIGINT)").alias(
            "v4_spline"
        ),
    )


_BAND_STATS_ORACLE = f"""
WITH g AS ({_SRC_GRID_CTE}), v AS (SELECT band, {_SRC_VAL} AS value FROM g)
SELECT band, count(*) AS cnt, min(value) AS vmin, max(value) AS vmax,
       round(avg(value), 6) AS vavg, round(stddev_samp(value), 6) AS vstd
FROM v GROUP BY band
"""


@register("raster_band_stats", _BAND_STATS_ORACLE)
def q_raster_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDALRasterBand::ComputeStatistics analog
    (gcore/gdalrasterband.cpp) — per-band agg over the pixel table."""
    from gdal_spark.operators.raster import source_grid

    return (
        source_grid(spark)
        .groupBy("band")
        .agg(
            F.count("*").alias("cnt"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
            F.round(F.avg("value"), 6).alias("vavg"),
            F.round(F.stddev_samp("value"), 6).alias("vstd"),
        )
    )


_PIXEL_ALGEBRA_ORACLE = f"""
WITH g AS ({_SRC_GRID_CTE}), v AS (SELECT px, py, band, {_SRC_VAL} AS value FROM g),
p AS (
  SELECT px, py,
         sum(CASE WHEN band = 1 THEN value END) AS b1,
         sum(CASE WHEN band = 2 THEN value END) AS b2,
         sum(CASE WHEN band = 3 THEN value END) AS b3
  FROM v GROUP BY px, py
)
SELECT px, py, CAST((b1 + b2 + b3) AS bigint) % 256 AS calc
FROM p
"""


@register("pixel_algebra", _PIXEL_ALGEBRA_ORACLE)
def q_pixel_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_calc / VRT pixel-function analog
    (osgeo_utils/gdal_calc.py, frmts/vrt/pixelfunctions.cpp): cross-band
    expression via pivot on the pixel key."""
    from gdal_spark.operators.raster import source_grid

    v = source_grid(spark)
    p = (
        v.groupBy("px", "py")
        .pivot("band", [1, 2, 3])
        .sum("value")
        .withColumnsRenamed({"1": "b1", "2": "b2", "3": "b3"})
    )
    return p.select(
        "px",
        "py",
        ((F.col("b1") + F.col("b2") + F.col("b3")).cast("long") % 256).alias("calc"),
    )


# --------------------------------------------------------------------------
# gdal raster calc (apps/gdalalg_raster_calc.cpp, muparser dialect):
# named multi-raster inputs, band-subscript expansion and the --flatten
# aggregate expansion, ported string-for-string in operators/calc.py
# (quirks pinned in tests/test_raster_calc.py).  Two expressions over
# A = the 3-band source grid and B = a 1-band second raster:
#   expr 1, flatten=False: "A + 2 * B"        -> 3 output bands,
#     A[b] + 2*B[1] (the 1-band source broadcasts via
#     nDefaultInBand = min(nBands, nOutBand), :420);
#   expr 2, flatten=True:  "avg(A) + max(A) - B" -> 1 output band,
#     aggregate args expand to the full band list (:422-424).
# The ENGINE routes the user strings through expand_expression +
# compile_to_sql; the ORACLE is the hand-expanded SQL — so the
# preprocessor itself is under oracle test, not shared text.  Values
# are integers except avg's /3 (one double division, identical op both
# engines), rounded in-query.
# --------------------------------------------------------------------------
_CALC_B_VAL = "((px * 11 + py * 3) % 200)"

_RASTER_CALC_ORACLE = f"""
WITH g AS ({_SRC_GRID_CTE}),
p AS (
  SELECT px, py,
         sum(CASE WHEN band = 1 THEN {_SRC_VAL} END) AS a_1,
         sum(CASE WHEN band = 2 THEN {_SRC_VAL} END) AS a_2,
         sum(CASE WHEN band = 3 THEN {_SRC_VAL} END) AS a_3
  FROM g GROUP BY px, py
),
pb AS (SELECT px, py, a_1, a_2, a_3, {_CALC_B_VAL} AS b_1 FROM p),
e1 AS (
  SELECT 1 AS expr_id, band.b AS out_band, px, py,
         round(CAST(CASE band.b WHEN 1 THEN a_1 + 2 * b_1
                                WHEN 2 THEN a_2 + 2 * b_1
                                ELSE a_3 + 2 * b_1 END AS DOUBLE), 6) AS val
  FROM pb, (SELECT unnest([1, 2, 3]) AS b) band
),
e2 AS (
  SELECT 2 AS expr_id, 1 AS out_band, px, py,
         round(((a_1 + a_2 + a_3) / 3.0e0)
               + greatest(a_1, a_2, a_3) - b_1, 6) AS val
  FROM pb
)
SELECT expr_id, out_band, px, py, val FROM e1
UNION ALL
SELECT expr_id, out_band, px, py, val FROM e2
"""


@register("raster_calc", _RASTER_CALC_ORACLE)
def q_raster_calc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.calc import compile_to_sql, expand_expression
    from gdal_spark.operators.raster import source_grid

    p = (
        source_grid(spark)
        .groupBy("px", "py")
        .pivot("band", [1, 2, 3])
        .sum("value")
        .withColumnsRenamed({"1": "a_1", "2": "a_2", "3": "a_3"})
        .withColumn("b_1", F.expr(_CALC_B_VAL))
    )
    sources = {"A": 3, "B": 1}
    outs = []
    for expr_id, (text, flatten) in enumerate(
        [("A + 2 * B", False), ("avg(A) + max(A) - B", True)], start=1
    ):
        for out_band, band_expr in enumerate(
            expand_expression(text, sources, flatten=flatten), start=1
        ):
            outs.append(
                p.select(
                    F.lit(expr_id).alias("expr_id"),
                    F.lit(out_band).alias("out_band"),
                    "px",
                    "py",
                    F.expr(
                        f"round(CAST({compile_to_sql(band_expr)} AS DOUBLE), 6)"
                    ).alias("val"),
                )
            )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


# --------------------------------------------------------------------------
# Tile index (gdaltindex partition catalog) + θ-join + COUNT DISTINCT
# --------------------------------------------------------------------------
_TINDEX_ZOOM = 6
_TINDEX_ORACLE = f"""
WITH docs AS ({_DOCS_CTE})
SELECT {mercator.sql_tx('lon', str(_TINDEX_ZOOM))} AS tx,
       {mercator.sql_ty('lat', str(_TINDEX_ZOOM))} AS ty,
       count(*) AS n_docs,
       round(min(lon), 6) AS xmin, round(max(lon), 6) AS xmax,
       round(min(lat), 6) AS ymin, round(max(lat), 6) AS ymax
FROM docs GROUP BY 1, 2
"""


@register("tile_index", _TINDEX_ORACLE)
def q_tile_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdaltindex (apps/gdaltindex_lib.cpp) — the partition catalog: one
    footprint row per occupied cell, the input to partition pruning."""
    docs = corpus.load_docs(spark, sf_dir)
    z = str(_TINDEX_ZOOM)
    return (
        docs.select(
            F.expr(mercator.sql_tx("lon", z)).alias("tx"),
            F.expr(mercator.sql_ty("lat", z)).alias("ty"),
            "lon",
            "lat",
        )
        .groupBy("tx", "ty")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.min("lon"), 6).alias("xmin"),
            F.round(F.max("lon"), 6).alias("xmax"),
            F.round(F.min("lat"), 6).alias("ymin"),
            F.round(F.max("lat"), 6).alias("ymax"),
        )
    )


_THETA_ORACLE = """
SELECT o.o_orderkey, l.l_linenumber, l.l_extendedprice
FROM orders o JOIN lineitem l
  ON l.l_orderkey = o.o_orderkey AND l.l_extendedprice > o.o_totalprice * 2.0e-1
"""


@register("theta_join", _THETA_ORACLE)
def q_theta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General-condition join — the SQLite-dialect path
    (ogrsqliteexecutesql.cpp) where SQLite plans arbitrary θ-joins;
    Catalyst plans it as hash join + residual filter."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return o.join(
        li,
        (li.l_orderkey == o.o_orderkey)
        & (li.l_extendedprice > o.o_totalprice * 0.2),
    ).select("o_orderkey", "l_linenumber", "l_extendedprice")


_COUNT_DISTINCT_ORACLE = """
SELECT count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_supps,
       count(DISTINCT l_returnflag) AS n_flags
FROM lineitem
"""


@register("count_distinct", _COUNT_DISTINCT_ORACLE)
def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT x) — the reference's std::set accumulation
    (ogr/ogr_swq.h:381-382) as hash-distinct aggregation."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.countDistinct("l_returnflag").alias("n_flags"),
    )


# --------------------------------------------------------------------------
# Grid interpolation (alg/gdalgrid.cpp invdistnn): scattered targets ->
# regular grid via IDW over the 12 nearest (quadtree-search analog =
# knn_join's target STR tree), power=2.
# --------------------------------------------------------------------------
_GRID_W, _GRID_H = 90, 45  # 4-degree cells
# center offset .0005 keeps pixel centers off the target lattice (d2>0)
_GLON_SQL = "(-1.8e2 + gx * 4 + 2.0005e0)"
_GLAT_SQL = "(-9.0e1 + gy * 4 + 2.0005e0)"
_TVAL_SQL = "CAST(((target_id * 37) % 100) AS DOUBLE)"
_IDW_K = 12


def _grid_points(spark: SparkSession) -> DataFrame:
    """(gx, gy, lon, lat): the pixel centers of the output grid, the
    query points of the kNN / radius grid rows (``pc`` in their oracles)."""
    px = spark.range(_GRID_W * _GRID_H).select(
        (F.col("id") % _GRID_W).alias("gx"),
        ((F.col("id") - (F.col("id") % _GRID_W)) / _GRID_W).cast("long").alias("gy"),
    )
    return px.select(
        "gx", "gy", F.expr(_GLON_SQL).alias("lon"), F.expr(_GLAT_SQL).alias("lat")
    )

_IDW_ORACLE = f"""
WITH px AS (
  SELECT (i % {_GRID_W}) AS gx,
         CAST(((i - (i % {_GRID_W})) / {_GRID_W}) AS BIGINT) AS gy
  FROM range(0, {_GRID_W * _GRID_H}) t(i)
),
pc AS (SELECT gx, gy, {_GLON_SQL} AS lon, {_GLAT_SQL} AS lat FROM px),
t AS (SELECT target_id, tlon, tlat, {_TVAL_SQL} AS tval
      FROM ({duckdb_targets_cte()}) raw),
d AS (
  SELECT pc.gx, pc.gy, t.target_id, t.tval,
         (pc.lon - t.tlon) * (pc.lon - t.tlon)
       + (pc.lat - t.tlat) * (pc.lat - t.tlat) AS d2
  FROM pc, t
),
r AS (
  SELECT gx, gy, tval, d2,
         row_number() OVER (PARTITION BY gx, gy ORDER BY d2, target_id) AS rnk
  FROM d
)
SELECT gx, gy, round(sum(tval / d2) / sum(1.0e0 / d2), 4) AS idw
FROM r WHERE rnk <= {_IDW_K} GROUP BY gx, gy
"""


@register("grid_idw", _IDW_ORACLE)
def q_grid_idw(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.knn import knn_join, knn_targets

    pc = _grid_points(spark)
    kn = knn_join(pc, knn_targets(spark), k=_IDW_K)
    kn = kn.withColumn("tval", F.expr(_TVAL_SQL))
    return kn.groupBy("gx", "gy").agg(
        F.round(
            F.sum(F.col("tval") / F.col("d2")) / F.sum(F.lit(1.0) / F.col("d2")), 4
        ).alias("idw")
    )


# invdist power knob (gdalgrid invdist:power=p, alg/gdalgrid.cpp
# dfPowerDiv2 — weights 1/d^p): even p stays EXACT with no pow()/sqrt(),
# since d^4 = (d2 * d2); same kNN candidate stage and shared formula
# text as grid_idw.
_IDW4_ORACLE = _IDW_ORACLE.replace(
    "round(sum(tval / d2) / sum(1.0e0 / d2), 4)",
    "round(sum(tval / (d2 * d2)) / sum(1.0e0 / (d2 * d2)), 4)",
)


@register("grid_idw_pow4", _IDW4_ORACLE)
def q_grid_idw_pow4(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.knn import knn_join, knn_targets

    pc = _grid_points(spark)
    kn = knn_join(pc, knn_targets(spark), k=_IDW_K)
    kn = kn.withColumn("tval", F.expr(_TVAL_SQL))
    d4 = F.col("d2") * F.col("d2")
    return kn.groupBy("gx", "gy").agg(
        F.round(F.sum(F.col("tval") / d4) / F.sum(F.lit(1.0) / d4), 4).alias("idw")
    )


# --------------------------------------------------------------------------
# Grid interpolation modes beyond invdistnn (alg/gdalgrid.cpp):
#   * nearest (GDALGridNearestNeighbor, :1038) — k=1 of knn_join;
#   * moving average (GDALGridMovingAverage, :644) — all targets within
#     radius; emitted as (count, integer sum) so no float division rides
#     the hash (sum of ints is order-independent-exact in doubles).
# --------------------------------------------------------------------------
_GRID_NEAREST_ORACLE = f"""
WITH px AS (
  SELECT (i % {_GRID_W}) AS gx,
         CAST(((i - (i % {_GRID_W})) / {_GRID_W}) AS BIGINT) AS gy
  FROM range(0, {_GRID_W * _GRID_H}) t(i)
),
pc AS (SELECT gx, gy, {_GLON_SQL} AS lon, {_GLAT_SQL} AS lat FROM px),
t AS (SELECT target_id, tlon, tlat, {_TVAL_SQL} AS tval
      FROM ({duckdb_targets_cte()}) raw),
d AS (
  SELECT pc.gx, pc.gy, t.target_id, t.tval,
         (pc.lon - t.tlon) * (pc.lon - t.tlon)
       + (pc.lat - t.tlat) * (pc.lat - t.tlat) AS d2
  FROM pc, t
),
r AS (
  SELECT gx, gy, tval,
         row_number() OVER (PARTITION BY gx, gy ORDER BY d2, target_id) AS rnk
  FROM d
)
SELECT gx, gy, CAST(tval AS BIGINT) AS nearest_val FROM r WHERE rnk = 1
"""


@register("grid_nearest", _GRID_NEAREST_ORACLE)
def q_grid_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.knn import knn_join, knn_targets

    pc = _grid_points(spark)
    kn = knn_join(pc, knn_targets(spark), k=1)
    return kn.select(
        "gx", "gy", F.expr(_TVAL_SQL).cast("long").alias("nearest_val")
    )


_GRID_AVG_RADIUS2 = "1.0e2"  # 10-degree radius, squared

_GRID_AVG_ORACLE = f"""
WITH px AS (
  SELECT (i % {_GRID_W}) AS gx,
         CAST(((i - (i % {_GRID_W})) / {_GRID_W}) AS BIGINT) AS gy
  FROM range(0, {_GRID_W * _GRID_H}) t(i)
),
pc AS (SELECT gx, gy, {_GLON_SQL} AS lon, {_GLAT_SQL} AS lat FROM px),
t AS (SELECT target_id, tlon, tlat, {_TVAL_SQL} AS tval
      FROM ({duckdb_targets_cte()}) raw)
SELECT pc.gx, pc.gy, count(*) AS n_pts,
       CAST(sum(CAST(t.tval AS BIGINT)) AS BIGINT) AS sum_val
FROM pc JOIN t
  ON (pc.lon - t.tlon) * (pc.lon - t.tlon)
   + (pc.lat - t.tlat) * (pc.lat - t.tlat) < {_GRID_AVG_RADIUS2}
GROUP BY pc.gx, pc.gy
"""


@register("grid_average", _GRID_AVG_ORACLE)
def q_grid_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-average grid: targets within the radius meet cells through
    the SAME broadcast target STR tree the kNN uses (no cross join at
    scale): one box query per cell, then the exact d2 test."""
    from gdal_spark.operators.knn import knn_targets, radius_join

    pc = _grid_points(spark)
    j = radius_join(pc, knn_targets(spark), radius2_sql=_GRID_AVG_RADIUS2)
    return j.groupBy("gx", "gy").agg(
        F.count("*").alias("n_pts"),
        F.sum(F.expr(_TVAL_SQL).cast("long")).alias("sum_val"),
    )


_GRID_METRICS_ORACLE = f"""
WITH px AS (
  SELECT (i % {_GRID_W}) AS gx,
         CAST(((i - (i % {_GRID_W})) / {_GRID_W}) AS BIGINT) AS gy
  FROM range(0, {_GRID_W * _GRID_H}) t(i)
),
pc AS (SELECT gx, gy, {_GLON_SQL} AS lon, {_GLAT_SQL} AS lat FROM px),
t AS (SELECT target_id, tlon, tlat, {_TVAL_SQL} AS tval
      FROM ({duckdb_targets_cte()}) raw)
SELECT pc.gx, pc.gy, count(*) AS n_pts,
       CAST(min(t.tval) AS BIGINT) AS vmin,
       CAST(max(t.tval) AS BIGINT) AS vmax,
       CAST(max(t.tval) - min(t.tval) AS BIGINT) AS vrange
FROM pc JOIN t
  ON (pc.lon - t.tlon) * (pc.lon - t.tlon)
   + (pc.lat - t.tlat) * (pc.lat - t.tlat) < {_GRID_AVG_RADIUS2}
GROUP BY pc.gx, pc.gy
"""


@register("grid_metrics", _GRID_METRICS_ORACLE)
def q_grid_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalgrid data-metrics modes (GDALGridDataMetric* —
    alg/gdalgrid.cpp:2780-3160): count / minimum / maximum / range of
    the targets inside the search radius, per grid cell."""
    from gdal_spark.operators.knn import knn_targets, radius_join

    pc = _grid_points(spark)
    j = radius_join(pc, knn_targets(spark), radius2_sql=_GRID_AVG_RADIUS2)
    tv = F.expr(_TVAL_SQL).cast("long")
    return j.groupBy("gx", "gy").agg(
        F.count("*").alias("n_pts"),
        F.min(tv).alias("vmin"),
        F.max(tv).alias("vmax"),
        (F.max(tv) - F.min(tv)).alias("vrange"),
    )


# --------------------------------------------------------------------------
# gdalgrid average-distance data metrics (GDALGridDataMetricAverageDistance
# alg/gdalgrid.cpp:2014 — node->point mean — and ...AverageDistancePts
# :2283 — unordered pairwise mean within the search circle).  Sums are
# reported in micro units (round(sum * 1e6)) so double summation-order
# noise (~1e-13 abs) cannot flip the hash; per-distance bits are exact
# (same sqrt/d2 formula text both engines).
# --------------------------------------------------------------------------
_GRID_ADIST_ORACLE = f"""
WITH px AS (
  SELECT (i % {_GRID_W}) AS gx,
         CAST(((i - (i % {_GRID_W})) / {_GRID_W}) AS BIGINT) AS gy
  FROM range(0, {_GRID_W * _GRID_H}) t(i)
),
pc AS (SELECT gx, gy, {_GLON_SQL} AS lon, {_GLAT_SQL} AS lat FROM px),
t AS (SELECT target_id, tlon, tlat FROM ({duckdb_targets_cte()}) raw),
j AS (
  SELECT pc.gx, pc.gy, t.target_id, t.tlon, t.tlat,
         sqrt((pc.lon - t.tlon) * (pc.lon - t.tlon)
            + (pc.lat - t.tlat) * (pc.lat - t.tlat)) AS r
  FROM pc JOIN t
    ON (pc.lon - t.tlon) * (pc.lon - t.tlon)
     + (pc.lat - t.tlat) * (pc.lat - t.tlat) < {_GRID_AVG_RADIUS2}
),
node AS (
  SELECT gx, gy, CAST(count(*) AS BIGINT) AS n_pts,
         CAST(round(sum(r) * 1.0e6) AS BIGINT) AS micro_rsum
  FROM j GROUP BY gx, gy
),
pairs AS (
  SELECT a.gx, a.gy, CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(round(sum(sqrt((a.tlon - b.tlon) * (a.tlon - b.tlon)
                           + (a.tlat - b.tlat) * (a.tlat - b.tlat))) * 1.0e6)
              AS BIGINT) AS micro_psum
  FROM j a JOIN j b
    ON a.gx = b.gx AND a.gy = b.gy AND a.target_id < b.target_id
  GROUP BY a.gx, a.gy
)
SELECT node.gx, node.gy, node.n_pts, node.micro_rsum,
       COALESCE(pairs.n_pairs, 0) AS n_pairs,
       COALESCE(pairs.micro_psum, 0) AS micro_psum
FROM node LEFT JOIN pairs ON node.gx = pairs.gx AND node.gy = pairs.gy
"""


@register("grid_avg_dist", _GRID_ADIST_ORACLE)
def q_grid_avg_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalgrid avg-distance metrics: node->point mean distance and
    pairwise mean distance among points in the search circle."""
    from gdal_spark.operators.knn import knn_targets, radius_join

    pc = _grid_points(spark)
    t = knn_targets(spark)
    j = (
        radius_join(pc, t, radius2_sql=_GRID_AVG_RADIUS2)
        .join(F.broadcast(t), "target_id")
        .select("gx", "gy", "target_id", "tlon", "tlat", F.expr("sqrt(d2)").alias("r"))
        .persist()
    )
    node = j.groupBy("gx", "gy").agg(
        F.count("*").cast("long").alias("n_pts"),
        F.expr("CAST(round(sum(r) * 1.0e6) AS BIGINT)").alias("micro_rsum"),
    )
    a = j.select(
        "gx", "gy", F.col("target_id").alias("tid_a"),
        F.col("tlon").alias("alon"), F.col("tlat").alias("alat"),
    )
    b = j.select(
        "gx", "gy", F.col("target_id").alias("tid_b"),
        F.col("tlon").alias("blon"), F.col("tlat").alias("blat"),
    )
    pairs = (
        a.join(b, ["gx", "gy"])
        .filter(F.col("tid_a") < F.col("tid_b"))
        .groupBy("gx", "gy")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.expr(
                "CAST(round(sum(sqrt((alon - blon) * (alon - blon)"
                " + (alat - blat) * (alat - blat))) * 1.0e6) AS BIGINT)"
            ).alias("micro_psum"),
        )
    )
    return node.join(pairs, ["gx", "gy"], "left").select(
        "gx", "gy", "n_pts", "micro_rsum",
        F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
        F.coalesce("micro_psum", F.lit(0)).cast("long").alias("micro_psum"),
    )


# --------------------------------------------------------------------------
# gdalgrid invdistnn FULL surface (GDALGridInverseDistanceToAPower
# NearestNeighbor, alg/gdalgrid.cpp:241-334; CLI
# apps/gdalalg_vector_grid_invdistnn.cpp): radius-bounded candidate set
# (INCLUSIVE d2 <= r², :295), smoothing folded into the weight
# (rsmoothed2 = d2 + s², :289), the nMaxPoints nearest by rsmoothed2
# (:309-326), nodata when n < nMinPoints (:330).  grid_idw covers the
# pure k-nearest core; this query adds the radius / smoothing /
# min-points / nodata semantics.  Power = 2, so w = 1/rsmoothed2
# (pow(x, 1) elided — no libm in either engine).  s² = 0.25 > 1e-13
# means the exact-hit shortcut (:291) is unreachable — documented.
# Weights are floor-quantized to BIGINT picounits PER TERM before the
# sum (the bm25/dsir order-proof rule); the grid-distance audit lives
# in tests/test_invdistnn.py.  Tie-break on equal rsmoothed2 is
# target_id (the reference multimap keeps quadtree scan order — the
# usual deterministic canonicalization divergence).
# --------------------------------------------------------------------------
_NN_R2 = "1.0e2"  # 10-degree search radius, squared
_NN_MAXP = 8
_NN_MINP = 3
_NN_WQ_SQL = "CAST(floor(1.0e12 / (d2 + 2.5e-1)) AS BIGINT)"
_NN_WZQ_SQL = "CAST(floor((1.0e12 * tval) / (d2 + 2.5e-1)) AS BIGINT)"
_NN_VALUE_SQL = (
    f"CASE WHEN n_used >= {_NN_MINP}"
    " THEN round(CAST(sum_wz AS DOUBLE) / CAST(sum_w AS DOUBLE), 6)"
    " ELSE -9.999e3 END"
)

_INVDISTNN_ORACLE = f"""
WITH px AS (
  SELECT (i % {_GRID_W}) AS gx,
         CAST(((i - (i % {_GRID_W})) / {_GRID_W}) AS BIGINT) AS gy
  FROM range(0, {_GRID_W * _GRID_H}) t(i)
),
pc AS (SELECT gx, gy, {_GLON_SQL} AS lon, {_GLAT_SQL} AS lat FROM px),
t AS (SELECT target_id, tlon, tlat, {_TVAL_SQL} AS tval
      FROM ({duckdb_targets_cte()}) raw),
d AS (
  SELECT pc.gx, pc.gy, t.target_id, t.tval,
         (pc.lon - t.tlon) * (pc.lon - t.tlon)
       + (pc.lat - t.tlat) * (pc.lat - t.tlat) AS d2
  FROM pc, t
),
r AS (
  SELECT gx, gy, target_id, tval, d2,
         row_number() OVER (PARTITION BY gx, gy ORDER BY d2, target_id) AS rnk
  FROM d WHERE d2 <= {_NN_R2}
),
agg AS (
  SELECT gx, gy, CAST(count(*) AS BIGINT) AS n_used,
         CAST(sum({_NN_WQ_SQL}) AS BIGINT) AS sum_w,
         CAST(sum({_NN_WZQ_SQL}) AS BIGINT) AS sum_wz
  FROM r WHERE rnk <= {_NN_MAXP} GROUP BY gx, gy
)
SELECT px.gx, px.gy,
       COALESCE(agg.n_used, 0) AS n_used,
       CASE WHEN agg.gx IS NULL THEN -9.999e3 ELSE {_NN_VALUE_SQL} END AS idw_nn
FROM px LEFT JOIN agg ON px.gx = agg.gx AND px.gy = agg.gy
"""


@register("grid_invdistnn", _INVDISTNN_ORACLE)
def q_grid_invdistnn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.knn import knn_targets, radius_join

    pc = _grid_points(spark)
    j = radius_join(
        pc, knn_targets(spark), radius2_sql=_NN_R2, inclusive=True
    ).withColumn("tval", F.expr(_TVAL_SQL))
    w = Window.partitionBy("gx", "gy").orderBy("d2", "target_id")
    sel = j.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= _NN_MAXP
    )
    agg = sel.groupBy("gx", "gy").agg(
        F.count("*").cast("long").alias("n_used"),
        F.expr(f"CAST(sum({_NN_WQ_SQL}) AS BIGINT)").alias("sum_w"),
        F.expr(f"CAST(sum({_NN_WZQ_SQL}) AS BIGINT)").alias("sum_wz"),
    )
    joined = pc.select("gx", "gy").join(agg, ["gx", "gy"], "left")
    return joined.select(
        "gx", "gy",
        F.coalesce("n_used", F.lit(0)).cast("long").alias("n_used"),
        F.expr(
            f"CASE WHEN n_used IS NULL THEN -9.999e3 ELSE {_NN_VALUE_SQL} END"
        ).alias("idw_nn"),
    )


# --------------------------------------------------------------------------
# gdalgrid invdistnn PER-QUADRANT variant (GDALGridInverseDistanceToA
# PowerNearestNeighborPerQuadrant, alg/gdalgrid.cpp:350-480): candidates
# bucket into quadrants around the node (iQuadrant = (dfRX>=0) |
# (dfRY>=0)<<1, :405), then the selection loop ROUND-ROBINS across
# quadrants — nearest of q0, nearest of q1, q2, q3, then second-nearest
# of q0, ... (:433-460) — NOT global distance order, so the kept set
# under nMaxPoints genuinely differs from the plain variant (pinned in
# tests/test_invdistnn.py).  That loop order is exactly the sort
# (per-quadrant rank, quadrant): exhausted quadrants simply stop
# appearing at higher ranks, which is what the iterator-finished flag
# does.  nMaxPointsPerQuadrant caps the per-quadrant rank (:437-439);
# nodata when any quadrant contributed < nMinPointsPerQuadrant
# (:464-472).
# --------------------------------------------------------------------------
_NNQ_MAXPQ = 2
_NNQ_MAXP = 6
_NNQ_QUAD_SQL = (
    "CAST((CASE WHEN tlon >= lon THEN 1 ELSE 0 END)"
    " + (CASE WHEN tlat >= lat THEN 2 ELSE 0 END) AS BIGINT)"
)
_NNQ_VALUE_SQL = (
    "CASE WHEN n_quads >= 4"
    " THEN round(CAST(sum_wz AS DOUBLE) / CAST(sum_w AS DOUBLE), 6)"
    " ELSE -9.999e3 END"
)

_INVDISTNN_Q_ORACLE = f"""
WITH px AS (
  SELECT (i % {_GRID_W}) AS gx,
         CAST(((i - (i % {_GRID_W})) / {_GRID_W}) AS BIGINT) AS gy
  FROM range(0, {_GRID_W * _GRID_H}) t(i)
),
pc AS (SELECT gx, gy, {_GLON_SQL} AS lon, {_GLAT_SQL} AS lat FROM px),
t AS (SELECT target_id, tlon, tlat, {_TVAL_SQL} AS tval
      FROM ({duckdb_targets_cte()}) raw),
d AS (
  SELECT pc.gx, pc.gy, t.target_id, t.tval, {_NNQ_QUAD_SQL} AS quad,
         (pc.lon - t.tlon) * (pc.lon - t.tlon)
       + (pc.lat - t.tlat) * (pc.lat - t.tlat) AS d2
  FROM pc, t
),
rq AS (
  SELECT gx, gy, target_id, tval, quad, d2,
         row_number() OVER (
           PARTITION BY gx, gy, quad ORDER BY d2, target_id) AS qrnk
  FROM d WHERE d2 <= {_NN_R2}
),
rr AS (
  SELECT gx, gy, target_id, tval, quad, d2, qrnk,
         row_number() OVER (PARTITION BY gx, gy ORDER BY qrnk, quad) AS pick
  FROM rq WHERE qrnk <= {_NNQ_MAXPQ}
),
agg AS (
  SELECT gx, gy, CAST(count(*) AS BIGINT) AS n_used,
         CAST(count(DISTINCT quad) AS BIGINT) AS n_quads,
         CAST(sum({_NN_WQ_SQL}) AS BIGINT) AS sum_w,
         CAST(sum({_NN_WZQ_SQL}) AS BIGINT) AS sum_wz
  FROM rr WHERE pick <= {_NNQ_MAXP} GROUP BY gx, gy
)
SELECT px.gx, px.gy,
       COALESCE(agg.n_used, 0) AS n_used,
       COALESCE(agg.n_quads, 0) AS n_quads,
       CASE WHEN agg.gx IS NULL THEN -9.999e3 ELSE {_NNQ_VALUE_SQL} END
         AS idw_nnq
FROM px LEFT JOIN agg ON px.gx = agg.gx AND px.gy = agg.gy
"""


@register("grid_invdistnn_quadrant", _INVDISTNN_Q_ORACLE)
def q_grid_invdistnn_quadrant(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.knn import knn_targets, radius_join

    pc = _grid_points(spark)
    t = knn_targets(spark)
    j = (
        radius_join(pc, t, radius2_sql=_NN_R2, inclusive=True)
        .join(F.broadcast(t), "target_id")
        .withColumn("tval", F.expr(_TVAL_SQL))
        .withColumn("quad", F.expr(_NNQ_QUAD_SQL))
    )
    wq = Window.partitionBy("gx", "gy", "quad").orderBy("d2", "target_id")
    wr = Window.partitionBy("gx", "gy").orderBy("qrnk", "quad")
    sel = (
        j.withColumn("qrnk", F.row_number().over(wq))
        .filter(F.col("qrnk") <= _NNQ_MAXPQ)
        .withColumn("pick", F.row_number().over(wr))
        .filter(F.col("pick") <= _NNQ_MAXP)
    )
    agg = sel.groupBy("gx", "gy").agg(
        F.count("*").cast("long").alias("n_used"),
        F.countDistinct("quad").cast("long").alias("n_quads"),
        F.expr(f"CAST(sum({_NN_WQ_SQL}) AS BIGINT)").alias("sum_w"),
        F.expr(f"CAST(sum({_NN_WZQ_SQL}) AS BIGINT)").alias("sum_wz"),
    )
    joined = pc.select("gx", "gy").join(agg, ["gx", "gy"], "left")
    return joined.select(
        "gx", "gy",
        F.coalesce("n_used", F.lit(0)).cast("long").alias("n_used"),
        F.coalesce("n_quads", F.lit(0)).cast("long").alias("n_quads"),
        F.expr(
            f"CASE WHEN n_used IS NULL THEN -9.999e3 ELSE {_NNQ_VALUE_SQL} END"
        ).alias("idw_nnq"),
    )


# --------------------------------------------------------------------------
# Linear (Delaunay) grid interpolation — GDALGridLinear
# (alg/gdalgrid.cpp GGA_Linear; triangulation alg/delaunay.c).  The
# engine triangulates the scattered target set with the pure-numpy
# Bowyer-Watson kernel and barycentric-interpolates map-side
# (operators/gridding.py).  Oracle: a JITTERED-GRID fixture whose
# Delaunay is closed-form — every cell keeps its four grid edges and
# one diagonal, chosen by the incircle determinant (jitter 0.32 of a
# 4.0 spacing cannot flip edges across cells) — so plain SQL can emit
# the exact triangle set; barycentric formula text is shared, outputs
# floor(v*1e6) bit-identical.
# --------------------------------------------------------------------------
_GL_TX = "(tgx * 4 + (((tgx * 7 + tgy * 13) % 9) - 4) * 8.0e-2)"
_GL_TY = "(tgy * 4 + (((tgx * 11 + tgy * 5) % 9) - 4) * 8.0e-2)"
_GL_TZ = "CAST((tgx * 31 + tgy * 17) % 50 AS DOUBLE)"
_GL_NX = "(i * 5.0e-1 + 2.5005e-1)"
_GL_NY = "(j * 5.0e-1 + 2.5005e-1)"


def _gl_icdet() -> str:
    """Incircle determinant: p01 vs circumcircle of CCW (p00,p10,p11)."""
    adx, ady = "(x00 - x01)", "(y00 - y01)"
    bdx, bdy = "(x10 - x01)", "(y10 - y01)"
    cdx, cdy = "(x11 - x01)", "(y11 - y01)"
    ad2 = f"(({adx} * {adx}) + ({ady} * {ady}))"
    bd2 = f"(({bdx} * {bdx}) + ({bdy} * {bdy}))"
    cd2 = f"(({cdx} * {cdx}) + ({cdy} * {cdy}))"
    return (
        f"((({adx} * (({bdy} * {cd2}) - ({cdy} * {bd2})))"
        f" - ({ady} * (({bdx} * {cd2}) - ({cdx} * {bd2}))))"
        f" + ({ad2} * (({bdx} * {cdy}) - ({cdx} * {bdy}))))"
    )


_GL_D = "(((t.y2 - t.y3) * (t.x1 - t.x3)) + ((t.x3 - t.x2) * (t.y1 - t.y3)))"
_GL_L1 = f"((((t.y2 - t.y3) * (nd.x - t.x3)) + ((t.x3 - t.x2) * (nd.y - t.y3))) / {_GL_D})"
_GL_L2 = f"((((t.y3 - t.y1) * (nd.x - t.x3)) + ((t.x1 - t.x3) * (nd.y - t.y3))) / {_GL_D})"

_GRID_LINEAR_ORACLE = f"""
WITH pt AS (
  SELECT tgx, tgy, {_GL_TX} AS x, {_GL_TY} AS y, {_GL_TZ} AS z
  FROM (SELECT a.i AS tgx, b.j AS tgy FROM range(0, 20) a(i), range(0, 20) b(j))
),
q AS (
  SELECT p00.x AS x00, p00.y AS y00, p00.z AS z00,
         p10.x AS x10, p10.y AS y10, p10.z AS z10,
         p01.x AS x01, p01.y AS y01, p01.z AS z01,
         p11.x AS x11, p11.y AS y11, p11.z AS z11
  FROM (SELECT a.i AS cx, b.j AS cy FROM range(0, 19) a(i), range(0, 19) b(j)) c
  JOIN pt p00 ON p00.tgx = c.cx AND p00.tgy = c.cy
  JOIN pt p10 ON p10.tgx = c.cx + 1 AND p10.tgy = c.cy
  JOIN pt p01 ON p01.tgx = c.cx AND p01.tgy = c.cy + 1
  JOIN pt p11 ON p11.tgx = c.cx + 1 AND p11.tgy = c.cy + 1
),
ic AS (SELECT *, {_gl_icdet()} AS icdet FROM q),
tri AS (
  SELECT x00 AS x1, y00 AS y1, z00 AS z1, x10 AS x2, y10 AS y2, z10 AS z2,
         x11 AS x3, y11 AS y3, z11 AS z3 FROM ic WHERE icdet <= 0.0e0
  UNION ALL
  SELECT x00, y00, z00, x01, y01, z01, x11, y11, z11 FROM ic WHERE icdet <= 0.0e0
  UNION ALL
  SELECT x00, y00, z00, x01, y01, z01, x10, y10, z10 FROM ic WHERE icdet > 0.0e0
  UNION ALL
  SELECT x01, y01, z01, x10, y10, z10, x11, y11, z11 FROM ic WHERE icdet > 0.0e0
),
tr2 AS (
  SELECT tri.*, least(x1, x2, x3) AS bxmin, greatest(x1, x2, x3) AS bxmax,
         least(y1, y2, y3) AS bymin, greatest(y1, y2, y3) AS bymax
  FROM tri
),
nd AS (
  -- i,j >= 1: the first node row/column (x or y = 0.25) can fall in a
  -- convex-hull cap triangle over a concave boundary dip (within the
  -- 0.32 jitter strip), which the per-cell closed form cannot express;
  -- every node at >= 0.75 is beyond jitter reach of the hull boundary
  SELECT a.i AS i, b.j AS j, {_GL_NX} AS x, {_GL_NY} AS y
  FROM range(1, 150) a(i), range(1, 150) b(j)
),
b0 AS (
  SELECT nd.i, nd.j, t.z1, t.z2, t.z3, {_GL_L1} AS l1, {_GL_L2} AS l2
  FROM nd JOIN tr2 t
    ON nd.x >= t.bxmin AND nd.x <= t.bxmax
   AND nd.y >= t.bymin AND nd.y <= t.bymax
),
b1 AS (SELECT i, j, z1, z2, z3, l1, l2, ((1.0e0 - l1) - l2) AS l3 FROM b0)
SELECT CAST(i AS int) AS i, CAST(j AS int) AS j,
       CAST(floor((((z1 * l1) + (z2 * l2)) + (z3 * l3)) * 1.0e6 + 1.0e-5)
            AS BIGINT) AS v6
FROM b1 WHERE l1 > 0.0e0 AND l2 > 0.0e0 AND l3 > 0.0e0
"""


# DelaunayTriangulation constructor (ogrgeometry.cpp:6706, GEOS
# delaunay) — the triangle SET of the jittered-grid multipoint,
# restricted to interior triangles (every vertex off the boundary
# ring): exactly the per-cell diagonal decomposition of the 17x17
# interior cells, enumerable in closed form.  Hull-cap triangles along
# the jittered boundary have at least one ring vertex and are excluded
# symmetrically on both sides.
_ST_DELAUNAY_ORACLE = f"""
WITH pt AS (
  SELECT tgx, tgy, {_GL_TX} AS x, {_GL_TY} AS y
  FROM (SELECT a.i AS tgx, b.j AS tgy FROM range(0, 20) a(i), range(0, 20) b(j))
),
q AS (
  SELECT c.cx, c.cy,
         p00.x AS x00, p00.y AS y00, p10.x AS x10, p10.y AS y10,
         p01.x AS x01, p01.y AS y01, p11.x AS x11, p11.y AS y11
  FROM (SELECT a.i AS cx, b.j AS cy FROM range(1, 18) a(i), range(1, 18) b(j)) c
  JOIN pt p00 ON p00.tgx = c.cx AND p00.tgy = c.cy
  JOIN pt p10 ON p10.tgx = c.cx + 1 AND p10.tgy = c.cy
  JOIN pt p01 ON p01.tgx = c.cx AND p01.tgy = c.cy + 1
  JOIN pt p11 ON p11.tgx = c.cx + 1 AND p11.tgy = c.cy + 1
),
ic AS (SELECT *, {_gl_icdet()} AS icdet FROM q)
SELECT CAST(cx * 20 + cy AS BIGINT) AS pa,
       CAST((cx + 1) * 20 + cy AS BIGINT) AS pb,
       CAST((cx + 1) * 20 + cy + 1 AS BIGINT) AS pc
FROM ic WHERE icdet <= 0.0e0
UNION ALL
SELECT CAST(cx * 20 + cy AS BIGINT), CAST(cx * 20 + cy + 1 AS BIGINT),
       CAST((cx + 1) * 20 + cy + 1 AS BIGINT)
FROM ic WHERE icdet <= 0.0e0
UNION ALL
SELECT CAST(cx * 20 + cy AS BIGINT), CAST(cx * 20 + cy + 1 AS BIGINT),
       CAST((cx + 1) * 20 + cy AS BIGINT)
FROM ic WHERE icdet > 0.0e0
UNION ALL
SELECT CAST(cx * 20 + cy + 1 AS BIGINT), CAST((cx + 1) * 20 + cy AS BIGINT),
       CAST((cx + 1) * 20 + cy + 1 AS BIGINT)
FROM ic WHERE icdet > 0.0e0
"""


@register("st_delaunay", _ST_DELAUNAY_ORACLE)
def q_st_delaunay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DelaunayTriangulation of the jittered-grid multipoint — interior
    triangle set as sorted pid triples (Bowyer-Watson kernel)."""
    import pandas as pd

    from gdal_spark.geometry.delaunay import delaunay

    targets = spark.range(400).select(
        (F.col("id") / 20).cast("long").alias("tgx"),
        (F.col("id") % 20).alias("tgy"),
    ).select(
        (F.col("tgx") * 20 + F.col("tgy")).alias("pid"),
        F.col("tgx"), F.col("tgy"),
        F.expr(_GL_TX).alias("x"),
        F.expr(_GL_TY).alias("y"),
    )
    tpd = targets.toPandas().sort_values("pid")
    tris = delaunay(
        tpd["x"].to_numpy("float64"), tpd["y"].to_numpy("float64")
    )
    tgx = tpd["tgx"].to_numpy("int64")[tris]
    tgy = tpd["tgy"].to_numpy("int64")[tris]
    interior = (
        (tgx >= 1).all(axis=1) & (tgx <= 18).all(axis=1)
        & (tgy >= 1).all(axis=1) & (tgy <= 18).all(axis=1)
    )
    out = pd.DataFrame(tris[interior], columns=["pa", "pb", "pc"]).astype("int64")
    return spark.createDataFrame(out)


# ConcaveHull constructor (ogrgeometry.cpp:4307, GEOS ConcaveHull) —
# chi-shape edge peeling over the Delaunay triangulation
# (geometry/concave.py).  Fixture: an L-SHAPED jittered grid (jitter
# +-0.16 of spacing 4) with threshold 6.7, chosen so kept edges (grid
# edges <= 4.33, cell diagonals <= 6.11) and peeled edges (2-span
# bridges >= 7.36) are separated — the peel provably stops exactly at
# the L outline, so the surviving triangle set is closed-form: the two
# per-cell triangles of every full L cell plus the single triangle of
# the 3-corner notch cell.
_CH_TX = "(tgx * 4 + (((tgx * 7 + tgy * 13) % 9) - 4) * 4.0e-2)"
_CH_TY = "(tgy * 4 + (((tgx * 11 + tgy * 5) % 9) - 4) * 4.0e-2)"
_CH_TRI_AREA6 = (
    "CAST(round(abs((x2 - x1) * (y3 - y1) - (x3 - x1) * (y2 - y1))"
    " / 2.0e0 * 1.0e6) AS BIGINT)"
)

_ST_CONCAVE_ORACLE = f"""
WITH pt AS (
  SELECT tgx, tgy, {_CH_TX} AS x, {_CH_TY} AS y
  FROM (SELECT a.i AS tgx, b.j AS tgy FROM range(0, 20) a(i), range(0, 20) b(j))
  WHERE NOT (tgx >= 11 AND tgy >= 11)
),
q AS (
  SELECT c.cx, c.cy,
         p00.x AS x00, p00.y AS y00, p10.x AS x10, p10.y AS y10,
         p01.x AS x01, p01.y AS y01, p11.x AS x11, p11.y AS y11
  FROM (SELECT a.i AS cx, b.j AS cy FROM range(0, 19) a(i), range(0, 19) b(j)) c
  JOIN pt p00 ON p00.tgx = c.cx AND p00.tgy = c.cy
  JOIN pt p10 ON p10.tgx = c.cx + 1 AND p10.tgy = c.cy
  JOIN pt p01 ON p01.tgx = c.cx AND p01.tgy = c.cy + 1
  JOIN pt p11 ON p11.tgx = c.cx + 1 AND p11.tgy = c.cy + 1
),
ic AS (SELECT *, {_gl_icdet()} AS icdet FROM q),
tri AS (
  SELECT x00 AS x1, y00 AS y1, x10 AS x2, y10 AS y2, x11 AS x3, y11 AS y3
  FROM ic WHERE icdet <= 0.0e0
  UNION ALL
  SELECT x00, y00, x01, y01, x11, y11 FROM ic WHERE icdet <= 0.0e0
  UNION ALL
  SELECT x00, y00, x01, y01, x10, y10 FROM ic WHERE icdet > 0.0e0
  UNION ALL
  SELECT x01, y01, x10, y10, x11, y11 FROM ic WHERE icdet > 0.0e0
  UNION ALL
  SELECT p00.x, p00.y, p01.x, p01.y, p10.x, p10.y
  FROM pt p00
  JOIN pt p10 ON p10.tgx = 11 AND p10.tgy = 10
  JOIN pt p01 ON p01.tgx = 10 AND p01.tgy = 11
  WHERE p00.tgx = 10 AND p00.tgy = 10
)
SELECT CAST(count(*) AS BIGINT) AS n_tris,
       CAST(sum({_CH_TRI_AREA6}) AS BIGINT) AS area6
FROM tri
"""


@register("st_concavehull", _ST_CONCAVE_ORACLE)
def q_st_concavehull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ConcaveHull of the L-shaped multipoint: surviving triangle count
    + region area at edge threshold 6.7."""
    import numpy as np
    import pandas as pd

    from gdal_spark.geometry.concave import concave_hull_tris

    pts = spark.range(400).select(
        (F.col("id") / 20).cast("long").alias("tgx"),
        (F.col("id") % 20).alias("tgy"),
    ).filter(~((F.col("tgx") >= 11) & (F.col("tgy") >= 11))).select(
        F.col("tgx"), F.col("tgy"),
        F.expr(_CH_TX).alias("x"),
        F.expr(_CH_TY).alias("y"),
    )
    pdf = pts.toPandas().sort_values(["tgx", "tgy"]).reset_index(drop=True)
    px = pdf["x"].to_numpy("float64")
    py = pdf["y"].to_numpy("float64")
    tris = concave_hull_tris(px, py, 6.7)
    x1, y1 = px[tris[:, 0]], py[tris[:, 0]]
    x2, y2 = px[tris[:, 1]], py[tris[:, 1]]
    x3, y3 = px[tris[:, 2]], py[tris[:, 2]]
    area6 = np.round(
        np.abs((x2 - x1) * (y3 - y1) - (x3 - x1) * (y2 - y1)) / 2.0e0 * 1.0e6
    ).astype("int64")
    out = pd.DataFrame(
        {"n_tris": [np.int64(tris.shape[0])], "area6": [area6.sum()]}
    )
    return spark.createDataFrame(out)


@register("grid_linear", _GRID_LINEAR_ORACLE)
def q_grid_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDALGridLinear: Bowyer-Watson Delaunay of the target set +
    map-side barycentric interpolation of the output nodes."""
    from gdal_spark.operators.gridding import grid_linear

    targets = spark.range(400).select(
        (F.col("id") / 20).cast("long").alias("tgx"),
        (F.col("id") % 20).alias("tgy"),
    ).select(
        (F.col("tgx") * 20 + F.col("tgy")).alias("pid"),
        F.expr(_GL_TX).alias("x"),
        F.expr(_GL_TY).alias("y"),
        F.expr(_GL_TZ).alias("z"),
    )
    nodes = (
        spark.range(150 * 150)
        .select(
            (F.col("id") % 150).cast("int").alias("i"),
            (F.col("id") / 150).cast("long").cast("int").alias("j"),
        )
        .filter((F.col("i") >= 1) & (F.col("j") >= 1))
        .select("i", "j", F.expr(_GL_NX).alias("x"), F.expr(_GL_NY).alias("y"))
    )
    return grid_linear(nodes, targets)


# --------------------------------------------------------------------------
# General overlays on the RICH method layer — concave L-shapes with holes
# that OVERLAP each other (zones.rich_zones).  The engine runs the general
# fan-triangle kernel + per-key coordinate-compressed unions; the oracle
# mirrors the geometry through its closed-form rect decomposition
# (A ∪ B minus hole H per zone, zones.duckdb_rich_parts_cte).
# Areas are reported in QUARTER-micro units (round(a * 4e6)): every true
# area is a multiple of 2.5e-7 deg², so the rounded value is an exact
# integer with ~4e-6 float slack — immune to summation-order noise.
# --------------------------------------------------------------------------
_RICH_PARTS_CTE = zones.duckdb_rich_parts_cte()
_AREA_EPS_SQL = "1.0e-9"

_PART_OVERLAP = (
    "d.xmin < p.pxmax AND p.pxmin < d.xmax AND d.ymin < p.pymax AND p.pymin < d.ymax"
)

_CLIP_GENERAL_ORACLE = f"""
WITH docs AS ({_POLYDOCS_CTE}), p AS ({_RICH_PARTS_CTE}),
t AS (
  SELECT d.doc_id, p.zone_id,
         sum(CASE WHEN p.kind = 'H' THEN -1.0e0 ELSE 1.0e0 END
             * greatest(0.0e0, least(d.xmax, p.pxmax) - greatest(d.xmin, p.pxmin))
             * greatest(0.0e0, least(d.ymax, p.pymax) - greatest(d.ymin, p.pymin))) AS a
  FROM docs d JOIN p ON {_PART_OVERLAP}
  GROUP BY d.doc_id, p.zone_id
)
SELECT doc_id, zone_id, CAST(round(a * 4.0e6) AS BIGINT) AS micro4_area
FROM t WHERE a > {_AREA_EPS_SQL}
"""


@register("clip_general", _CLIP_GENERAL_ORACLE)
def q_clip_general(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise intersection pieces against CONCAVE zones with HOLES that
    overlap each other — the general kernel (no convex/disjoint limits)."""
    from gdal_spark.operators.overlay import intersection_join

    pd_docs = corpus.load_polydocs(spark, sf_dir)
    rz = zones.rich_zones(spark)
    out = intersection_join(pd_docs, rz, emit_wkt=False)
    return out.select(
        "doc_id",
        "zone_id",
        F.round(F.col("piece_area") * 4.0e6).cast("long").alias("micro4_area"),
    )


# STR-tree twin of the general clip — the north-star "STR-tree per
# partition for TILE CLIPPING" (the role GEOS STRtree plays behind
# OGRLayer::Intersection/Clip): zero-shuffle mapInPandas, packed R-tree
# built once per executor over the broadcast method-layer envelopes,
# every bbox candidate resolved by the SAME classified-zone area
# kernels as intersection_join (rect IEEE min/max math + fan-triangle
# general path), same AREA_EPS drop — bit-identical to clip_general
# (same oracle; parity additionally pinned in tests/test_strtree_join.py).
# Scale trade vs the cell join: no zone-side cell fan-out and no join
# hashing (the pip_join_strtree finding — ~2x on dim-sized method
# layers), at the cost of the dim-layer broadcast contract.
@register("clip_strtree", _CLIP_GENERAL_ORACLE)
def q_clip_strtree(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.strtree_join import clip_join_strtree

    pd_docs = corpus.load_polydocs(spark, sf_dir)
    out = clip_join_strtree(pd_docs, zones.rich_zones(spark))
    return out.select(
        "doc_id",
        "zone_id",
        F.round(F.col("piece_area") * 4.0e6).cast("long").alias("micro4_area"),
    )


# per-doc coordinate compression: cells from all clipped part edges,
# covered cell = inside some zone's A/B part AND not inside that zone's
# hole — exact union of an OVERLAPPING method layer
_ERASE_UNION_CELLS = f"""
cand AS (
  SELECT d.doc_id, p.zone_id, p.kind,
         greatest(d.xmin, p.pxmin) AS cx0, greatest(d.ymin, p.pymin) AS cy0,
         least(d.xmax, p.pxmax) AS cx1, least(d.ymax, p.pymax) AS cy1
  FROM docs d JOIN p ON {_PART_OVERLAP}
),
xe AS (SELECT DISTINCT doc_id, cx0 AS x FROM cand UNION SELECT doc_id, cx1 FROM cand),
xs AS (SELECT doc_id, x, lead(x) OVER (PARTITION BY doc_id ORDER BY x) AS xn FROM xe),
ye AS (SELECT DISTINCT doc_id, cy0 AS y FROM cand UNION SELECT doc_id, cy1 FROM cand),
ys AS (SELECT doc_id, y, lead(y) OVER (PARTITION BY doc_id ORDER BY y) AS yn FROM ye),
cells AS (
  SELECT xs.doc_id, xs.x, xs.xn, ys.y, ys.yn
  FROM xs JOIN ys ON xs.doc_id = ys.doc_id
  WHERE xs.xn IS NOT NULL AND ys.yn IS NOT NULL
),
cov AS (
  SELECT c.doc_id, c.x, c.xn, c.y, c.yn, q.zone_id,
         max(CASE WHEN q.kind <> 'H' THEN 1 ELSE 0 END) AS inpart,
         max(CASE WHEN q.kind = 'H' THEN 1 ELSE 0 END) AS inhole
  FROM cells c JOIN cand q
    ON c.doc_id = q.doc_id
   AND (c.x + c.xn) / 2 > q.cx0 AND (c.x + c.xn) / 2 < q.cx1
   AND (c.y + c.yn) / 2 > q.cy0 AND (c.y + c.yn) / 2 < q.cy1
  GROUP BY c.doc_id, c.x, c.xn, c.y, c.yn, q.zone_id
),
covered AS (
  SELECT DISTINCT doc_id, x, xn, y, yn FROM cov WHERE inpart = 1 AND inhole = 0
),
cut AS (SELECT doc_id, sum((xn - x) * (yn - y)) AS c FROM covered GROUP BY doc_id)
"""

_ERASE_UNION_ORACLE = f"""
WITH docs AS ({_POLYDOCS_CTE}), p AS ({_RICH_PARTS_CTE}),
{_ERASE_UNION_CELLS}
SELECT d.doc_id,
       CAST(round(((d.xmax - d.xmin) * (d.ymax - d.ymin) - COALESCE(cut.c, 0.0e0)) * 4.0e6) AS BIGINT) AS micro4_area
FROM docs d LEFT JOIN cut ON d.doc_id = cut.doc_id
"""


@register("erase_union", _ERASE_UNION_ORACLE)
def q_erase_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erase (A − union B) against the OVERLAPPING rich layer: per-doc
    coordinate-compressed union — no disjoint-B assumption."""
    from gdal_spark.operators.overlay import erase_union_area

    pd_docs = corpus.load_polydocs(spark, sf_dir)
    rz = zones.rich_zones(spark)
    return erase_union_area(pd_docs, rz).select(
        "doc_id",
        F.round(F.col("erase_area") * 4.0e6).cast("long").alias("micro4_area"),
    )


# per-zone coverage for the B-side remainder: cells from the zone's doc
# pieces + its hole bounds; covered = in some doc piece and not in the
# hole; uncovered = closed-form cover area − covered
_ZONE_UNCOVERED_CELLS = f"""
zcand AS (
  SELECT p.zone_id, d.doc_id,
         greatest(d.xmin, p.pxmin) AS cx0, greatest(d.ymin, p.pymin) AS cy0,
         least(d.xmax, p.pxmax) AS cx1, least(d.ymax, p.pymax) AS cy1
  FROM docs d JOIN p ON {_PART_OVERLAP}
  WHERE p.kind <> 'H'
),
holes AS (
  SELECT zone_id, pxmin AS hx0, pymin AS hy0, pxmax AS hx1, pymax AS hy1
  FROM p WHERE kind = 'H'
),
zxe AS (
  SELECT DISTINCT zone_id, cx0 AS x FROM zcand
  UNION SELECT zone_id, cx1 FROM zcand
  UNION SELECT zone_id, hx0 FROM holes
  UNION SELECT zone_id, hx1 FROM holes
),
zxs AS (SELECT zone_id, x, lead(x) OVER (PARTITION BY zone_id ORDER BY x) AS xn FROM zxe),
zye AS (
  SELECT DISTINCT zone_id, cy0 AS y FROM zcand
  UNION SELECT zone_id, cy1 FROM zcand
  UNION SELECT zone_id, hy0 FROM holes
  UNION SELECT zone_id, hy1 FROM holes
),
zys AS (SELECT zone_id, y, lead(y) OVER (PARTITION BY zone_id ORDER BY y) AS yn FROM zye),
zcells AS (
  SELECT zxs.zone_id, zxs.x, zxs.xn, zys.y, zys.yn
  FROM zxs JOIN zys ON zxs.zone_id = zys.zone_id
  WHERE zxs.xn IS NOT NULL AND zys.yn IS NOT NULL
),
zcovered AS (
  SELECT DISTINCT c.zone_id, c.x, c.xn, c.y, c.yn
  FROM zcells c JOIN zcand q
    ON c.zone_id = q.zone_id
   AND (c.x + c.xn) / 2 > q.cx0 AND (c.x + c.xn) / 2 < q.cx1
   AND (c.y + c.yn) / 2 > q.cy0 AND (c.y + c.yn) / 2 < q.cy1
  WHERE NOT EXISTS (
     SELECT 1 FROM holes h WHERE h.zone_id = c.zone_id
       AND (c.x + c.xn) / 2 > h.hx0 AND (c.x + c.xn) / 2 < h.hx1
       AND (c.y + c.yn) / 2 > h.hy0 AND (c.y + c.yn) / 2 < h.hy1
  )
),
zcov AS (SELECT zone_id, sum((xn - x) * (yn - y)) AS c FROM zcovered GROUP BY zone_id),
zarea AS (
  SELECT zone_id,
         sum(CASE WHEN kind = 'H' THEN -1.0e0 ELSE 1.0e0 END
             * (pxmax - pxmin) * (pymax - pymin)) AS za
  FROM p GROUP BY zone_id
),
b_rem AS (
  SELECT za.zone_id, za.za - COALESCE(zcov.c, 0.0e0) AS a
  FROM zarea za LEFT JOIN zcov ON za.zone_id = zcov.zone_id
)
"""

_UNION_OVERLAY_ORACLE = f"""
WITH docs AS ({_POLYDOCS_CTE}), p AS ({_RICH_PARTS_CTE}),
{_ERASE_UNION_CELLS},
{_ZONE_UNCOVERED_CELLS},
ab AS (
  SELECT d.doc_id, p2.zone_id,
         sum(CASE WHEN p2.kind = 'H' THEN -1.0e0 ELSE 1.0e0 END
             * greatest(0.0e0, least(d.xmax, p2.pxmax) - greatest(d.xmin, p2.pxmin))
             * greatest(0.0e0, least(d.ymax, p2.pymax) - greatest(d.ymin, p2.pymin))) AS a
  FROM docs d JOIN p p2
    ON d.xmin < p2.pxmax AND p2.pxmin < d.xmax AND d.ymin < p2.pymax AND p2.pymin < d.ymax
  GROUP BY d.doc_id, p2.zone_id
),
a_rem AS (
  SELECT d.doc_id, (d.xmax - d.xmin) * (d.ymax - d.ymin) - COALESCE(cut.c, 0.0e0) AS a
  FROM docs d LEFT JOIN cut ON d.doc_id = cut.doc_id
)
SELECT doc_id, zone_id, CAST(round(a * 4.0e6) AS BIGINT) AS micro4_area
FROM (
  SELECT doc_id, zone_id, a FROM ab WHERE a > {_AREA_EPS_SQL}
  UNION ALL
  SELECT doc_id, CAST(NULL AS BIGINT) AS zone_id, a FROM a_rem WHERE a > {_AREA_EPS_SQL}
  UNION ALL
  SELECT CAST(NULL AS BIGINT) AS doc_id, zone_id, a FROM b_rem WHERE a > {_AREA_EPS_SQL}
) u
"""

_SYMDIFF_ORACLE = f"""
WITH docs AS ({_POLYDOCS_CTE}), p AS ({_RICH_PARTS_CTE}),
{_ERASE_UNION_CELLS},
{_ZONE_UNCOVERED_CELLS},
a_rem AS (
  SELECT d.doc_id, (d.xmax - d.xmin) * (d.ymax - d.ymin) - COALESCE(cut.c, 0.0e0) AS a
  FROM docs d LEFT JOIN cut ON d.doc_id = cut.doc_id
)
SELECT doc_id, zone_id, CAST(round(a * 4.0e6) AS BIGINT) AS micro4_area
FROM (
  SELECT doc_id, CAST(NULL AS BIGINT) AS zone_id, a FROM a_rem WHERE a > {_AREA_EPS_SQL}
  UNION ALL
  SELECT CAST(NULL AS BIGINT) AS doc_id, zone_id, a FROM b_rem WHERE a > {_AREA_EPS_SQL}
) u
"""


def _rich_overlay_parts(spark: SparkSession, sf_dir: str):
    from gdal_spark.operators.overlay import (
        AREA_EPS,
        erase_union_area,
        intersection_join,
        piece_rects,
        zone_uncovered_area,
    )

    pd_docs = corpus.load_polydocs(spark, sf_dir)
    rz = zones.rich_zones(spark)
    rects = piece_rects(pd_docs, rz).persist()
    micro4 = lambda c: F.round(F.col(c) * 4.0e6).cast("long")  # noqa: E731
    ab = intersection_join(pd_docs, rz, emit_wkt=False).select(
        "doc_id", "zone_id", micro4("piece_area").alias("micro4_area")
    )
    a_rem = (
        erase_union_area(pd_docs, rz, rects=rects)
        .filter(F.col("erase_area") > AREA_EPS)
        .select(
            "doc_id",
            F.lit(None).cast("long").alias("zone_id"),
            micro4("erase_area").alias("micro4_area"),
        )
    )
    b_rem = (
        zone_uncovered_area(rz, rects)
        .filter(F.col("uncovered_area") > AREA_EPS)
        .select(
            F.lit(None).cast("long").alias("doc_id"),
            "zone_id",
            micro4("uncovered_area").alias("micro4_area"),
        )
    )
    return ab, a_rem, b_rem


@register("union_overlay", _UNION_OVERLAY_ORACLE)
def q_union_overlay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union(A, B) on the overlapping rich layer: A∩B pieces ⊕
    A-remainders ⊕ B-remainders (ogrlayer.cpp:3763 semantics)."""
    ab, a_rem, b_rem = _rich_overlay_parts(spark, sf_dir)
    return ab.unionByName(a_rem).unionByName(b_rem)


@register("symdifference_overlay", _SYMDIFF_ORACLE)
def q_symdifference_overlay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SymDifference(A, B) on the overlapping rich layer (ogrlayer.cpp:4300)."""
    _, a_rem, b_rem = _rich_overlay_parts(spark, sf_dir)
    return a_rem.unionByName(b_rem)


# --------------------------------------------------------------------------
# ST_* function surface exercised as queries (the SQLite-dialect
# function family, ogrsqlitesqlfunctions.cpp:1188-1240 + the GEOS
# predicate/constructor methods ogrgeometry.cpp:1273,5663-5991,4188,6362)
# --------------------------------------------------------------------------
_ST_PRED_ORACLE = f"""
WITH docs AS ({_POLYDOCS_CTE}), z AS ({_CLIPZ_CTE})
SELECT d.doc_id, z.zone_id,
       (d.xmin > z.zxmin AND d.xmax < z.zxmax AND d.ymin > z.zymin AND d.ymax < z.zymax) AS z_contains_d,
       (d.xmin < z.zxmax AND z.zxmin < d.xmax AND d.ymin < z.zymax AND z.zymin < d.ymax) AS inter,
       ((d.xmin < z.zxmax AND z.zxmin < d.xmax AND d.ymin < z.zymax AND z.zymin < d.ymax)
        AND NOT (d.xmin > z.zxmin AND d.xmax < z.zxmax AND d.ymin > z.zymin AND d.ymax < z.zymax)
        AND NOT (z.zxmin > d.xmin AND z.zxmax < d.xmax AND z.zymin > d.ymin AND z.zymax < d.ymax)) AS overlaps_dz,
       FALSE AS touches_dz
FROM docs d JOIN z ON {_RECT_OVERLAP}
"""


@register("st_predicates", _ST_PRED_ORACLE)
def q_st_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometry predicate matrix over WKT columns: Contains / Intersects
    / Overlaps / Touches via the area+boundary kernels (the doc geometry
    is read out of its SPAN payload — span passthrough in action)."""
    from gdal_spark.functions import st_contains, st_intersects, st_overlaps, st_touches

    pd_docs = corpus.load_polydocs(spark, sf_dir)
    cz = zones.clip_zones(spark)
    pairs = pd_docs.join(
        F.broadcast(cz),
        (F.col("xmin") < F.col("zxmax"))
        & (F.col("zxmin") < F.col("xmax"))
        & (F.col("ymin") < F.col("zymax"))
        & (F.col("zymin") < F.col("ymax")),
    )
    doc_wkt = F.element_at("spans", 2)["text"]
    return pairs.select(
        "doc_id",
        "zone_id",
        st_contains(F.col("geom_wkt"), doc_wkt).alias("z_contains_d"),
        st_intersects(doc_wkt, F.col("geom_wkt")).alias("inter"),
        st_overlaps(doc_wkt, F.col("geom_wkt")).alias("overlaps_dz"),
        st_touches(doc_wkt, F.col("geom_wkt")).alias("touches_dz"),
    )


# --------------------------------------------------------------------------
# Coordinate transformation to UTM (the -t_srs path; reference defers to
# PROJ via OGRCoordinateTransformation, ogr/ogrct.cpp — here the Krüger
# series in geometry/tmerc.py, SAME formula text JVM-side and in DuckDB;
# whole-stage codegen, no Python). Per-row zone from longitude; output
# in decimetres so libm 1-ulp noise between engines can't flip a digit.
# --------------------------------------------------------------------------
from gdal_spark.geometry import tmerc  # noqa: E402

_UTM_ZONE = "(CAST(floor((lon + 1.8e2) / 6.0e0) AS BIGINT) + 1)"
_UTM_LON0 = f"(-1.83e2 + 6.0e0 * {_UTM_ZONE})"
_UTM_E = tmerc.sql_utm_easting("lat", "lon", lon0_sql=_UTM_LON0)
# south-hemisphere rows get the EPSG:327xx false northing (10^7 m)
_UTM_N = (
    f"({tmerc.sql_utm_northing('lat', 'lon', lon0_sql=_UTM_LON0)}"
    " + CASE WHEN lat < 0.0e0 THEN 1.0e7 ELSE 0.0e0 END)"
)

_UTM_ORACLE = f"""
WITH docs AS ({_DOCS_CTE})
SELECT doc_id, CAST({_UTM_ZONE} AS INT) AS zone, (lat < 0.0e0) AS south,
       CAST(floor({_UTM_E} * 1.0e1) AS BIGINT) AS e_dm,
       CAST(floor({_UTM_N} * 1.0e1) AS BIGINT) AS n_dm
FROM docs
"""


@register("utm_transform", _UTM_ORACLE)
def q_utm_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = corpus.load_docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.expr(_UTM_ZONE).cast("int").alias("zone"),
        (F.col("lat") < 0.0).alias("south"),
        F.expr(f"CAST(floor({_UTM_E} * 1.0e1) AS BIGINT)").alias("e_dm"),
        F.expr(f"CAST(floor({_UTM_N} * 1.0e1) AS BIGINT)").alias("n_dm"),
    )


# --------------------------------------------------------------------------
# Datum shift: WGS84 -> OSGB36 through the geocentric Helmert pipeline
# (geodetic->ECEF, 7-parameter position-vector, Bowring inverse on Airy
# 1830 — the PROJ pipeline ogrct.cpp delegates to, EPSG methods
# 9602/9606).  Three chained codegen projections, SAME stage text both
# engines; output quantized to nano-degrees.
# --------------------------------------------------------------------------
from gdal_spark.geometry import geocentric  # noqa: E402

_HELM_S1 = geocentric.sql_ecef_stage("lat", "lon")
_HELM_S2 = geocentric.sql_helmert_stage()
_HELM_S3 = geocentric.sql_geodetic_stage()
_HELM_OUT = [
    "CAST(floor(olat * 1.0e9) AS BIGINT) AS olat_ndeg",
    "CAST(floor(olon * 1.0e9) AS BIGINT) AS olon_ndeg",
]

_HELMERT_ORACLE = f"""
WITH docs AS ({_DOCS_CTE}),
s1 AS (SELECT doc_id, {", ".join(_HELM_S1)} FROM docs),
s2 AS (SELECT doc_id, {", ".join(_HELM_S2)} FROM s1),
s3 AS (SELECT doc_id, {", ".join(_HELM_S3)} FROM s2)
SELECT doc_id, {", ".join(_HELM_OUT)} FROM s3
"""


@register("helmert_transform", _HELMERT_ORACLE)
def q_helmert_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = corpus.load_docs(spark, sf_dir)
    s1 = docs.selectExpr("doc_id", *_HELM_S1)
    s2 = s1.selectExpr("doc_id", *_HELM_S2)
    s3 = s2.selectExpr("doc_id", *_HELM_S3)
    return s3.selectExpr("doc_id", *_HELM_OUT)


# --------------------------------------------------------------------------
# EPSG dispatch (geometry/epsg.py) — the OGRCoordinateTransformation
# surface (ogr/ogrct.cpp OGRCreateCoordinateTransformation +
# ogr_spatialref.h importFromEPSG): a parameter registry maps EPSG codes
# onto the ported kernels and composes source-inverse -> Helmert datum
# step -> target-forward as ONE (col, expr) stage chain, identical text
# both engines.  The query exercises seven dispatch pairs, including the
# datum-shifted 27700 -> 4326 (tmerc inverse on Airy 1830 + OSGB36 ->
# WGS84 Helmert) and the full projected -> projected composition
# 27700 -> 32630.  Inputs per pair are synthesized from doc lon/lat into
# each CRS's domain of validity (shared expression text).  Outputs
# floor-quantized: decimetres for projected targets, nano-degrees for
# geographic.
# --------------------------------------------------------------------------
from gdal_spark.geometry import epsg  # noqa: E402

_EPSG_PAIRS = [
    # (src, dst, x_expr (src x / lon), y_expr (src y / lat))
    (4326, 32631, "((lon + 1.8e2) / 6.0e1)", "(lat * 8.0e-1)"),
    (4326, 2154, "(lon / 3.0e1 + 2.0e0)", "(4.6e1 + lat / 1.8e1)"),
    (4326, 5070, "(-9.6e1 + lon / 6.0e0)", "(3.7e1 + lat / 6.0e0)"),
    (4326, 3413, "lon", "(7.0e1 + lat / 9.0e0)"),
    (4326, 3857, "lon", "(lat * 8.0e-1)"),
    (27700, 4326, "(4.0e5 + lon * 5.0e2)", "(4.0e5 + lat * 2.0e3)"),
    (27700, 32630, "(4.0e5 + lon * 5.0e2)", "(4.0e5 + lat * 2.0e3)"),
    # round-3b: projected sources for every remaining kind (the LCC /
    # Albers / polar fixed-iteration inverses unrolled to column chains)
    (2154, 4326, "(6.6e5 + lon * 1.2e3)", "(6.7e6 + lat * 2.0e3)"),
    (5070, 3857, "(lon * 8.0e3)", "(1.5e6 + lat * 8.0e3)"),
    (3413, 4326, "(3.7e4 + lon * 9.0e3)", "(-2.0e6 + lat * 9.0e3)"),
    # round-5 registry broadening: ETRS89 pan-European set (LAEA — the
    # new kernel family — both directions, LCC Europe, Austria Lambert),
    # the NAD83 state-plane sampler (LCC NY-LI / MD, TM Rhode Island,
    # UTM 18N on NAD83), and a web-mercator alias code
    (4326, 3035, "(1.0e1 + lon / 9.0e0)", "(5.2e1 + lat / 8.5e0)"),
    (3035, 4326, "(4.32e6 + lon * 4.0e3)", "(3.2e6 + lat * 4.0e3)"),
    (4326, 3034, "(1.0e1 + lon / 9.0e0)", "(5.2e1 + lat / 8.5e0)"),
    (4326, 3416, "(1.3e1 + lon / 6.0e1)", "(4.75e1 + lat / 9.0e1)"),
    (4326, 32118, "(-7.4e1 + lon / 1.8e2)", "(4.07e1 + lat / 1.8e2)"),
    (4326, 26985, "(-7.7e1 + lon / 1.8e2)", "(3.88e1 + lat / 1.8e2)"),
    (4326, 32130, "(-7.15e1 + lon / 1.8e2)", "(4.15e1 + lat / 1.8e2)"),
    (4326, 26918, "(-7.5e1 + lon / 6.0e1)", "(4.0e1 + lat / 1.7e1)"),
    (3785, 4326, "(lon * 1.0e5)", "(lat * 1.0e5)"),
]


def _epsg_pair_stages(src: int, dst: int, xe: str, ye: str) -> list[tuple[str, str]]:
    st = [("x", xe), ("y", ye)]
    st += epsg.sql_transform_stages(src, dst)
    q = "1.0e9" if epsg.lookup(dst).kind == "geographic" else "1.0e1"
    st += [
        ("ox_q", f"CAST(floor(ox * {q}) AS BIGINT)"),
        ("oy_q", f"CAST(floor(oy * {q}) AS BIGINT)"),
    ]
    return st


def _epsg_oracle() -> str:
    parts = []
    for src, dst, xe, ye in _EPSG_PAIRS:
        sql = "SELECT doc_id, lon, lat FROM docs"
        for col, expr in _epsg_pair_stages(src, dst, xe, ye):
            sql = f"SELECT *, {expr} AS {col} FROM ({sql})"
        parts.append(
            f"SELECT CAST({src} AS INT) AS src_epsg, CAST({dst} AS INT) AS dst_epsg,"
            f" doc_id, ox_q, oy_q FROM ({sql})"
        )
    return f"WITH docs AS ({_DOCS_CTE})\n" + "\nUNION ALL\n".join(parts)


@register("epsg_transform", _epsg_oracle())
def q_epsg_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    docs = corpus.load_docs(spark, sf_dir).select("doc_id", "lon", "lat")
    parts = []
    for src, dst, xe, ye in _EPSG_PAIRS:
        df = docs
        for col, expr in _epsg_pair_stages(src, dst, xe, ye):
            df = df.selectExpr("*", f"{expr} AS {col}")
        parts.append(
            df.selectExpr(
                f"CAST({src} AS INT) AS src_epsg",
                f"CAST({dst} AS INT) AS dst_epsg",
                "doc_id",
                "ox_q",
                "oy_q",
            )
        )
    return reduce(DataFrame.unionAll, parts)


_WKB_ENV_ORACLE = f"""
SELECT {zones.RICH_ID_SQL} AS zone_id,
       CAST(round({zones.RBX_SQL} * 1.0e4) AS BIGINT) AS exmin4,
       CAST(round({zones.RBY_SQL} * 1.0e4) AS BIGINT) AS eymin4,
       CAST(round(({zones.RBX_SQL} + {zones.RW1_SQL}) * 1.0e4) AS BIGINT) AS exmax4,
       CAST(round(({zones.RBY_SQL} + {zones.RH1_SQL} + {zones.RHA_SQL}) * 1.0e4) AS BIGINT) AS eymax4
FROM range(0, {zones.NRICH}) t(i)
"""


# WKB pessimistic-intersects prefilter (ogr_wkb.cpp:687,796): sure-
# ACCEPT straight off the WKB bytes — True iff an exterior-ring vertex
# falls in the filter envelope (inclusive).  For rect polydocs the
# exterior vertices are the 4 corners, so the oracle enumerates them.
_WKB_PESS_ORACLE = f"""
WITH d AS ({{polydocs}}), z AS ({{zones}})
SELECT d.doc_id, z.zone_id
FROM d JOIN z
  ON (d.xmin >= z.zxmin AND d.xmin <= z.zxmax AND d.ymin >= z.zymin AND d.ymin <= z.zymax)
  OR (d.xmax >= z.zxmin AND d.xmax <= z.zxmax AND d.ymin >= z.zymin AND d.ymin <= z.zymax)
  OR (d.xmax >= z.zxmin AND d.xmax <= z.zxmax AND d.ymax >= z.zymin AND d.ymax <= z.zymax)
  OR (d.xmin >= z.zxmin AND d.xmin <= z.zxmax AND d.ymax >= z.zymin AND d.ymax <= z.zymax)
""".format(polydocs=corpus.duckdb_polydocs_cte(), zones=zones.duckdb_zones_cte())


@register("wkb_pessimistic_scan", _WKB_PESS_ORACLE)
def q_wkb_pessimistic_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WKB sure-accept pairs: polydocs serialized to WKB, prefilter run
    on the raw bytes per zone envelope (no geometry objects built)."""
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    from gdal_spark.geometry.wkb import (
        wkb_intersects_pessimistic,
        wkt_payload_to_wkb,
    )

    zpd = (
        zones.rect_zones(spark)
        .select("zone_id", "zxmin", "zymin", "zxmax", "zymax")
        .toPandas()
    )
    pd_docs = corpus.load_polydocs(spark, sf_dir)
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("zone_id", LongType())]
    )

    def kernel(batches):
        import numpy as np

        zid = zpd["zone_id"].to_numpy(np.int64)
        zx0 = zpd["zxmin"].to_numpy(np.float64)
        zy0 = zpd["zymin"].to_numpy(np.float64)
        zx1 = zpd["zxmax"].to_numpy(np.float64)
        zy1 = zpd["zymax"].to_numpy(np.float64)
        for pdf in batches:
            rows = []
            for did, x0, y0, x1, y1 in zip(
                pdf["doc_id"], pdf["xmin"], pdf["ymin"], pdf["xmax"], pdf["ymax"]
            ):
                ring = [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]
                buf = wkt_payload_to_wkb("POLYGON", [ring])
                for j in range(zid.size):
                    if wkb_intersects_pessimistic(
                        buf, zx0[j], zy0[j], zx1[j], zy1[j]
                    ):
                        rows.append((int(did), int(zid[j])))
            yield pd.DataFrame(rows, columns=["doc_id", "zone_id"])

    return pd_docs.mapInPandas(kernel, schema)


@register("wkb_envelope_scan", _WKB_ENV_ORACLE)
def q_wkb_envelope_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WKB geometry path: WKT -> WKB BinaryType -> envelope computed
    DIRECTLY on the WKB bytes (OGRWKBGetBoundingBox analog,
    ogr/ogr_wkb.cpp:574) — the prefilter never builds geometry objects."""
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    from gdal_spark.geometry.wkb import wkb_envelope, wkt_payload_to_wkb
    from gdal_spark.geometry.wkt import parse_wkt

    rz = zones.rich_zones(spark)
    schema = StructType(
        [
            StructField("zone_id", LongType()),
            StructField("exmin4", LongType()),
            StructField("eymin4", LongType()),
            StructField("exmax4", LongType()),
            StructField("eymax4", LongType()),
        ]
    )

    def kernel(batches):
        for pdf in batches:
            rows = []
            for zid, wkt in zip(pdf["zone_id"], pdf["geom_wkt"]):
                wkb = wkt_payload_to_wkb(*parse_wkt(wkt))
                x0, y0, x1, y1 = wkb_envelope(wkb)
                rows.append(
                    (zid, round(x0 * 1e4), round(y0 * 1e4), round(x1 * 1e4), round(y1 * 1e4))
                )
            yield pd.DataFrame(
                rows, columns=["zone_id", "exmin4", "eymin4", "exmax4", "eymax4"]
            )

    return rz.mapInPandas(kernel, schema)


_ST_DIST_POINT = "POINT (10.0005 20.0005)"
_ST_DIST_ORACLE = f"""
WITH docs AS ({_DOCS_CTE})
SELECT doc_id,
       CAST(floor(sqrt((lon - 1.00005e1) * (lon - 1.00005e1)
                     + (lat - 2.00005e1) * (lat - 2.00005e1)) * 1.0e6) AS BIGINT) AS dist6
FROM docs
"""


@register("st_distance_fixed", _ST_DIST_ORACLE)
def q_st_distance_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Distance from each doc's span-carried POINT to a fixed point —
    WKT round-trips bit-exactly, so sqrt agrees with the SQL formula."""
    from gdal_spark.functions import st_distance

    docs = corpus.load_docs(spark, sf_dir)
    pt_wkt = F.element_at("spans", 2)["text"]
    d = st_distance(pt_wkt, F.lit(_ST_DIST_POINT))
    return docs.select(
        "doc_id", F.floor(d * 1.0e6).cast("long").alias("dist6")
    )


# Distance3D (ogrgeometry.cpp:3695) — POINT Z built from doc columns
# (z = n_chars/100), distance to a fixed 3D point; identical formula
# text + the WKT double round-trip keep every bit aligned.
_ST_D3_ORACLE = f"""
WITH docs AS ({_DOCS_CTE})
SELECT doc_id,
       CAST(floor(sqrt(((lon - 1.00005e1) * (lon - 1.00005e1)
                      + (lat - 2.00005e1) * (lat - 2.00005e1))
                     + ((n_chars / 1.0e2) - 5.0e0) * ((n_chars / 1.0e2) - 5.0e0)) * 1.0e6) AS BIGINT) AS d3_6
FROM docs
"""


@register("st_distance3d_fixed", _ST_D3_ORACLE)
def q_st_distance3d_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.functions import st_distance3d

    docs = corpus.load_docs(spark, sf_dir)
    s = F.lit(" ")
    pt_z = F.concat(
        F.lit("POINT Z ("), F.col("lon"), s, F.col("lat"), s,
        F.col("n_chars") / F.lit(1.0e2), F.lit(")"),
    )
    d = st_distance3d(pt_z, F.lit("POINT Z (10.0005 20.0005 5.0)"))
    return docs.select("doc_id", F.floor(d * 1.0e6).cast("long").alias("d3_6"))


_ST_CONSTR_ORACLE = f"""
WITH z AS (
  SELECT {zones.RICH_ID_SQL} AS zone_id,
         CAST({zones.RW1_SQL} AS DOUBLE) AS w1, CAST({zones.RH1_SQL} AS DOUBLE) AS h1,
         CAST({zones.RW2_SQL} AS DOUBLE) AS w2, CAST({zones.RHA_SQL} AS DOUBLE) AS ha,
         CAST({zones.RHW_SQL} AS DOUBLE) AS hw
  FROM range(0, {zones.NRICH}) t(i)
)
SELECT zone_id,
       CAST(round((w1 * (h1 + ha) - 5.0e-1 * (w1 - w2) * ha) * 4.0e6) AS BIGINT) AS hull4,
       CAST(round((w1 * h1 + w2 * ha - 2.0e0 * hw) * 4.0e6) AS BIGINT) AS simp4,
       CAST(round((w1 * h1 + w2 * ha - 2.0e0 * hw) * 4.0e6) AS BIGINT) AS valid4
FROM z
"""


@register("st_constructors", _ST_CONSTR_ORACLE)
def q_st_constructors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ConvexHull / Simplify / MakeValid on the concave-with-hole rich
    zones, verified through resulting areas (hull closes the L's notch;
    simplify at tol 0.5 keeps every corner; makevalid reorients rings
    without changing area)."""
    from gdal_spark.functions import st_area, st_convexhull, st_makevalid, st_simplify

    rz = zones.rich_zones(spark)
    return rz.select(
        "zone_id",
        F.round(st_area(st_convexhull(F.col("geom_wkt"))) * 4.0e6)
        .cast("long")
        .alias("hull4"),
        F.round(st_area(st_simplify(F.col("geom_wkt"), 0.5)) * 4.0e6)
        .cast("long")
        .alias("simp4"),
        F.round(st_area(st_makevalid(F.col("geom_wkt"))) * 4.0e6)
        .cast("long")
        .alias("valid4"),
    )


# --------------------------------------------------------------------------
# Constructor family, part 2 (ogrgeometry.cpp SetPrecision :6610,
# Normalize :4108, PointOnSurface :6313) on the rich zones — all three
# have closed forms on the L-with-hole fixture:
#   * SetPrecision(0.5): every part bound snaps via the SAME
#     floor(v*2+0.5)*0.5 text -> exact integer areas;
#   * Normalize: shell rotates to start at (bx,by) and flips CW, so
#     vertex #1 is (bx, y_top) and the signed shell area is
#     -(w1*h1 + w2*ha);
#   * PointOnSurface: envelope-bisector midpoint; the vertex-safe shift
#     (ha = h1 makes the bisector graze the arm boundary) is a CASE.
# --------------------------------------------------------------------------
def _snap05(expr: str) -> str:
    return f"(floor({expr} * 2.0e0 + 5.0e-1) * 5.0e-1)"


_RZ = zones._R
_SC2_CY = f"(({_RZ['by']} + {_RZ['y_top']}) / 2.0e0)"
_SC2_ORACLE = f"""
WITH z AS (SELECT i FROM range(0, {zones.NRICH}) t(i))
SELECT {zones.RICH_ID_SQL} AS zone_id,
  CAST(round((({_snap05(_RZ['x_w1'])} - {_snap05(_RZ['bx'])}) * ({_snap05(_RZ['y_h1'])} - {_snap05(_RZ['by'])})
      + ({_snap05(_RZ['x_w2'])} - {_snap05(_RZ['bx'])}) * ({_snap05(_RZ['y_top'])} - {_snap05(_RZ['y_h1'])})
      - ({_snap05(_RZ['hx1'])} - {_snap05(_RZ['hx0'])}) * ({_snap05(_RZ['hy1'])} - {_snap05(_RZ['hy0'])})) * 4.0e0) AS BIGINT) AS snap4,
  CAST(round({_RZ['bx']} * 1.0e4) AS BIGINT) AS nv1x4,
  CAST(round({_RZ['y_top']} * 1.0e4) AS BIGINT) AS nv1y4,
  CAST(round((0 - ({zones.RW1_SQL} * {zones.RH1_SQL} + {zones.RW2_SQL} * {zones.RHA_SQL})) * 4.0e0) AS BIGINT) AS nsa4,
  CAST(round((CASE WHEN {zones.RHA_SQL} < {zones.RH1_SQL}
         THEN (({_RZ['bx']} + {_RZ['x_w1']}) / 2.0e0)
         ELSE (({_RZ['bx']} + {_RZ['x_w2']}) / 2.0e0) END) * 1.0e4) AS BIGINT) AS psx4,
  CAST(round((CASE WHEN {zones.RHA_SQL} = {zones.RH1_SQL}
         THEN (({_SC2_CY} + {_RZ['y_top']}) / 2.0e0)
         ELSE {_SC2_CY} END) * 1.0e4) AS BIGINT) AS psy4
FROM z
"""


@register("st_constructors2", _SC2_ORACLE)
def q_st_constructors2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SetPrecision / Normalize / PointOnSurface probes: snapped area,
    normalized-shell vertex #1 + signed area, interior point."""
    from gdal_spark.functions import (
        st_area,
        st_normalize,
        st_pointonsurface_x,
        st_pointonsurface_y,
        st_setprecision,
        st_signed_shell_area,
        st_vertex_x,
        st_vertex_y,
    )

    rz = zones.rich_zones(spark)
    norm = st_normalize(F.col("geom_wkt"))
    return rz.select(
        "zone_id",
        F.round(st_area(st_setprecision(F.col("geom_wkt"), 0.5)) * 4.0e0)
        .cast("long")
        .alias("snap4"),
        F.round(st_vertex_x(norm, 1) * 1.0e4).cast("long").alias("nv1x4"),
        F.round(st_vertex_y(norm, 1) * 1.0e4).cast("long").alias("nv1y4"),
        F.round(st_signed_shell_area(norm) * 4.0e0).cast("long").alias("nsa4"),
        F.round(st_pointonsurface_x(F.col("geom_wkt")) * 1.0e4)
        .cast("long")
        .alias("psx4"),
        F.round(st_pointonsurface_y(F.col("geom_wkt")) * 1.0e4)
        .cast("long")
        .alias("psy4"),
    )


# --------------------------------------------------------------------------
# Geodesic ST_Length(g,1) / ST_Area(g,1)
# (ogrsqlitesqlfunctions.cpp:1228-1240 two-arg ST_Area; PROJ-backed
# geod_polygonarea in the reference).  Engine = straight-line column
# program (geometry/geodesic.py: Vincenty unrolled x6 + l'Huilier
# authalic excess) run through whole-stage codegen; oracle replays the
# identical step text as a DuckDB subquery chain.  Each edge/triangle
# is rounded BEFORE the per-zone integer sum, so double summation order
# cannot flip the hash.
# --------------------------------------------------------------------------
from gdal_spark.geometry import geodesic as _geod  # noqa: E402


def _geod_edge_arms(src: str) -> str:
    arms = [
        "SELECT zone_id, zymin AS lat1, zxmin AS lon1, zymin AS lat2, zxmax AS lon2 FROM {s}",
        "SELECT zone_id, zymin AS lat1, zxmax AS lon1, zymax AS lat2, zxmax AS lon2 FROM {s}",
        "SELECT zone_id, zymax AS lat1, zxmax AS lon1, zymax AS lat2, zxmin AS lon2 FROM {s}",
        "SELECT zone_id, zymax AS lat1, zxmin AS lon1, zymin AS lat2, zxmin AS lon2 FROM {s}",
    ]
    return " UNION ALL ".join(a.format(s=src) for a in arms)


def _geod_tri_arms(src: str) -> str:
    arms = [
        "SELECT zone_id, zymin AS la0, zxmin AS lo0, zymin AS la1, zxmax AS lo1, zymax AS la2, zxmax AS lo2 FROM {s}",
        "SELECT zone_id, zymin AS la0, zxmin AS lo0, zymax AS la1, zxmax AS lo1, zymax AS la2, zxmin AS lo2 FROM {s}",
    ]
    return " UNION ALL ".join(a.format(s=src) for a in arms)


_GEOD_ORACLE = f"""
WITH zz AS ({_ZONES_CTE}),
ln0 AS (
  SELECT zone_id, CAST(round(s_m) AS BIGINT) AS e_m
  FROM {_geod.steps_to_sql(_geod_edge_arms("zz"), _geod.vincenty_steps())} v
),
ar0 AS (
  SELECT zone_id, CAST(round(tri_area / 1.0e4) AS BIGINT) AS t_a
  FROM {_geod.steps_to_sql(_geod_tri_arms("zz"), _geod.TRI_AREA_STEPS)} w
),
ln1 AS (SELECT zone_id, CAST(sum(e_m) AS BIGINT) AS geod_len_m
        FROM ln0 GROUP BY zone_id),
ar1 AS (SELECT zone_id, CAST(sum(t_a) AS BIGINT) AS geod_area_k
        FROM ar0 GROUP BY zone_id)
SELECT ln1.zone_id, geod_len_m, geod_area_k
FROM ln1 JOIN ar1 ON ln1.zone_id = ar1.zone_id
"""


@register("st_geodesic", _GEOD_ORACLE)
def q_st_geodesic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geodesic perimeter (Vincenty, WGS84) + authalic-sphere area per
    rect zone — JVM column math end to end."""
    z = zones.rect_zones(spark).select("zone_id", "zxmin", "zymin", "zxmax", "zymax")
    arms = [
        ("zymin", "zxmin", "zymin", "zxmax"),
        ("zymin", "zxmax", "zymax", "zxmax"),
        ("zymax", "zxmax", "zymax", "zxmin"),
        ("zymax", "zxmin", "zymin", "zxmin"),
    ]
    e = None
    for la1, lo1, la2, lo2 in arms:
        arm = z.select(
            "zone_id",
            F.col(la1).alias("lat1"), F.col(lo1).alias("lon1"),
            F.col(la2).alias("lat2"), F.col(lo2).alias("lon2"),
        )
        e = arm if e is None else e.unionByName(arm)
    for name, text in _geod.vincenty_steps():
        e = e.withColumn(name, F.expr(text))
    ln = (
        e.select("zone_id", F.expr("CAST(round(s_m) AS BIGINT)").alias("e_m"))
        .groupBy("zone_id")
        .agg(F.sum("e_m").alias("geod_len_m"))
    )
    tri_arms = [
        ("zymin", "zxmin", "zymin", "zxmax", "zymax", "zxmax"),
        ("zymin", "zxmin", "zymax", "zxmax", "zymax", "zxmin"),
    ]
    t = None
    for la0, lo0, la1, lo1, la2, lo2 in tri_arms:
        arm = z.select(
            "zone_id",
            F.col(la0).alias("la0"), F.col(lo0).alias("lo0"),
            F.col(la1).alias("la1"), F.col(lo1).alias("lo1"),
            F.col(la2).alias("la2"), F.col(lo2).alias("lo2"),
        )
        t = arm if t is None else t.unionByName(arm)
    for name, text in _geod.TRI_AREA_STEPS:
        t = t.withColumn(name, F.expr(text))
    ar = (
        t.select(
            "zone_id",
            F.expr("CAST(round(tri_area / 1.0e4) AS BIGINT)").alias("t_a"),
        )
        .groupBy("zone_id")
        .agg(F.sum("t_a").alias("geod_area_k"))
    )
    return ln.join(ar, "zone_id")


# --------------------------------------------------------------------------
# General-polygon Buffer (ogrgeometry.cpp:4528) on the CONCAVE rich
# zones: offset-outline walk (functions._offset_ring — straight offset
# edges, 8-segment quadrant arcs at convex corners, meet points at the
# reflex corner, holes eroded).  Closed-form oracle: for a rectilinear
# simple polygon with r under the feature size,
#   area = A + P*r + n_convex*S8 - n_reflex*r^2  (S8 = 4 r^2 sin(pi/16),
# the 8-segment quarter-arc sector), and the rect hole erodes to
# (hw-2r)(hh-2r).  The L shell has 5 convex + 1 reflex corner.
# --------------------------------------------------------------------------
_BUF_R = "5.0e-1"
_ST_BUFFER_ORACLE = f"""
SELECT {zones.RICH_ID_SQL} AS zone_id,
  CAST(round((
    ({zones.RW1_SQL} * {zones.RH1_SQL} + {zones.RW2_SQL} * {zones.RHA_SQL})
    + 2 * ({zones.RW1_SQL} + {zones.RH1_SQL} + {zones.RHA_SQL}) * {_BUF_R}
    + 5.0e0 * (4.0e0 * {_BUF_R} * {_BUF_R} * sin(pi() / 1.6e1))
    - {_BUF_R} * {_BUF_R}
    - ({zones.RHW_SQL} - 2.0e0 * {_BUF_R}) * (2 - 2.0e0 * {_BUF_R})
  ) * 1.0e6) AS BIGINT) AS buf6
FROM range(0, {zones.NRICH}) t(i)
"""


@register("st_buffer_area", _ST_BUFFER_ORACLE)
def q_st_buffer_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Buffer(0.5) of the concave L-with-hole zones — offset-outline
    area vs the closed rectilinear formula."""
    from gdal_spark.functions import st_area, st_buffer

    rz = zones.rich_zones(spark)
    return rz.select(
        "zone_id",
        F.round(st_area(st_buffer(F.col("geom_wkt"), 0.5)) * 1.0e6)
        .cast("long")
        .alias("buf6"),
    )


# --------------------------------------------------------------------------
# Validity predicates IsValid / IsSimple / IsRing
# (ogrgeometry.cpp:2297,2416,2487) over a fixed WKT corpus with known
# answers (bowtie polygon, closed/crossing linestrings).
# --------------------------------------------------------------------------
_VALIDITY_FIXTURE = [
    (1, "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))", True, True, False),
    (2, "POLYGON ((0 0, 4 4, 4 0, 0 4, 0 0))", False, False, False),  # bowtie
    (3, "LINESTRING (0 0, 4 0, 4 4, 0 4, 0 0)", True, True, True),
    (4, "LINESTRING (0 0, 4 4, 4 0, 0 4)", True, False, False),  # crossing
    (5, "POINT (1 2)", True, True, False),
    (
        6,
        "POLYGON ((0 0, 20 0, 20 20, 0 20, 0 0), (8 8, 12 8, 12 12, 8 12, 8 8))",
        True,
        True,
        False,
    ),
]

_VALIDITY_ORACLE = "SELECT * FROM (VALUES " + ", ".join(
    f"({gid}, {str(v).lower()}, {str(s).lower()}, {str(r).lower()})"
    for gid, _, v, s, r in _VALIDITY_FIXTURE
) + ") t(gid, is_valid, is_simple, is_ring)"


@register("st_validity", _VALIDITY_ORACLE)
def q_st_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.functions import st_isring, st_issimple, st_isvalid

    df = spark.createDataFrame(
        [(gid, wkt) for gid, wkt, *_ in _VALIDITY_FIXTURE], "gid int, wkt string"
    )
    return df.select(
        "gid",
        st_isvalid("wkt").alias("is_valid"),
        st_issimple("wkt").alias("is_simple"),
        st_isring("wkt").alias("is_ring"),
    )


# --------------------------------------------------------------------------
# ORDER BY ... LIMIT 1 — the reference's explicit streaming top-1 path
# (ogr_gensql.cpp:2219-2247); Catalyst's TakeOrderedAndProject analog.
# --------------------------------------------------------------------------
_TOP1_ORACLE = """
SELECT o_orderkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 1
"""


@register("top1", _TOP1_ORACLE)
def q_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(1)
        .select("o_orderkey", "o_totalprice")
    )


# --------------------------------------------------------------------------
# Embedding-cosine near-dup pairs (driver-mandated dedup family): EXACT
# threshold pairs over the embeddings table via the lossless
# projected-grid prefilter (operators/similarity.cosine_pairs); oracle
# = DuckDB all-pairs with DOUBLE-cast dot products.  tau = 0.35 sits
# >= 2.9e-5 from every pair's cosine at both driver scales, so the
# 1e-14 cross-engine FP spread cannot flip membership.
# --------------------------------------------------------------------------
_COS_TAU = 0.35
_COSINE_DEDUP_ORACLE = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_dot_product(a.v, b.v)
           / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS c
  FROM e a JOIN e b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, CAST(floor(c * 1.0e6) AS BIGINT) AS cos6
FROM p WHERE c >= {_COS_TAU!r}
"""


@register("cosine_dedup", _COSINE_DEDUP_ORACLE)
def q_cosine_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.similarity import cosine_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cosine_pairs(emb, _COS_TAU)


# --------------------------------------------------------------------------
# ST_Crosses — the last predicate of the reference's matrix
# (ogrgeometry.cpp:5711 OGRGeometry::Crosses -> GEOSCrosses_r) over a
# known-answer corpus: proper line/line crossing, endpoint touch,
# collinear overlap, line through / inside / along a polygon, crossing
# at an interior vertex, area×area and point cases.
# --------------------------------------------------------------------------
_CROSS_SQ = "POLYGON ((0 0,4 0,4 4,0 4,0 0))"
_CROSSES_FIXTURE = [
    (1, "LINESTRING (0 0,4 4)", "LINESTRING (0 4,4 0)", True),
    (2, "LINESTRING (0 0,4 4)", "LINESTRING (4 4,8 0)", False),
    (3, "LINESTRING (0 0,4 0)", "LINESTRING (2 0,6 0)", False),
    (4, "LINESTRING (-1 2,5 2)", _CROSS_SQ, True),
    (5, _CROSS_SQ, "LINESTRING (-1 2,5 2)", True),
    (6, "LINESTRING (1 1,3 3)", _CROSS_SQ, False),
    (7, "LINESTRING (0 0,4 0)", _CROSS_SQ, False),
    (8, "LINESTRING (0 0,2 2,4 0)", "LINESTRING (2 0,2 4)", True),
    (9, _CROSS_SQ, "POLYGON ((2 2,6 2,6 6,2 6,2 2))", False),
    (10, "LINESTRING (2 2,6 2)", _CROSS_SQ, True),
    (11, "POINT (2 2)", _CROSS_SQ, False),
    (12, "LINESTRING (0 0,2 2)", "LINESTRING (0 4,4 0)", False),
]

_CROSSES_ORACLE = "SELECT * FROM (VALUES " + ", ".join(
    f"({gid}, {str(x).lower()})" for gid, _, _, x in _CROSSES_FIXTURE
) + ") t(gid, crosses)"


@register("st_crosses", _CROSSES_ORACLE)
def q_st_crosses(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.functions import st_crosses

    df = spark.createDataFrame(
        [(gid, a, b) for gid, a, b, _ in _CROSSES_FIXTURE],
        "gid int, wa string, wb string",
    )
    return df.select("gid", st_crosses("wa", "wb").alias("crosses"))


# --------------------------------------------------------------------------
# ST basics — the codec / constructor half of the reference's minimal
# spatial-function set (ogrsqlitesqlfunctions.cpp:1188-1224: AsText,
# GeomFromText, AsBinary, GeomFromWKB, IsEmpty, SRID, MakePoint):
# canonical re-serialization of messy WKT, WKB roundtrip (hand-checked
# NDR hex expectations), EMPTY detection, point construction —
# IsEmpty / MakePoint / SRID run pure-JVM.
# --------------------------------------------------------------------------
_BASIC_FIXTURE = [
    # (gid, messy wkt, canon, empty, wkb hex or None)
    (
        1,
        "  POINT( 1.0   2.00 )",
        "POINT (1 2)",
        False,
        "0101000000000000000000F03F0000000000000040",
    ),
    (
        2,
        "POLYGON(( 0 0 ,4.0 0,4 4, 0 4 ,0 0 ))",
        "POLYGON ((0 0,4 0,4 4,0 4,0 0))",
        False,
        "010300000001000000050000000000000000000000000000000000000000"
        "000000000010400000000000000000000000000000104000000000000010"
        "400000000000000000000000000000104000000000000000000000000000"
        "000000",
    ),
    (
        3,
        "LINESTRING(0 0, 1 1)",
        "LINESTRING (0 0,1 1)",
        False,
        "01020000000200000000000000000000000000000000000000"
        "000000000000F03F000000000000F03F",
    ),
    (4, "POLYGON EMPTY", "POLYGON EMPTY", True, None),
]

_BASIC_ORACLE = "SELECT * FROM (VALUES " + ", ".join(
    "({}, '{}', {}, {}, {}, {}, '{}', 0)".format(
        gid,
        canon,
        str(empty).lower(),
        "NULL" if hx is None else f"'{hx}'",
        "NULL" if hx is None else "true",
        "NULL" if hx is None else f"'{canon}'",
        f"POINT ({gid + 2} {gid * 3 // 2 if gid % 2 == 0 else str(gid * 1.5)})",
    )
    for gid, _, canon, empty, hx in _BASIC_FIXTURE
) + ") t(gid, canon, empty, wkb_hex, rt_ok, rt_wkt, mk, srid)"


@register("st_basic", _BASIC_ORACLE)
def q_st_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.functions import (
        st_asbinary,
        st_astext,
        st_geomfromwkb,
        st_isempty,
        st_makepoint,
        st_srid,
    )

    df = spark.createDataFrame(
        [(gid, w) for gid, w, *_ in _BASIC_FIXTURE], "gid int, wkt string"
    )
    canon = st_astext("wkt")
    nonempty = ~st_isempty(F.col("wkt"))
    # codecs run on every row (EMPTY encodes to a 0-ring WKB and back);
    # the EMPTY row's outputs are nulled at projection to match the
    # reference's NULL-for-empty behaviour
    wkb = st_asbinary(canon)
    rt = st_geomfromwkb(wkb)
    return df.select(
        "gid",
        canon.alias("canon"),
        st_isempty(F.col("wkt")).alias("empty"),
        F.when(nonempty, F.hex(wkb)).alias("wkb_hex"),
        F.when(nonempty, rt == canon).alias("rt_ok"),
        F.when(nonempty, rt).alias("rt_wkt"),
        st_makepoint(F.col("gid") + F.lit(2.0), F.col("gid") * F.lit(1.5)).alias(
            "mk"
        ),
        st_srid(F.col("wkt")).alias("srid"),
    )


# --------------------------------------------------------------------------
# ST_Centroid (ogrsqlitesqlfunctions Centroid; OGRGeometry::Centroid,
# ogrgeometry.cpp:6108 — GEOS area centroid).  Holes subtract mass:
# the holed 10-square's centroid is (500-12)/(100-4) = 488/96 on both
# axes — exact IEEE division, so raw doubles ship unquantized with the
# shared quotient text `4.88e2/9.6e1` on the oracle side.  Rows 2 and 3
# carry the SAME hole wound CCW and CW to pin winding normalization.
# --------------------------------------------------------------------------
_CENTROID_FIXTURE = [
    # (gid, wkt, oracle cx expr, oracle cy expr)
    (1, "POLYGON ((0 0,4 0,4 4,0 4,0 0))", "2.0e0", "2.0e0"),
    (
        2,
        "POLYGON ((0 0,10 0,10 10,0 10,0 0),(2 2,4 2,4 4,2 4,2 2))",
        "4.88e2/9.6e1",
        "4.88e2/9.6e1",
    ),
    (
        3,
        "POLYGON ((0 0,10 0,10 10,0 10,0 0),(2 2,2 4,4 4,4 2,2 2))",
        "4.88e2/9.6e1",
        "4.88e2/9.6e1",
    ),
    (
        4,
        "MULTIPOLYGON (((0 0,2 0,2 2,0 2,0 0)),((10 0,12 0,12 2,10 2,10 0)))",
        "6.0e0",
        "1.0e0",
    ),
    (5, "POINT (7 7)", "7.0e0", "7.0e0"),
]

_CENTROID_ORACLE = "SELECT * FROM (VALUES " + ", ".join(
    f"({gid}, {cx}, {cy})" for gid, _, cx, cy in _CENTROID_FIXTURE
) + ") t(gid, cx, cy)"


@register("st_centroid", _CENTROID_ORACLE)
def q_st_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.functions import st_centroid_x, st_centroid_y

    df = spark.createDataFrame(
        [(gid, w) for gid, w, *_ in _CENTROID_FIXTURE], "gid int, wkt string"
    )
    return df.select(
        "gid",
        st_centroid_x("wkt").alias("cx"),
        st_centroid_y("wkt").alias("cy"),
    )


# --------------------------------------------------------------------------
# Scalar geometry set ops RETURNING geometry (ST_Intersection /
# ST_Difference / ST_Union / ST_SymDifference,
# ogrsqlitesqlfunctions.cpp:1208-1214; GEOS ogrgeometry.cpp:4895,5014,
# 5229): exact compressed-grid kernel for rectilinear pairs (concave /
# holes / multipart results) + Sutherland-Hodgman for convex
# intersection.  Expected WKT literals are hand-derived (areas
# cross-checked: e.g. L⊕R = 20+16-2*7 = 13+9).
# --------------------------------------------------------------------------
_SETOP_FIXTURE = [
    # (gid, wkt_a, wkt_b, inter, diff, uni, sym) — rectilinear rows
    (
        1,
        "POLYGON ((0 0,4 0,4 4,0 4,0 0))",
        "POLYGON ((2 2,6 2,6 6,2 6,2 2))",
        "POLYGON ((2 2,4 2,4 4,2 4,2 2))",
        "POLYGON ((0 0,4 0,4 2,2 2,2 4,0 4,0 0))",
        "POLYGON ((0 0,4 0,4 2,6 2,6 6,2 6,2 4,0 4,0 0))",
        "MULTIPOLYGON (((0 0,4 0,4 2,2 2,2 4,0 4,0 0)),"
        "((2 4,4 4,4 2,6 2,6 6,2 6,2 4)))",
    ),
    (
        2,
        "POLYGON ((0 0,10 0,10 10,0 10,0 0))",
        "POLYGON ((3 3,5 3,5 5,3 5,3 3))",
        "POLYGON ((3 3,5 3,5 5,3 5,3 3))",
        "POLYGON ((0 0,10 0,10 10,0 10,0 0),(3 3,3 5,5 5,5 3,3 3))",
        "POLYGON ((0 0,10 0,10 10,0 10,0 0))",
        "POLYGON ((0 0,10 0,10 10,0 10,0 0),(3 3,3 5,5 5,5 3,3 3))",
    ),
    (
        3,
        "POLYGON ((0 0,4 0,4 4,0 4,0 0))",
        "POLYGON ((20 0,24 0,24 4,20 4,20 0))",
        "POLYGON EMPTY",
        "POLYGON ((0 0,4 0,4 4,0 4,0 0))",
        "MULTIPOLYGON (((0 0,4 0,4 4,0 4,0 0)),((20 0,24 0,24 4,20 4,20 0)))",
        "MULTIPOLYGON (((0 0,4 0,4 4,0 4,0 0)),((20 0,24 0,24 4,20 4,20 0)))",
    ),
    (
        4,
        "POLYGON ((0 0,6 0,6 2,2 2,2 6,0 6,0 0))",
        "POLYGON ((1 1,5 1,5 5,1 5,1 1))",
        "POLYGON ((1 1,5 1,5 2,2 2,2 5,1 5,1 1))",
        "POLYGON ((0 0,6 0,6 2,5 2,5 1,1 1,1 5,2 5,2 6,0 6,0 0))",
        "POLYGON ((0 0,6 0,6 2,5 2,5 5,2 5,2 6,0 6,0 0))",
        "MULTIPOLYGON (((0 0,6 0,6 2,5 2,5 1,1 1,1 5,2 5,2 6,0 6,0 0)),"
        "((2 2,5 2,5 5,2 5,2 2)))",
    ),
]
# convex (non-rectilinear) row: intersection only — the documented
# contract of the S-H path
_SETOP_CONVEX = (
    5,
    "POLYGON ((0 0,8 0,0 8,0 0))",
    "POLYGON ((0 0,4 0,4 4,0 4,0 0))",
    "POLYGON ((0 0,4 0,4 4,0 4,0 0))",
)

_SETOPS_ORACLE = "SELECT * FROM (VALUES " + ", ".join(
    f"({gid}, '{i}', '{d}', '{u}', '{s}')"
    for gid, _, _, i, d, u, s in _SETOP_FIXTURE
) + f", ({_SETOP_CONVEX[0]}, '{_SETOP_CONVEX[3]}', NULL, NULL, NULL)" \
    ") t(gid, inter, diff, uni, sym)"


@register("st_setops", _SETOPS_ORACLE)
def q_st_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.functions import (
        st_difference,
        st_intersection,
        st_symdifference,
        st_union2,
    )

    rect = spark.createDataFrame(
        [(gid, a, b) for gid, a, b, *_ in _SETOP_FIXTURE],
        "gid int, wa string, wb string",
    ).select(
        "gid",
        st_intersection("wa", "wb").alias("inter"),
        st_difference("wa", "wb").alias("diff"),
        st_union2("wa", "wb").alias("uni"),
        st_symdifference("wa", "wb").alias("sym"),
    )
    conv = spark.createDataFrame(
        [_SETOP_CONVEX[:3]], "gid int, wa string, wb string"
    ).select(
        "gid",
        st_intersection("wa", "wb").alias("inter"),
        F.lit(None).cast("string").alias("diff"),
        F.lit(None).cast("string").alias("uni"),
        F.lit(None).cast("string").alias("sym"),
    )
    return rect.unionByName(conv)


# --------------------------------------------------------------------------
# GENERAL (arbitrary-angle) geometry set ops — the class GEOS handles
# and the rectilinear grid kernel can't (geometry/polybool.py
# arrangement kernel).  Fixture: the hand-derived rectilinear rows PLUS
# an L-with-hole x straddling-rect pair, all rotated by the 3-4-5
# rotation (cos=0.8, sin=0.6) and translated — no edge stays
# axis-aligned, so every row routes through the general kernel.
# Expected literals are derived INDEPENDENTLY of that kernel: the
# oracle-pinned compressed-grid kernel computes the unrotated result,
# whose vertices are then rotated by the same matrix (rotation commutes
# with boolean ops) and serialized on the kernel's 2^-20 output grid.
# --------------------------------------------------------------------------
_SG_LHOLE = (
    6,
    "POLYGON ((0 0,8 0,8 3,3 3,3 8,0 8,0 0),(1 1,1 2,2 2,2 1,1 1))",
    "POLYGON ((1 -1,7 -1,7 7,1 7,1 -1))",
)


def _rot345(x: float, y: float) -> tuple[float, float]:
    return 0.8 * x - 0.6 * y + 10.0, 0.6 * x + 0.8 * y + 5.0


def _rot_wkt_full(w: str) -> str:
    """Rotate a WKT's vertices (full-precision %.17g serialization — the
    general kernel must see the exact rotated doubles)."""
    from gdal_spark.geometry.wkt import parse_wkt

    typ, payload = parse_wkt(w)
    polys = payload if typ == "MULTIPOLYGON" else [payload]

    def ring_txt(r):
        return (
            "("
            + ",".join(f"{_rot345(x, y)[0]:.17g} {_rot345(x, y)[1]:.17g}" for x, y in r)
            + ")"
        )

    parts = ["(" + ",".join(ring_txt(r) for r in poly) + ")" for poly in polys]
    if typ == "MULTIPOLYGON":
        return "MULTIPOLYGON (" + ",".join(parts) + ")"
    return "POLYGON " + parts[0]


def _setops_general_rows() -> list[tuple]:
    """(gid, rotated_wa, rotated_wb, inter, diff, uni, sym) — expected
    via rect_bool_op (independent kernel) + rotation + q-grid text."""
    import numpy as np

    from gdal_spark.geometry.polybool import polys_wkt_q
    from gdal_spark.geometry.rectbool import rect_bool_op
    from gdal_spark.geometry.wkt import parse_wkt

    def polys(w):
        t, p = parse_wkt(w)
        return p if t == "MULTIPOLYGON" else [p]

    rows = []
    for gid, wa, wb, *_ in list(_SETOP_FIXTURE) + [_SG_LHOLE]:
        pa, pb = polys(wa), polys(wb)
        exp = []
        for op in ("intersection", "difference", "union", "symdifference"):
            res = rect_bool_op(pa, pb, op)
            rot = [
                [
                    np.array([_rot345(x, y) for x, y in ring], dtype=np.float64)
                    for ring in rings
                ]
                for rings in res
            ]
            exp.append(polys_wkt_q(rot))
        rows.append((gid, _rot_wkt_full(wa), _rot_wkt_full(wb), *exp))
    return rows


_SG_ROWS = _setops_general_rows()

_SETOPS_GENERAL_ORACLE = "SELECT * FROM (VALUES " + ", ".join(
    f"({gid}, '{i}', '{d}', '{u}', '{s}')" for gid, _, _, i, d, u, s in _SG_ROWS
) + ") t(gid, inter, diff, uni, sym)"


@register("st_setops_general", _SETOPS_GENERAL_ORACLE)
def q_st_setops_general(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.functions import (
        st_difference,
        st_intersection,
        st_symdifference,
        st_union2,
    )

    return spark.createDataFrame(
        [(gid, a, b) for gid, a, b, *_ in _SG_ROWS],
        "gid int, wa string, wb string",
    ).select(
        "gid",
        st_intersection("wa", "wb").alias("inter"),
        st_difference("wa", "wb").alias("diff"),
        st_union2("wa", "wb").alias("uni"),
        st_symdifference("wa", "wb").alias("sym"),
    )


# --------------------------------------------------------------------------
# Windowed event aggregation (events table): tumbling hourly windows —
# the batch analog of the streaming rollup surface.
# --------------------------------------------------------------------------
_EVENTS_WINDOW_ORACLE = """
SELECT date_trunc('hour', ts) AS hour_ts, event_type,
       count(*) AS n_events, round(sum(value), 4) AS sum_value
FROM events GROUP BY date_trunc('hour', ts), event_type
"""


@register("events_window", _EVENTS_WINDOW_ORACLE)
def q_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return e.groupBy(
        F.date_trunc("hour", "ts").alias("hour_ts"), F.col("event_type")
    ).agg(
        F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value")
    )


# --------------------------------------------------------------------------
# Sessionization (the batch shape of Structured Streaming's
# session_window(ts, gap)): per-user events chain into a session while
# consecutive gaps stay <= 30 min; a larger gap starts a new session.
# Gaps-and-islands: break flag via lag(), session id via running sum,
# aggregates per (user, session).  The gap compare runs on EXACT
# microsecond integers both engines (unix_micros / epoch_us), value sums
# are quantized per row before summing (order-proof), tiebreak on
# event_id.  One shuffle on user_id; session windows never span users,
# so the partitioning is the natural one at any scale.
#
# value is exactly 4-decimal, so value*1e4 sits within a few ulps of
# its integer — round() recovers it robustly (0.5 - eps from the tie),
# whereas floor() was a knife-edge: 888/1000 rows landed exactly ON an
# integer and 112 within 8 ulps (the local_supplier_volume fragility
# class; memory: spark-duckdb-parity).
# --------------------------------------------------------------------------
_SESSION_GAP_US = 1800 * 1_000_000

_SESSIONIZE_ORACLE = f"""
WITH x AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {_SESSION_GAP_US}
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM x
)
SELECT user_id, CAST(sid AS int) AS session_id, count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end,
       CAST(SUM(CAST(round(value * 1.0e4) AS BIGINT)) AS BIGINT) AS value_4
FROM s GROUP BY user_id, sid
"""


@register("sessionize", _SESSIONIZE_ORACLE)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    # unix_micros needs TIMESTAMP (parquet stores NTZ); the session-tz
    # cast shifts both sides identically, so the gap math is exact
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    brk = F.when(
        prev.isNull() | (us(F.col("ts")) - us(prev) > _SESSION_GAP_US),
        1,
    ).otherwise(0)
    x = e.select("user_id", "event_id", "ts", "value", brk.alias("brk"))
    sid = F.sum("brk").over(
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    s = x.select("user_id", "ts", "value", sid.alias("sid"))
    return s.groupBy("user_id", "sid").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.sum(F.expr("CAST(round(value * 1.0e4) AS BIGINT)")).alias("value_4"),
    ).select(
        "user_id",
        F.col("sid").cast("int").alias("session_id"),
        "n_events",
        "session_start",
        "session_end",
        "value_4",
    )


# --------------------------------------------------------------------------
# Raster pyramid (gdalwarp + gdal2tiles + checksum oracle): the full
# NN warp -> AVERAGE overviews -> GDALChecksumImage pipeline rendered as
# SQL — inverse mercator per pixel, nested 2x2 GROUP BY halving for the
# overview levels, prime-cycle checksum per tile (alg/gdalchecksum.cpp).
# --------------------------------------------------------------------------
_PYR_PRIMES = "[7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43]"
_PYR_RES2 = _sd(mercator.INITIAL_RESOLUTION / 4)
_PYR_OS = _sd(mercator.ORIGIN_SHIFT)

_PYRCS_ORACLE = f"""
WITH g AS (
  SELECT gx.i AS gx, gy.j AS gy FROM range(0, 1024) gx(i), range(0, 1024) gy(j)
),
geo AS (
  SELECT gx, gy,
    (((gx + 5.0e-1) * {_PYR_RES2} - {_PYR_OS}) / {_PYR_OS}) * 1.8e2 AS lon,
    1.8e2 / pi() * (2.0e0 * atan(exp(((((1023 - gy + 5.0e-1) * {_PYR_RES2} - {_PYR_OS}) / {_PYR_OS}) * 1.8e2) * pi() / 1.8e2)) - pi() / 2.0e0) AS lat
  FROM g
),
srcp AS (
  SELECT gx, gy,
         CAST(floor((lon - (-1.8e2)) / 9.0e-1) AS BIGINT) AS px,
         CAST(floor((lat - 9.0e1) / (-9.0e-1)) AS BIGINT) AS py
  FROM geo
),
b AS (SELECT i + 1 AS band FROM range(0, {N_BANDS}) t(i)),
l2 AS (
  SELECT CAST(b.band AS int) AS band, gx, gy,
         CAST(((px * 7 + py * 13 + band * 29) % 256) AS DOUBLE) AS v
  FROM srcp, b
),
l1 AS (
  SELECT band, CAST(((gx - (gx % 2)) / 2) AS BIGINT) AS gx,
         CAST(((gy - (gy % 2)) / 2) AS BIGINT) AS gy,
         floor(avg(v) + 5.0e-1) AS v
  FROM l2 GROUP BY 1, 2, 3
),
l0 AS (
  SELECT band, CAST(((gx - (gx % 2)) / 2) AS BIGINT) AS gx,
         CAST(((gy - (gy % 2)) / 2) AS BIGINT) AS gy,
         floor(avg(v) + 5.0e-1) AS v
  FROM l1 GROUP BY 1, 2, 3
),
all_l AS (
  SELECT 2 AS zoom, 4 AS n, band, gx, gy, v FROM l2
  UNION ALL SELECT 1 AS zoom, 2 AS n, band, gx, gy, v FROM l1
  UNION ALL SELECT 0 AS zoom, 1 AS n, band, gx, gy, v FROM l0
)
SELECT band, CAST(zoom AS int) AS zoom,
       CAST((gx - (gx % 256)) / 256 AS BIGINT) AS tx,
       CAST(n - 1 - (gy - (gy % 256)) / 256 AS BIGINT) AS ty,
       CAST(sum(CAST(v AS BIGINT) % ({_PYR_PRIMES}[CAST(((gy % 256) * 256 + (gx % 256)) % 11 AS INT) + 1])) % 65536 AS INT) AS checksum
FROM all_l GROUP BY 1, 2, 3, 4
"""


@register("raster_pyramid", _PYRCS_ORACLE)
def q_raster_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.raster import tile_pyramid_checksums

    return tile_pyramid_checksums(spark, zmax=2)


_BETWEEN_ORACLE = """
SELECT l_orderkey, l_linenumber, l_quantity
FROM lineitem
WHERE l_quantity BETWEEN 10 AND 20
  AND l_returnflag IS NOT NULL
  AND l_linestatus IN ('F', 'O')
"""


@register("between_filter", _BETWEEN_ORACLE)
def q_between_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BETWEEN / IS NULL / IN tri-state predicates
    (swq_op_general.cpp:347-900 null handling)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.filter(
        F.col("l_quantity").between(10, 20)
        & F.col("l_returnflag").isNotNull()
        & F.col("l_linestatus").isin("F", "O")
    ).select("l_orderkey", "l_linenumber", "l_quantity")


_OFFSET_ORACLE = """
SELECT o_orderkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 15 OFFSET 25
"""


@register("offset_limit", _OFFSET_ORACLE)
def q_offset_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIMIT + OFFSET (ogr/ogr_swq.h:480-483; counted during iteration
    in the reference, offset() here)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .offset(25)
        .limit(15)
    )


_SPECIAL_FIELDS_ORACLE = f"""
WITH docs AS ({_POLYDOCS_CTE})
SELECT doc_id AS fid,
       CAST(round((xmax - xmin) * (ymax - ymin) * 1.0e6) AS bigint) AS micro_geom_area,
       'POLYGON' AS ogr_geometry
FROM docs
"""


@register("special_fields", _SPECIAL_FIELDS_ORACLE)
def q_special_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OGR special fields FID / OGR_GEOM_AREA / OGR_GEOMETRY
    (ogr_gensql.cpp:824-826,1555; SPECIAL_FIELD_GEOMETRY = the geometry
    type name) as computed columns.  OGR_GEOMETRY is derived from the
    layer's REAL geometry carrier — the interleaved ``geom`` span — via
    a whole-stage-codegen lambda + regexp (no Python); the oracle pins
    the expected name for the rectangle layer."""
    from gdal_spark.functions.collections import st_geometrytype

    pd_docs = corpus.load_polydocs(spark, sf_dir)
    geom_wkt = F.expr("filter(spans, s -> s.kind = 'geom')[0].text")
    return pd_docs.select(
        F.col("doc_id").alias("fid"),
        F.round(
            (F.col("xmax") - F.col("xmin")) * (F.col("ymax") - F.col("ymin")) * 1.0e6
        )
        .cast("long")
        .alias("micro_geom_area"),
        st_geometrytype(geom_wkt).alias("ogr_geometry"),
    )


# --------------------------------------------------------------------------
# OGR_STYLE surface (ogr/ogrfeaturestyle.cpp OGRStyleMgr/OGRStyleTool +
# the OGR_STYLE special field, ogr_gensql.cpp): deterministic per-doc
# style strings interrogated with the functions/style.py accessors —
# tool part extraction, quoted-value params (commas inside quotes
# honoured), and GetParamNum's exact unit-to-meters table
# (ComputeWithUnit, ogrfeaturestyle.cpp:1921-1976; px == pt == 1/2834.64
# m, default unit mm, ground units / m_dfScale).  Whole pipeline is one
# whole-stage-codegen projection; known-answer conversions pinned in
# tests/test_style.py.
# --------------------------------------------------------------------------
from gdal_spark.functions import style as _style  # noqa: E402

_STYLE_EXPR = (
    "('PEN(c:#' || substr(md5('s' || doc_id), 1, 6) || ',w:' || (doc_id % 9)"
    " || CASE doc_id % 6 WHEN 0 THEN '' WHEN 1 THEN 'px' WHEN 2 THEN 'pt'"
    " WHEN 3 THEN 'cm' WHEN 4 THEN 'in' ELSE 'g' END"
    " || ');BRUSH(fc:#336699)'"
    " || CASE WHEN doc_id % 3 = 0 THEN"
    " ';LABEL(f:\"Arial, Bold\",s:12pt,t:\"doc ' || doc_id || '\")'"
    " ELSE '' END)"
)


def _ogr_style_stages() -> list[tuple[str, str]]:
    w_m = _style.sql_style_param_meters("style", "PEN", "w", scale="2.0e0")
    s_m = _style.sql_style_param_meters("style", "LABEL", "s")
    return [
        ("style", _STYLE_EXPR),
        ("pen_color", _style.sql_style_param("style", "PEN", "c")),
        ("pen_w_pm", f"CAST(floor({w_m} * 1.0e12) AS BIGINT)"),
        ("brush_fc", _style.sql_style_param("style", "BRUSH", "fc")),
        ("label_font", _style.sql_style_param("style", "LABEL", "f")),
        ("label_text", _style.sql_style_param("style", "LABEL", "t")),
        ("label_s_pm", f"CAST(floor({s_m} * 1.0e12) AS BIGINT)"),
    ]


def _ogr_style_oracle() -> str:
    sql = f"SELECT doc_id FROM ({_DOCS_CTE})"
    for col, expr in _ogr_style_stages():
        sql = f"SELECT *, {expr} AS {col} FROM ({sql})"
    return sql


@register("ogr_style", _ogr_style_oracle())
def q_ogr_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = corpus.load_docs(spark, sf_dir).select("doc_id")
    for col, expr in _ogr_style_stages():
        df = df.selectExpr("*", f"{expr} AS {col}")
    return df


# --------------------------------------------------------------------------
# Z (2.5-D) geometry surface (ogr/ogr_core.h:447-498 wkbPoint25D family;
# flattenTo2D; the SQLite dialect's 3-arg ST_MakePoint): MakePointZ /
# ST_Z / Force2D / Force3D round trips plus 3-D polyline length, all
# through the Python Z codec (geometry/wkt.py parse_wkt_z) — the oracle
# reconstructs every output INDEPENDENTLY from doc_id arithmetic, so
# this is a true cross-implementation check, not shared text.
# --------------------------------------------------------------------------
_ZX = "(doc_id % 100)"
_ZY = "((doc_id * 3) % 50)"
_ZZ = "(doc_id % 7)"

_ZGEOM_ORACLE = f"""
WITH docs AS ({{docs}})
SELECT doc_id,
       'POINT Z (' || {_ZX} || ' ' || {_ZY} || ' ' || {_ZZ} || ')' AS p3,
       CAST({_ZZ} AS DOUBLE) AS zval,
       'POINT (' || {_ZX} || ' ' || {_ZY} || ')' AS flat,
       CAST(NULL AS DOUBLE) AS z_of_2d,
       CAST(floor(sqrt(CAST({_ZX} * {_ZX} + {_ZY} * {_ZY} + {_ZZ} * {_ZZ}
                       AS DOUBLE)) * 1.0e9) AS BIGINT) AS len3_nm
FROM docs
"""


@register("st_zgeom", _ZGEOM_ORACLE.format(docs=_DOCS_CTE))
def q_st_zgeom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.functions.zgeom import (
        st_force2d,
        st_length3d,
        st_makepoint_z,
        st_z,
    )

    docs = corpus.load_docs(spark, sf_dir).selectExpr(
        "doc_id",
        f"CAST({_ZX} AS DOUBLE) AS zx",
        f"CAST({_ZY} AS DOUBLE) AS zy",
        f"CAST({_ZZ} AS DOUBLE) AS zz",
        f"'LINESTRING Z (0 0 0,' || {_ZX} || ' ' || {_ZY} || ' ' || {_ZZ} || ')'"
        " AS line3",
    )
    p3 = st_makepoint_z(F.col("zx"), F.col("zy"), F.col("zz"))
    return docs.select(
        "doc_id",
        p3.alias("p3"),
        st_z(p3).alias("zval"),
        st_force2d(p3).alias("flat"),
        st_z(st_force2d(p3)).alias("z_of_2d"),
        st_length3d(F.col("line3")).alias("_len3"),
    ).selectExpr(
        "doc_id",
        "p3",
        "zval",
        "flat",
        "z_of_2d",
        "CAST(floor(_len3 * 1.0e9) AS BIGINT) AS len3_nm",
    )


# --------------------------------------------------------------------------
# Measured (M / ZM) geometry surface (ogr/ogr_core.h:465-498 wkbPointM /
# wkbPointZM; WKT dimension preamble ogrgeometry.cpp:1808
# importPreambleFromWkt; OGRPoint::getM, setMeasured(FALSE)):
# MakePointM / MakePointZM construction, ST_M extraction, IsMeasured,
# drop-M-keep-Z re-serialization, and M-of-2D → NULL — like st_zgeom the
# oracle rebuilds every output INDEPENDENTLY from doc_id arithmetic
# (cross-implementation check of the Python ZM codec).
# --------------------------------------------------------------------------
_MM = "(doc_id % 11)"

_MGEOM_ORACLE = f"""
WITH docs AS ({{docs}})
SELECT doc_id,
       'POINT M (' || {_ZX} || ' ' || {_ZY} || ' ' || {_MM} || ')' AS pm,
       CAST({_MM} AS DOUBLE) AS mval,
       'POINT ZM (' || {_ZX} || ' ' || {_ZY} || ' ' || {_ZZ} || ' ' || {_MM} || ')' AS pzm,
       'POINT Z (' || {_ZX} || ' ' || {_ZY} || ' ' || {_ZZ} || ')' AS dropped,
       CAST({_ZZ} AS DOUBLE) AS zval,
       true AS pm_measured,
       false AS dropped_measured,
       CAST(NULL AS DOUBLE) AS m_of_2d
FROM docs
"""


@register("st_mgeom", _MGEOM_ORACLE.format(docs=_DOCS_CTE))
def q_st_mgeom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.functions.zgeom import (
        st_drop_m,
        st_is_measured,
        st_m,
        st_makepoint_m,
        st_makepoint_zm,
        st_z,
    )

    docs = corpus.load_docs(spark, sf_dir).selectExpr(
        "doc_id",
        f"CAST({_ZX} AS DOUBLE) AS zx",
        f"CAST({_ZY} AS DOUBLE) AS zy",
        f"CAST({_ZZ} AS DOUBLE) AS zz",
        f"CAST({_MM} AS DOUBLE) AS mm",
        f"'POINT (' || {_ZX} || ' ' || {_ZY} || ')' AS p2d",
    )
    pm = st_makepoint_m(F.col("zx"), F.col("zy"), F.col("mm"))
    pzm = st_makepoint_zm(F.col("zx"), F.col("zy"), F.col("zz"), F.col("mm"))
    dropped = st_drop_m(pzm)
    return docs.select(
        "doc_id",
        pm.alias("pm"),
        st_m(pm).alias("mval"),
        pzm.alias("pzm"),
        dropped.alias("dropped"),
        st_z(dropped).alias("zval"),
        st_is_measured(pm).alias("pm_measured"),
        st_is_measured(dropped).alias("dropped_measured"),
        st_m(F.col("p2d")).alias("m_of_2d"),
    )


# --------------------------------------------------------------------------
# Geometry-collection surface (ogrgeometrycollection.cpp getNumGeometries,
# ogr_api.h OGR_G_GetGeometryCount/GetGeometryRef — a POLYGON's
# sub-geometries are its rings; ogrgeometryfactory.cpp forceToMulti*;
# ogrmultipoint.cpp importFromWkt accepts both MULTIPOINT spellings and
# exports the legacy one).  Inputs are MULTIPOINT (ISO spelling, so the
# canonical re-emit proves the dual-spelling parse), MULTILINESTRING,
# holed POLYGON, GEOMETRYCOLLECTION, and bare POINT built from doc_id
# arithmetic; the oracle reconstructs every output INDEPENDENTLY by
# string concatenation — a cross-implementation check of the collection
# codec, accessors, and forceTo-multi constructors.
# --------------------------------------------------------------------------
_CA = "(doc_id % 100)"   # 0..99
_CB = "((doc_id * 3) % 50)"  # 0..49
_CC = "(doc_id % 7)"
_CD = "(doc_id % 11)"

_COLLECTIONS_ORACLE = f"""
WITH docs AS ({{docs}}), g AS (
  SELECT doc_id,
         CAST({_CA} AS VARCHAR) AS a, CAST({_CB} AS VARCHAR) AS b,
         CAST({_CC} AS VARCHAR) AS c, CAST({_CD} AS VARCHAR) AS d,
         CAST({_CA} + 1 AS VARCHAR) AS a1, CAST({_CA} + 2 AS VARCHAR) AS a2,
         CAST({_CB} + 1 AS VARCHAR) AS b1, CAST({_CB} + 2 AS VARCHAR) AS b2
  FROM docs
)
SELECT doc_id,
       'MULTIPOINT' AS mp_type,
       'MULTIPOINT (' || a || ' ' || b || ',' || c || ' ' || d || ')' AS mp_canon,
       2 AS mp_n,
       'POINT (' || c || ' ' || d || ')' AS mp_g1,
       CAST(NULL AS VARCHAR) AS mp_g2,
       2 AS ml_n,
       'LINESTRING (0 0,' || a || ' ' || b || ')' AS ml_g0,
       2 AS poly_n,
       'LINEARRING (' || a1 || ' ' || b1 || ',' || a2 || ' ' || b1 || ','
           || a2 || ' ' || b2 || ',' || a1 || ' ' || b2 || ','
           || a1 || ' ' || b1 || ')' AS poly_ring1,
       'GEOMETRYCOLLECTION' AS gc_type,
       2 AS gc_n,
       'POINT (' || a || ' ' || b || ')' AS gc_g0,
       'MULTIPOINT (' || a || ' ' || b || ')' AS pt_multi,
       0 AS pt_n,
       'MULTIPOLYGON (((0 0,200 0,200 200,0 200,0 0),('
           || a1 || ' ' || b1 || ',' || a2 || ' ' || b1 || ','
           || a2 || ' ' || b2 || ',' || a1 || ' ' || b2 || ','
           || a1 || ' ' || b1 || ')))' AS pg_multi
FROM g
"""


@register("st_collections", _COLLECTIONS_ORACLE.format(docs=_DOCS_CTE))
def q_st_collections(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.functions.collections import (
        st_geometryn,
        st_geometrytype,
        st_multi,
        st_numgeometries,
    )

    docs = corpus.load_docs(spark, sf_dir).selectExpr(
        "doc_id",
        f"CAST({_CA} AS STRING) AS a", f"CAST({_CB} AS STRING) AS b",
        f"CAST({_CC} AS STRING) AS c", f"CAST({_CD} AS STRING) AS d",
        f"CAST({_CA} + 1 AS STRING) AS a1", f"CAST({_CA} + 2 AS STRING) AS a2",
        f"CAST({_CB} + 1 AS STRING) AS b1", f"CAST({_CB} + 2 AS STRING) AS b2",
    ).selectExpr(
        "doc_id",
        "'MULTIPOINT ((' || a || ' ' || b || '),(' || c || ' ' || d || '))'"
        " AS mp_iso",
        "'MULTILINESTRING ((0 0,' || a || ' ' || b || '),(' || a || ' ' || b"
        " || ',' || c || ' ' || d || '))' AS ml",
        "'POLYGON ((0 0,200 0,200 200,0 200,0 0),(' || a1 || ' ' || b1 || ','"
        " || a2 || ' ' || b1 || ',' || a2 || ' ' || b2 || ',' || a1 || ' '"
        " || b2 || ',' || a1 || ' ' || b1 || '))' AS poly",
        "'GEOMETRYCOLLECTION (POINT (' || a || ' ' || b || '),LINESTRING"
        " (0 0,' || c || ' ' || d || '))' AS gc",
        "'POINT (' || a || ' ' || b || ')' AS pt",
    )
    return docs.select(
        "doc_id",
        st_geometrytype(F.col("mp_iso")).alias("mp_type"),
        st_multi(F.col("mp_iso")).alias("mp_canon"),
        st_numgeometries(F.col("mp_iso")).alias("mp_n"),
        st_geometryn(F.col("mp_iso"), 1).alias("mp_g1"),
        st_geometryn(F.col("mp_iso"), 2).alias("mp_g2"),
        st_numgeometries(F.col("ml")).alias("ml_n"),
        st_geometryn(F.col("ml"), 0).alias("ml_g0"),
        st_numgeometries(F.col("poly")).alias("poly_n"),
        st_geometryn(F.col("poly"), 1).alias("poly_ring1"),
        st_geometrytype(F.col("gc")).alias("gc_type"),
        st_numgeometries(F.col("gc")).alias("gc_n"),
        st_geometryn(F.col("gc"), 0).alias("gc_g0"),
        st_multi(F.col("pt")).alias("pt_multi"),
        st_numgeometries(F.col("pt")).alias("pt_n"),
        st_multi(F.col("poly")).alias("pg_multi"),
    )


# --------------------------------------------------------------------------
# Mixed-container explode + swapXY (apps/gdalalg_vector_
# explode_collections.cpp; ogrgeometry.cpp OGRGeometry::swapXY): the
# `explode_collections` query covers the MULTIPOLYGON layer path; this
# one fans a MIXED corpus-sized layer (MULTIPOINT / GEOMETRYCOLLECTION /
# bare POINT by doc_id % 3) to one row per member — part index kept,
# member type named, coordinates swapped as a second column.  Spark
# shape: one Arrow UDF -> posexplode Generate (no shuffle); the oracle
# rebuilds the fan-out with UNION ALL + string concatenation,
# independent of the codec.
# --------------------------------------------------------------------------
_EXPLODE_MIXED_ORACLE = f"""
WITH docs AS ({{docs}}), g AS (
  SELECT doc_id, doc_id % 3 AS kind,
         CAST({_CA} AS VARCHAR) AS a, CAST({_CB} AS VARCHAR) AS b,
         CAST({_CC} AS VARCHAR) AS c, CAST({_CD} AS VARCHAR) AS d
  FROM docs
)
SELECT doc_id, 0 AS part,
       CASE kind WHEN 0 THEN 'POINT (' || c || ' ' || d || ')'
                 ELSE 'POINT (' || a || ' ' || b || ')' END AS geom,
       'POINT' AS gtype,
       CASE kind WHEN 0 THEN 'POINT (' || d || ' ' || c || ')'
                 ELSE 'POINT (' || b || ' ' || a || ')' END AS swapped
FROM g
UNION ALL
SELECT doc_id, 1,
       CASE kind WHEN 0 THEN 'POINT (' || a || ' ' || b || ')'
                 ELSE 'LINESTRING (0 0,' || c || ' ' || d || ')' END,
       CASE kind WHEN 0 THEN 'POINT' ELSE 'LINESTRING' END,
       CASE kind WHEN 0 THEN 'POINT (' || b || ' ' || a || ')'
                 ELSE 'LINESTRING (0 0,' || d || ' ' || c || ')' END
FROM g WHERE kind IN (0, 1)
"""


@register("explode_mixed", _EXPLODE_MIXED_ORACLE.format(docs=_DOCS_CTE))
def q_explode_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.functions.collections import (
        st_explode_parts,
        st_geometrytype,
        st_swapxy,
    )

    docs = corpus.load_docs(spark, sf_dir).selectExpr(
        "doc_id",
        f"CAST({_CA} AS STRING) AS a", f"CAST({_CB} AS STRING) AS b",
        f"CAST({_CC} AS STRING) AS c", f"CAST({_CD} AS STRING) AS d",
    ).selectExpr(
        "doc_id",
        "CASE CAST(doc_id % 3 AS INT)"
        " WHEN 0 THEN 'MULTIPOINT ((' || c || ' ' || d || '),(' || a || ' '"
        " || b || '))'"
        " WHEN 1 THEN 'GEOMETRYCOLLECTION (POINT (' || a || ' ' || b ||"
        " '),LINESTRING (0 0,' || c || ' ' || d || '))'"
        " ELSE 'POINT (' || a || ' ' || b || ')' END AS wkt",
    )
    exploded = docs.select(
        "doc_id",
        F.posexplode(st_explode_parts(F.col("wkt"))).alias("part", "geom"),
    )
    return exploded.select(
        "doc_id",
        "part",
        "geom",
        st_geometrytype(F.col("geom")).alias("gtype"),
        st_swapxy(F.col("geom")).alias("swapped"),
    )


# --------------------------------------------------------------------------
# Rasterize (alg/gdalrasterize.cpp scanline burn): burned-pixel counts
# per tile at zoom 2, oracle = pixel-center containment in SQL (inverse
# mercator via atan/exp, identical formula text).
# --------------------------------------------------------------------------
_RZOOM = 2
_R_RES = mercator.sql_double(mercator.INITIAL_RESOLUTION / (2**_RZOOM))
_R_OS = mercator.sql_double(mercator.ORIGIN_SHIFT)

_RASTERIZE_ORACLE = f"""
WITH z AS ({_ZONES_CTE}),
t AS (SELECT a.tx, b.ty FROM range(0, {2**_RZOOM}) a(tx), range(0, {2**_RZOOM}) b(ty)),
px AS (
  SELECT t.tx, t.ty, i.ci, j.rj FROM t, range(0, 256) i(ci), range(0, 256) j(rj)
),
c AS (
  SELECT tx, ty, ci, rj,
         (((tx * 256 + ci + 5.0e-1) * {_R_RES} - {_R_OS}) / {_R_OS}) * 1.8e2 AS lon,
         1.8e2 / pi() * (2.0e0 * atan(exp(((((ty * 256 + rj + 5.0e-1) * {_R_RES} - {_R_OS}) / {_R_OS}) * 1.8e2) * pi() / 1.8e2)) - pi() / 2.0e0) AS lat
  FROM px
),
hit AS (
  SELECT DISTINCT c.tx, c.ty, c.ci, c.rj
  FROM c JOIN z
    ON c.lon > z.zxmin AND c.lon < z.zxmax AND c.lat > z.zymin AND c.lat < z.zymax
)
SELECT CAST({_RZOOM} AS int) AS zoom, tx, ty, CAST(count(*) AS int) AS n_burned
FROM hit GROUP BY tx, ty
"""


@register("rasterize_counts", _RASTERIZE_ORACLE)
def q_rasterize_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.rasterize import rasterize_counts

    z = zones.rect_zones(spark).drop("zxmin", "zymin", "zxmax", "zymax")
    out = rasterize_counts(z.select("zone_id", "geom_wkt"), _RZOOM)
    return out.filter(F.col("n_burned") > 0)


# ALL_TOUCHED rasterize (GDAL_ALL_TOUCHED, alg/llrasterize.cpp
# GDALdllImageLineAllTouched): a pixel burns when its CELL overlaps the
# polygon, not just its center.  Rect-zone oracle: open-interval overlap
# of the pixel cell [lon(e), lon(e+1)] x [lat(r), lat(r+1)] (same
# inverse-mercator text, edge offsets instead of +0.5 centers).
_RASTERIZE_T_ORACLE = f"""
WITH z AS ({_ZONES_CTE}),
t AS (SELECT a.tx, b.ty FROM range(0, {2**_RZOOM}) a(tx), range(0, {2**_RZOOM}) b(ty)),
px AS (
  SELECT t.tx, t.ty, i.ci, j.rj FROM t, range(0, 256) i(ci), range(0, 256) j(rj)
),
c AS (
  SELECT tx, ty, ci, rj,
         (((tx * 256 + ci) * {_R_RES} - {_R_OS}) / {_R_OS}) * 1.8e2 AS lon0,
         (((tx * 256 + ci + 1) * {_R_RES} - {_R_OS}) / {_R_OS}) * 1.8e2 AS lon1,
         1.8e2 / pi() * (2.0e0 * atan(exp(((((ty * 256 + rj) * {_R_RES} - {_R_OS}) / {_R_OS}) * 1.8e2) * pi() / 1.8e2)) - pi() / 2.0e0) AS lat0,
         1.8e2 / pi() * (2.0e0 * atan(exp(((((ty * 256 + rj + 1) * {_R_RES} - {_R_OS}) / {_R_OS}) * 1.8e2) * pi() / 1.8e2)) - pi() / 2.0e0) AS lat1
  FROM px
),
hit AS (
  SELECT DISTINCT c.tx, c.ty, c.ci, c.rj
  FROM c JOIN z
    ON c.lon0 < z.zxmax AND z.zxmin < c.lon1
   AND c.lat0 < z.zymax AND z.zymin < c.lat1
)
SELECT CAST({_RZOOM} AS int) AS zoom, tx, ty, CAST(count(*) AS int) AS n_burned
FROM hit GROUP BY tx, ty
"""


@register("rasterize_touched", _RASTERIZE_T_ORACLE)
def q_rasterize_touched(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.rasterize import rasterize_counts

    z = zones.rect_zones(spark).drop("zxmin", "zymin", "zxmax", "zymax")
    out = rasterize_counts(
        z.select("zone_id", "geom_wkt"), _RZOOM, all_touched=True
    )
    return out.filter(F.col("n_burned") > 0)


# Inverse rasterize (gdal_rasterize -i, gdal_rasterize_lib.cpp bInverse →
# gdalrasterize.cpp InvertGeometries): burn everywhere NOT inside any
# polygon — per tile the complement of the union mask over the FULL
# zoom-grid (candidate-free tiles burn all 65536 pixels).  Oracle: the
# same pixel-center hit set subtracted from the generated full grid.
_RASTERIZE_I_ORACLE = f"""
WITH z AS ({_ZONES_CTE}),
t AS (SELECT a.tx, b.ty FROM range(0, {2**_RZOOM}) a(tx), range(0, {2**_RZOOM}) b(ty)),
px AS (
  SELECT t.tx, t.ty, i.ci, j.rj FROM t, range(0, 256) i(ci), range(0, 256) j(rj)
),
c AS (
  SELECT tx, ty, ci, rj,
         (((tx * 256 + ci + 5.0e-1) * {_R_RES} - {_R_OS}) / {_R_OS}) * 1.8e2 AS lon,
         1.8e2 / pi() * (2.0e0 * atan(exp(((((ty * 256 + rj + 5.0e-1) * {_R_RES} - {_R_OS}) / {_R_OS}) * 1.8e2) * pi() / 1.8e2)) - pi() / 2.0e0) AS lat
  FROM px
),
hit AS (
  SELECT DISTINCT c.tx, c.ty, c.ci, c.rj
  FROM c JOIN z
    ON c.lon > z.zxmin AND c.lon < z.zxmax AND c.lat > z.zymin AND c.lat < z.zymax
),
hc AS (SELECT tx, ty, count(*) AS cov FROM hit GROUP BY tx, ty)
SELECT CAST({_RZOOM} AS int) AS zoom, t.tx, t.ty,
       CAST(65536 - COALESCE(hc.cov, 0) AS int) AS n_burned
FROM t LEFT JOIN hc ON t.tx = hc.tx AND t.ty = hc.ty
"""


@register("rasterize_invert", _RASTERIZE_I_ORACLE)
def q_rasterize_invert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.rasterize import rasterize_invert_counts

    z = zones.rect_zones(spark).drop("zxmin", "zymin", "zxmax", "zymax")
    return rasterize_invert_counts(z.select("zone_id", "geom_wkt"), _RZOOM)


# --------------------------------------------------------------------------
# DEM gradient (gdaldem Horn stencil) — focal op with per-tile halo
# exchange; integer dzdx/dzdy so the formula oracle is bit-exact.
# --------------------------------------------------------------------------
_GRAD_ORACLE = f"""
WITH g AS (
  SELECT CAST(px.i AS int) AS px, CAST(py.j AS int) AS py
  FROM range(1, {SRC_W - 1}) px(i), range(1, {SRC_H - 1}) py(j)
)
SELECT px, py,
  ((((px+1) * 7 + (py-1) * 13 + 29) % 256) + 2 * (((px+1) * 7 + py * 13 + 29) % 256) + (((px+1) * 7 + (py+1) * 13 + 29) % 256))
  - ((((px-1) * 7 + (py-1) * 13 + 29) % 256) + 2 * (((px-1) * 7 + py * 13 + 29) % 256) + (((px-1) * 7 + (py+1) * 13 + 29) % 256)) AS dzdx,
  ((((px-1) * 7 + (py+1) * 13 + 29) % 256) + 2 * ((px * 7 + (py+1) * 13 + 29) % 256) + (((px+1) * 7 + (py+1) * 13 + 29) % 256))
  - ((((px-1) * 7 + (py-1) * 13 + 29) % 256) + 2 * ((px * 7 + (py-1) * 13 + 29) % 256) + (((px+1) * 7 + (py-1) * 13 + 29) % 256)) AS dzdy
FROM g
"""


@register("dem_gradient", _GRAD_ORACLE)
def q_dem_gradient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horn 3x3 gradient of band 1 (value = (px*7+py*13+29)%256 → +36
    constant term in the oracle is band*29+7... expanded per formula)."""
    from gdal_spark.operators.focal import dem_gradient
    from gdal_spark.operators.raster import source_grid

    band1 = source_grid(spark).filter(F.col("band") == 1).select("px", "py", "value")
    return dem_gradient(band1, SRC_W, SRC_H)


# --------------------------------------------------------------------------
# DEM float derivatives (gdaldem slope/aspect/hillshade, apps/
# gdaldem_lib.cpp): Horn p/q from the integer gradient, then
#   * slope as p2q2 = dzdx² + dzdy² (monotone in tan(slope) — integer, so
#     bit-exact; the atan/deg conversion is a display transform);
#   * aspect as its OCTANT (0..7 from N clockwise; integer comparisons);
#   * hillshade alt=45° az=315° — sin/cos collapse to sqrt(0.5), so the
#     formula is +-*/sqrt only; the SAME text runs in F.expr and DuckDB,
#     making every bit identical (floor(hs*1e4) is then safe).
# --------------------------------------------------------------------------
_HP = "(CAST(dzdx AS DOUBLE) / 8.0e0)"
_HQ = "(0.0e0 - CAST(dzdy AS DOUBLE) / 8.0e0)"  # north-positive q
_HS_EXPR = (
    f"(2.55e2 * (sqrt(5.0e-1) - sqrt(5.0e-1) * ({_HP} * (0.0e0 - sqrt(5.0e-1))"
    f" + {_HQ} * sqrt(5.0e-1))) / sqrt(1.0e0 + {_HP} * {_HP} + {_HQ} * {_HQ}))"
)
_ASPECT_OCTANT = """
CAST(CASE
  WHEN dzdx = 0 AND dzdy = 0 THEN -1
  WHEN dzdy < 0 AND abs(dzdx) <= abs(dzdy) AND dzdx >= 0 THEN 0
  WHEN dzdx > 0 AND abs(dzdy) < abs(dzdx) AND dzdy <= 0 THEN 1
  WHEN dzdx > 0 AND abs(dzdy) <= abs(dzdx) AND dzdy > 0 THEN 2
  WHEN dzdy > 0 AND abs(dzdx) < abs(dzdy) AND dzdx > 0 THEN 3
  WHEN dzdy > 0 AND abs(dzdx) <= abs(dzdy) AND dzdx <= 0 THEN 4
  WHEN dzdx < 0 AND abs(dzdy) < abs(dzdx) AND dzdy >= 0 THEN 5
  WHEN dzdx < 0 AND abs(dzdy) <= abs(dzdx) AND dzdy < 0 THEN 6
  ELSE 7 END AS INT)
"""

_DEM_DERIV_ORACLE = f"""
WITH grad AS ({_GRAD_ORACLE})
SELECT px, py,
       CAST(dzdx * dzdx + dzdy * dzdy AS BIGINT) AS slope_p2q2,
       {_ASPECT_OCTANT} AS aspect_octant,
       CAST(floor({_HS_EXPR} * 1.0e4) AS BIGINT) AS hs4
FROM grad
"""


@register("dem_derivatives", _DEM_DERIV_ORACLE)
def q_dem_derivatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.focal import dem_gradient
    from gdal_spark.operators.raster import source_grid

    band1 = source_grid(spark).filter(F.col("band") == 1).select("px", "py", "value")
    g = dem_gradient(band1, SRC_W, SRC_H)
    return g.select(
        "px",
        "py",
        F.expr("CAST(dzdx * dzdx + dzdy * dzdy AS BIGINT)").alias("slope_p2q2"),
        F.expr(_ASPECT_OCTANT).alias("aspect_octant"),
        F.expr(f"CAST(floor({_HS_EXPR} * 1.0e4) AS BIGINT)").alias("hs4"),
    )


# --------------------------------------------------------------------------
# gdaldem slope/aspect EXACT float outputs (apps/gdaldem_lib.cpp:
# GDALSlopeHornAlg scale=1 degrees, GDALAspectAlg azimuth mode) — now
# that JVM↔DuckDB trig bit-parity is established (curve_to_line), the
# earlier octant/p2q2 integer proxies get their true float twins:
#   slope_deg  = float(atan(sqrt(dx²+dy²)/8) · 180/π)
#   aspect_deg = float(atan2(dy,−dx)/(π/180)), rounded to FLOAT exactly
#     where the reference casts, azimuth-adjusted IN THE FLOAT DOMAIN
#     (450−a / 90−a on the already-rounded float — double-subtract of
#     floats is exact, so the re-round equals IEEE float subtraction),
#     360→0, flat → NULL (the nodata path).
# Outputs widened to DOUBLE only for transport (exact).
# --------------------------------------------------------------------------
_ASPECT_ATAN_F = (
    "CAST(atan2(CAST(dzdy AS DOUBLE), 0.0e0 - CAST(dzdx AS DOUBLE))"
    " / (pi() / 1.8e2) AS FLOAT)"
)
_SLOPE_DEG_F = (
    "CAST(atan(sqrt(CAST(dzdx AS DOUBLE) * CAST(dzdx AS DOUBLE)"
    " + CAST(dzdy AS DOUBLE) * CAST(dzdy AS DOUBLE)) / 8.0e0)"
    " * (1.8e2 / pi()) AS FLOAT)"
)
_DEM_FLOAT_STAGE1 = (
    f"{_SLOPE_DEG_F} AS slope_f",
    f"{_ASPECT_ATAN_F} AS aspect_f",
)
_DEM_FLOAT_STAGE2 = (
    "CAST(slope_f AS DOUBLE) AS slope_deg",
    "CAST(CASE WHEN dzdx = 0 AND dzdy = 0 THEN NULL ELSE"
    " (CASE WHEN (CASE WHEN aspect_f > CAST(9.0e1 AS FLOAT)"
    " THEN CAST(4.5e2 - CAST(aspect_f AS DOUBLE) AS FLOAT)"
    " ELSE CAST(9.0e1 - CAST(aspect_f AS DOUBLE) AS FLOAT) END)"
    " = CAST(3.6e2 AS FLOAT) THEN CAST(0.0e0 AS FLOAT)"
    " ELSE (CASE WHEN aspect_f > CAST(9.0e1 AS FLOAT)"
    " THEN CAST(4.5e2 - CAST(aspect_f AS DOUBLE) AS FLOAT)"
    " ELSE CAST(9.0e1 - CAST(aspect_f AS DOUBLE) AS FLOAT) END) END)"
    " END AS DOUBLE) AS aspect_deg",
)

_DEM_FLOAT_ORACLE = f"""
WITH grad AS ({_GRAD_ORACLE}),
s1 AS (SELECT px, py, dzdx, dzdy, {", ".join(_DEM_FLOAT_STAGE1)} FROM grad)
SELECT px, py, {", ".join(_DEM_FLOAT_STAGE2)} FROM s1
"""


@register("dem_float_deriv", _DEM_FLOAT_ORACLE)
def q_dem_float_deriv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.focal import dem_gradient
    from gdal_spark.operators.raster import source_grid

    band1 = source_grid(spark).filter(F.col("band") == 1).select("px", "py", "value")
    g = dem_gradient(band1, SRC_W, SRC_H)
    s1 = g.selectExpr("px", "py", "dzdx", "dzdy", *_DEM_FLOAT_STAGE1)
    return s1.selectExpr("px", "py", *_DEM_FLOAT_STAGE2)


# --------------------------------------------------------------------------
# Zevenbergen–Thorne slope/aspect (gdaldem -alg ZevenbergenThorne;
# GDALSlopeZevenbergenThorneAlg / GDALAspectZevenbergenThorneAlg):
# simple central differences dzdx = e−w, dzdy = s−n, slope divisor 2
# instead of Horn's 8; aspect formula identical to the Horn path
# (atan2(dy, −dx) on the ZT differences).  Same float-rounding points.
# --------------------------------------------------------------------------
_SLOPE_DEG_F_ZT = _SLOPE_DEG_F.replace("/ 8.0e0", "/ 2.0e0")
_DEM_ZT_STAGE1 = (
    f"{_SLOPE_DEG_F_ZT} AS slope_f",
    f"{_ASPECT_ATAN_F} AS aspect_f",
)

_GRAD_ZT_ORACLE = f"""
WITH g AS (
  SELECT CAST(px.i AS int) AS px, CAST(py.j AS int) AS py
  FROM range(1, {SRC_W - 1}) px(i), range(1, {SRC_H - 1}) py(j)
)
SELECT px, py,
  (((px+1) * 7 + py * 13 + 29) % 256) - (((px-1) * 7 + py * 13 + 29) % 256) AS dzdx,
  ((px * 7 + (py+1) * 13 + 29) % 256) - ((px * 7 + (py-1) * 13 + 29) % 256) AS dzdy
FROM g
"""

_DEM_ZT_ORACLE = f"""
WITH grad AS ({_GRAD_ZT_ORACLE}),
s1 AS (SELECT px, py, dzdx, dzdy, {", ".join(_DEM_ZT_STAGE1)} FROM grad)
SELECT px, py, {", ".join(_DEM_FLOAT_STAGE2)} FROM s1
"""


@register("dem_zt_deriv", _DEM_ZT_ORACLE)
def q_dem_zt_deriv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.focal import dem_gradient
    from gdal_spark.operators.raster import source_grid

    band1 = source_grid(spark).filter(F.col("band") == 1).select("px", "py", "value")
    g = dem_gradient(band1, SRC_W, SRC_H, alg="zt")
    s1 = g.selectExpr("px", "py", "dzdx", "dzdy", *_DEM_ZT_STAGE1)
    return s1.selectExpr("px", "py", *_DEM_FLOAT_STAGE2)


# --------------------------------------------------------------------------
# gdaldem slope -p (percent slope, slopeFormat=0): the OTHER branch of
# GDALSlopeHornAlg / GDALSlopeZevenbergenThorneAlg (gdaldem_lib.cpp:1364,
# 1382) — float(100 * (sqrt(dx²+dy²) / 8)) for Horn, divisor 2 for ZT;
# same gradient machinery as the degree queries, same float cast point.
# --------------------------------------------------------------------------
_SLOPE_PCT_F = (
    "CAST(1.0e2 * (sqrt(CAST(dzdx AS DOUBLE) * CAST(dzdx AS DOUBLE)"
    " + CAST(dzdy AS DOUBLE) * CAST(dzdy AS DOUBLE)) / 8.0e0) AS FLOAT)"
)
_SLOPE_PCT_F_ZT = _SLOPE_PCT_F.replace("/ 8.0e0", "/ 2.0e0")

_DEM_SLOPE_PCT_ORACLE = f"""
WITH gh AS ({_GRAD_ORACLE}),
h AS (SELECT px, py, {_SLOPE_PCT_F} AS sp FROM gh),
gz AS ({_GRAD_ZT_ORACLE}),
z AS (SELECT px, py, {_SLOPE_PCT_F_ZT} AS spz FROM gz)
SELECT h.px, h.py, CAST(h.sp AS DOUBLE) AS slope_pct_horn,
       CAST(z.spz AS DOUBLE) AS slope_pct_zt
FROM h JOIN z ON h.px = z.px AND h.py = z.py
"""


@register("dem_slope_pct", _DEM_SLOPE_PCT_ORACLE)
def q_dem_slope_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.focal import dem_gradient
    from gdal_spark.operators.raster import source_grid

    band1 = source_grid(spark).filter(F.col("band") == 1).select("px", "py", "value")
    h = (
        dem_gradient(band1, SRC_W, SRC_H)
        .selectExpr("px", "py", f"{_SLOPE_PCT_F} AS sp")
    )
    z = (
        dem_gradient(band1, SRC_W, SRC_H, alg="zt")
        .selectExpr("px", "py", f"{_SLOPE_PCT_F_ZT} AS spz")
    )
    return h.join(z, ["px", "py"]).selectExpr(
        "px",
        "py",
        "CAST(sp AS DOUBLE) AS slope_pct_horn",
        "CAST(spz AS DOUBLE) AS slope_pct_zt",
    )


# --------------------------------------------------------------------------
# gdaldem hillshade -multidirectional (GDALHillshadeMultiDirectionalAlg,
# apps/gdaldem_lib.cpp; USGS OF 92-422 four-azimuth weighting): Horn
# gradient with GT=(1,-1) north-up, z=1, alt=45 → per-azimuth shade
# values (225/270/315/360, clamped at 0) weighted by sin²(aspect−az)
# identities, normalized by sqrt(1 + z²/64·(x²+y²)).  Uses the
# reference's portable a/sqrt(b) form — the HAVE_SSE2 build replaces it
# with an rsqrt+Newton APPROXIMATION (documented divergence; GDAL's own
# builds differ across platforms here).  Output = the algorithm's
# float32 cang (pre-byte-quantization), widened to DOUBLE for
# transport.  Constants like 127·sin(45°·π/180) constant-fold to
# identical doubles in both engines (trig parity).
# --------------------------------------------------------------------------
_HSM_K = "(pi() / 1.8e2)"
_HSM_SINALT127 = f"(1.27e2 * sin(4.5e1 * {_HSM_K}))"
_HSM_SINALT254 = f"(2.54e2 * sin(4.5e1 * {_HSM_K}))"
_HSM_CAM = f"(cos(4.5e1 * {_HSM_K}) * 1.25e-1)"  # cos_alt_mul_z, z_factor=1/8
_HSM_COSALT127 = f"(1.27e2 * {_HSM_CAM})"
_HSM_COS225C = f"(1.27e2 * cos(2.25e2 * {_HSM_K}) * {_HSM_CAM})"
_HSM_XY = (
    "(0.0e0 - CAST(dzdx AS DOUBLE)) AS hx",
    "(0.0e0 - CAST(dzdy AS DOUBLE)) AS hy",
)
_HSM_VALS = (
    f"CASE WHEN {_HSM_SINALT127} + (hx - hy) * {_HSM_COS225C} <= 0.0e0"
    f" THEN 0.0e0 ELSE {_HSM_SINALT127} + (hx - hy) * {_HSM_COS225C} END AS v225",
    f"CASE WHEN {_HSM_SINALT127} - hx * {_HSM_COSALT127} <= 0.0e0"
    f" THEN 0.0e0 ELSE {_HSM_SINALT127} - hx * {_HSM_COSALT127} END AS v270",
    f"CASE WHEN {_HSM_SINALT127} + (hx + hy) * {_HSM_COS225C} <= 0.0e0"
    f" THEN 0.0e0 ELSE {_HSM_SINALT127} + (hx + hy) * {_HSM_COS225C} END AS v315",
    f"CASE WHEN {_HSM_SINALT127} - hy * {_HSM_COSALT127} <= 0.0e0"
    f" THEN 0.0e0 ELSE {_HSM_SINALT127} - hy * {_HSM_COSALT127} END AS v360",
    "(5.0e-1 * (hx * hx + hy * hy) - hx * hy) AS w225",
    "(hx * hx) AS w270",
    "((hx * hx + hy * hy) - (5.0e-1 * (hx * hx + hy * hy) - hx * hy)) AS w315",
    "(hy * hy) AS w360",
    "(hx * hx + hy * hy) AS xpy",
)
_HSM_OUT = (
    f"CAST(CAST(CASE WHEN xpy = 0.0e0 THEN 1.0e0 + {_HSM_SINALT254}"
    " ELSE 1.0e0 + ((w225 * v225 + w270 * v270 + w315 * v315 + w360 * v360)"
    " / xpy) / sqrt(1.0e0 + 1.5625e-2 * xpy) END AS FLOAT) AS DOUBLE)"
    " AS hs_multi"
)

_HSM_ORACLE = f"""
WITH grad AS ({_GRAD_ORACLE}),
xy AS (SELECT px, py, {", ".join(_HSM_XY)} FROM grad),
v AS (SELECT px, py, {", ".join(_HSM_VALS)} FROM xy)
SELECT px, py, {_HSM_OUT} FROM v
"""

# gdaldem hillshade -combined (GDALHillshadeCombinedAlg,
# apps/gdaldem_lib.cpp:1139): shade angle acos-ed and blended with the
# slope angle — cang = 1 − acos(shade)·atan(sqrt(slope))·4/π²; ≤ 0
# clamps to 1.0f, else float32(1 + 254·cang).  Same alt=45/az=315
# Horn setup as the classic hillshade; acos/atan ride on the proven
# trig parity.
_HSC_SINALT = f"sin(4.5e1 * {_HSM_K})"
_HSC_CAZ = f"(cos(3.15e2 * {_HSM_K}) * {_HSM_CAM})"
_HSC_SAZ = f"(sin(3.15e2 * {_HSM_K}) * {_HSM_CAM})"
_HSC_STAGE = (
    "(hx * hx + hy * hy) * 1.5625e-2 AS slp",
    f"({_HSC_SINALT} - (hy * {_HSC_CAZ} - hx * {_HSC_SAZ})) AS shade_num",
)
_HSC_OUT = (
    "CAST(CASE WHEN (1.0e0 - acos(shade_num / sqrt(1.0e0 + slp))"
    " * atan(sqrt(slp)) * (1.0e0 / ((pi() * pi()) / 4.0e0))) <= 0.0e0"
    " THEN CAST(1.0e0 AS FLOAT)"
    " ELSE CAST(1.0e0 + (2.54e2 * (1.0e0 - acos(shade_num / sqrt(1.0e0 + slp))"
    " * atan(sqrt(slp)) * (1.0e0 / ((pi() * pi()) / 4.0e0)))) AS FLOAT)"
    " END AS DOUBLE) AS hs_combined"
)

_HSC_ORACLE = f"""
WITH grad AS ({_GRAD_ORACLE}),
xy AS (SELECT px, py, {", ".join(_HSM_XY)} FROM grad),
s AS (SELECT px, py, {", ".join(_HSC_STAGE)} FROM xy)
SELECT px, py, {_HSC_OUT} FROM s
"""


@register("hillshade_combined", _HSC_ORACLE)
def q_hillshade_combined(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.focal import dem_gradient
    from gdal_spark.operators.raster import source_grid

    band1 = source_grid(spark).filter(F.col("band") == 1).select("px", "py", "value")
    g = dem_gradient(band1, SRC_W, SRC_H)
    xy = g.selectExpr("px", "py", *_HSM_XY)
    s = xy.selectExpr("px", "py", *_HSC_STAGE)
    return s.selectExpr("px", "py", _HSC_OUT)


@register("hillshade_multi", _HSM_ORACLE)
def q_hillshade_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.focal import dem_gradient
    from gdal_spark.operators.raster import source_grid

    band1 = source_grid(spark).filter(F.col("band") == 1).select("px", "py", "value")
    g = dem_gradient(band1, SRC_W, SRC_H)
    xy = g.selectExpr("px", "py", *_HSM_XY)
    v = xy.selectExpr("px", "py", *_HSM_VALS)
    return v.selectExpr("px", "py", _HSM_OUT)


# gdaldem hillshade -z 2 -alt 60 -az 225 (the parameter knobs of
# GDALCreateHillshadeData, gdaldem_lib.cpp:1171-1194): z folds into
# z_factor = z/8 inside the cos_alt/square_z constants; the shade is
# cang254 = (254·sin(alt) − (hy·cosaz·cosalt·zf·254 − hx·sinaz·cosalt·
# zf·254)) / sqrt(1 + zf²·(hx²+hy²)), then the Byte convention
# float(<=0 ? 1 : 1 + cang254) (GDALHillshadeAlg :879-893 portable
# a/sqrt(b) path).  Every constant one shared trig text.
_HSP_ZF = "2.5e-1"  # z=2, Horn divisor 8
_HSP_SINALT254 = f"(2.54e2 * sin(6.0e1 * {_HSM_K}))"
_HSP_CAM = f"(cos(6.0e1 * {_HSM_K}) * {_HSP_ZF})"
_HSP_COSAZC = f"(2.54e2 * cos(2.25e2 * {_HSM_K}) * {_HSP_CAM})"
_HSP_SINAZC = f"(2.54e2 * sin(2.25e2 * {_HSM_K}) * {_HSP_CAM})"
_HSP_NUM = f"({_HSP_SINALT254} - (hy * {_HSP_COSAZC} - hx * {_HSP_SINAZC}))"
_HSP_C254 = (
    f"({_HSP_NUM} / sqrt(1.0e0 + {_HSP_ZF} * {_HSP_ZF} * (hx * hx + hy * hy)))"
)
_HSP_OUT = (
    f"CAST(CAST(CASE WHEN {_HSP_C254} <= 0.0e0 THEN 1.0e0"
    f" ELSE 1.0e0 + {_HSP_C254} END AS FLOAT) AS DOUBLE) AS hs_params"
)

_HSP_ORACLE = f"""
WITH grad AS ({_GRAD_ORACLE}),
xy AS (SELECT px, py, {", ".join(_HSM_XY)} FROM grad)
SELECT px, py, {_HSP_OUT} FROM xy
"""


@register("hillshade_params", _HSP_ORACLE)
def q_hillshade_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.focal import dem_gradient
    from gdal_spark.operators.raster import source_grid

    band1 = source_grid(spark).filter(F.col("band") == 1).select("px", "py", "value")
    g = dem_gradient(band1, SRC_W, SRC_H)
    xy = g.selectExpr("px", "py", *_HSM_XY)
    return xy.selectExpr("px", "py", _HSP_OUT)


# gdaldem hillshade -igor (GDALHillshadeIgorAlg, gdaldem_lib.cpp:
# 944-1000): shadowness = 1 − (slopeDeg/90)·(1 − aspectDiff/π) with
# slopeDeg = atan(sqrt(key)·z/8)·180/π on the SCALED Horn gradient,
# aspect = atan2(dy, −dx) on the UNSCALED gradient (dx = east−west =
# −hx, dy = south−north = −hy ⇒ atan2(−hy, hx)), aspectDiff the
# circular distance to 3π/2 − az; output float(255·shadowness) — NO
# 1+254 Byte shift in this alg.  z=1/az=315; NormalizeAngle's fmod
# reduces to CASE arithmetic because aspect ∈ (−π,π] and the target
# constant 3π/2 − 7π/4 = −π/4 normalizes to 7π/4 — no fmod dialect
# split.
_HIG_SLOPE = "(atan(sqrt(hx * hx + hy * hy) * 1.25e-1) * (1.8e2 / pi()))"
_HIG_TGT = f"(2.0e0 * pi() + (pi() * 3.0e0 / 2.0e0 - 3.15e2 * {_HSM_K}))"
_HIG_ASPECT = "atan2(0.0e0 - hy, hx)"
# NormalizeAngle(aspect, 2π): aspect + 2π when negative
_HIG_ANORM = (
    f"(CASE WHEN {_HIG_ASPECT} < 0.0e0"
    f" THEN 2.0e0 * pi() + {_HIG_ASPECT} ELSE {_HIG_ASPECT} END)"
)
_HIG_DIFF0 = f"abs({_HIG_ANORM} - {_HIG_TGT})"
_HIG_DIFF = (
    f"(CASE WHEN {_HIG_DIFF0} > pi() THEN 2.0e0 * pi() - {_HIG_DIFF0}"
    f" ELSE {_HIG_DIFF0} END)"
)
_HIG_SHADE = (
    f"(1.0e0 - ({_HIG_SLOPE} / 9.0e1) * (1.0e0 - {_HIG_DIFF} / pi()))"
)
_HIG_OUT = (
    f"CAST(CAST(2.55e2 * {_HIG_SHADE} AS FLOAT) AS DOUBLE) AS hs_igor"
)

_HIG_ORACLE = f"""
WITH grad AS ({_GRAD_ORACLE}),
xy AS (SELECT px, py, {", ".join(_HSM_XY)} FROM grad)
SELECT px, py, {_HIG_OUT} FROM xy
"""


@register("hillshade_igor", _HIG_ORACLE)
def q_hillshade_igor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.focal import dem_gradient
    from gdal_spark.operators.raster import source_grid

    band1 = source_grid(spark).filter(F.col("band") == 1).select("px", "py", "value")
    g = dem_gradient(band1, SRC_W, SRC_H)
    xy = g.selectExpr("px", "py", *_HSM_XY)
    return xy.selectExpr("px", "py", _HIG_OUT)


# --------------------------------------------------------------------------
# gdaldem TRI / TPI / roughness (apps/gdaldem_lib.cpp:2351-2417) — same
# halo-focal shape as the gradient; integer-exact forms (x8 / squared)
# so the synthetic-value oracle is bit-identical.
# --------------------------------------------------------------------------
_TPI_ORACLE = f"""
WITH g AS (
  SELECT CAST(px.i AS int) AS px, CAST(py.j AS int) AS py
  FROM range(1, {SRC_W - 1}) px(i), range(1, {SRC_H - 1}) py(j)
),
n AS (
  SELECT CAST(dx.v AS int) AS dx, CAST(dy.v AS int) AS dy
  FROM range(-1, 2) dx(v), range(-1, 2) dy(v)
),
v AS (
  SELECT g.px, g.py, n.dx, n.dy,
         (((g.px + n.dx) * 7 + (g.py + n.dy) * 13 + 29) % 256) AS nv,
         ((g.px * 7 + g.py * 13 + 29) % 256) AS cv
  FROM g, n
)
SELECT px, py,
  CAST(sum(CASE WHEN dx = 0 AND dy = 0 THEN 0 ELSE abs(nv - cv) END) AS BIGINT) AS tri_wilson8,
  CAST(sum(CASE WHEN dx = 0 AND dy = 0 THEN 0 ELSE (nv - cv) * (nv - cv) END) AS BIGINT) AS tri_riley2,
  CAST(sum(CASE WHEN dx = 0 AND dy = 0 THEN 0 ELSE cv - nv END) AS BIGINT) AS tpi8,
  CAST(max(nv) - min(nv) AS BIGINT) AS rough
FROM v GROUP BY px, py
"""


@register("dem_tpi", _TPI_ORACLE)
def q_dem_tpi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdaldem TRI (Wilson x8 + Riley squared), TPI x8, roughness."""
    from gdal_spark.operators.focal import dem_tpi_tri
    from gdal_spark.operators.raster import source_grid

    band1 = source_grid(spark).filter(F.col("band") == 1).select("px", "py", "value")
    return dem_tpi_tri(band1, SRC_W, SRC_H)


# --------------------------------------------------------------------------
# gdaldem color-relief (apps/gdaldem_lib.cpp:1611-1777
# GDALColorReliefGetRGBA, COLOR_SELECTION_INTERPOLATE): piecewise-linear
# LUT per channel, channel = clamp(floor(0.5 + c0 + ratio*(c1-c0)), 0,
# 255).  Pure whole-stage-codegen column math — the generated CASE text
# runs identically in F.expr and DuckDB (no Python anywhere).
# --------------------------------------------------------------------------
_RELIEF_LUT = [  # (elevation, r, g, b) — terrain-style ramp
    (0, 0, 0, 255),
    (64, 0, 255, 255),
    (128, 0, 255, 0),
    (192, 255, 255, 0),
    (255, 255, 0, 0),
]


def _relief_channel_expr(chan: int) -> str:
    """CASE text for one RGB channel over the sorted _RELIEF_LUT."""
    e0, *_ = _RELIEF_LUT[0]
    c_first = _RELIEF_LUT[0][chan]
    parts = [f"WHEN v <= {e0} THEN CAST({c_first} AS BIGINT)"]
    for (ea, *ca), (eb, *cb) in zip(_RELIEF_LUT, _RELIEF_LUT[1:]):
        c0, c1 = ca[chan - 1], cb[chan - 1]
        interp = (
            f"least(2.55e2, greatest(0.0e0, floor(5.0e-1 + {c0} + "
            f"((CAST(v AS DOUBLE) - {ea}) / ({eb} - {ea})) * ({c1} - {c0}))))"
        )
        parts.append(f"WHEN v <= {eb} THEN CAST({interp} AS BIGINT)")
    c_last = _RELIEF_LUT[-1][chan]
    return "CASE " + " ".join(parts) + f" ELSE CAST({c_last} AS BIGINT) END"


_RELIEF_ORACLE = f"""
WITH g AS (
  SELECT CAST(px.i AS int) AS px, CAST(py.j AS int) AS py,
         ((px.i * 7 + py.j * 13 + 29) % 256) AS v
  FROM range(0, {SRC_W}) px(i), range(0, {SRC_H}) py(j)
)
SELECT px, py,
       {_relief_channel_expr(1)} AS cr,
       {_relief_channel_expr(2)} AS cg,
       {_relief_channel_expr(3)} AS cb
FROM g
"""


@register("color_relief", _RELIEF_ORACLE)
def q_color_relief(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdaldem color-relief over band 1 — LUT interpolation as JVM CASE."""
    from gdal_spark.operators.raster import source_grid

    band1 = source_grid(spark).filter(F.col("band") == 1)
    return band1.select(
        "px",
        "py",
        F.col("value").alias("v"),
    ).select(
        "px",
        "py",
        F.expr(_relief_channel_expr(1)).alias("cr"),
        F.expr(_relief_channel_expr(2)).alias("cg"),
        F.expr(_relief_channel_expr(3)).alias("cb"),
    )


# --------------------------------------------------------------------------
# Polygonize (alg/polygonize.cpp:500): distributed connected components
# over equal-valued pixels (tile-local union-find + cross-tile min-label
# merge). Test raster = 50x40 blocks with cyclic values -> components
# are exactly the blocks, closed-form oracle.
# --------------------------------------------------------------------------
_PG_W, _PG_H = 400, 200
_PG_BX, _PG_BY = 50, 40
_PG_VALUE_SQL = (
    f"((cast(((px - (px % {_PG_BX})) / {_PG_BX}) as bigint)"
    f" + cast(((py - (py % {_PG_BY})) / {_PG_BY}) as bigint)) % 4)"
)

_POLYGONIZE_ORACLE = f"""
WITH b AS (
  SELECT bx.i AS bx, byy.j AS byy
  FROM range(0, {_PG_W // _PG_BX}) bx(i), range(0, {_PG_H // _PG_BY}) byy(j)
)
SELECT CAST(byy * {_PG_BY} * {_PG_W} + bx * {_PG_BX} AS bigint) AS label,
       CAST((bx + byy) % 4 AS bigint) AS value,
       CAST({_PG_BX * _PG_BY} AS bigint) AS n_pixels,
       CAST(bx * {_PG_BX} AS int) AS pxmin,
       CAST(byy * {_PG_BY} AS int) AS pymin,
       CAST(bx * {_PG_BX} + {_PG_BX - 1} AS int) AS pxmax,
       CAST(byy * {_PG_BY} + {_PG_BY - 1} AS int) AS pymax
FROM b
"""


@register("polygonize", _POLYGONIZE_ORACLE)
def q_polygonize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.polygonize import polygonize

    px_df = spark.range(_PG_W * _PG_H).select(
        (F.col("id") % _PG_W).cast("int").alias("px"),
        ((F.col("id") - (F.col("id") % _PG_W)) / _PG_W).cast("int").alias("py"),
    )
    px_df = px_df.withColumn("value", F.expr(_PG_VALUE_SQL).cast("long"))
    return polygonize(px_df, _PG_W, _PG_H)


# Masked polygonize (GDALPolygonize hMaskBand, alg/polygonize.cpp:558 —
# masked pixels emit no feature AND break connectivity; gdal_polygonize
# -mask / the default nodata mask).  Masking rows 10..14 of every block
# splits each 50x40 block into a 10-row and a 25-row component, so the
# oracle stays closed-form; labels are the raster-order min pixel id of
# each part.
_PGM_LO, _PGM_HI = 10, 14

_POLYGONIZE_MASK_ORACLE = f"""
WITH b AS (
  SELECT bx.i AS bx, byy.j AS byy
  FROM range(0, {_PG_W // _PG_BX}) bx(i), range(0, {_PG_H // _PG_BY}) byy(j)
)
SELECT CAST(byy * {_PG_BY} * {_PG_W} + bx * {_PG_BX} AS bigint) AS label,
       CAST((bx + byy) % 4 AS bigint) AS value,
       CAST({_PG_BX * _PGM_LO} AS bigint) AS n_pixels,
       CAST(bx * {_PG_BX} AS int) AS pxmin,
       CAST(byy * {_PG_BY} AS int) AS pymin,
       CAST(bx * {_PG_BX} + {_PG_BX - 1} AS int) AS pxmax,
       CAST(byy * {_PG_BY} + {_PGM_LO - 1} AS int) AS pymax
FROM b
UNION ALL
SELECT CAST((byy * {_PG_BY} + {_PGM_HI + 1}) * {_PG_W} + bx * {_PG_BX} AS bigint),
       CAST((bx + byy) % 4 AS bigint),
       CAST({_PG_BX * (_PG_BY - _PGM_HI - 1)} AS bigint),
       CAST(bx * {_PG_BX} AS int),
       CAST(byy * {_PG_BY} + {_PGM_HI + 1} AS int),
       CAST(bx * {_PG_BX} + {_PG_BX - 1} AS int),
       CAST(byy * {_PG_BY} + {_PG_BY - 1} AS int)
FROM b
"""


@register("polygonize_masked", _POLYGONIZE_MASK_ORACLE)
def q_polygonize_masked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.polygonize import polygonize

    px_df = spark.range(_PG_W * _PG_H).select(
        (F.col("id") % _PG_W).cast("int").alias("px"),
        ((F.col("id") - (F.col("id") % _PG_W)) / _PG_W).cast("int").alias("py"),
    )
    px_df = px_df.withColumn("value", F.expr(_PG_VALUE_SQL).cast("long")).filter(
        f"NOT ((py % {_PG_BY}) BETWEEN {_PGM_LO} AND {_PGM_HI})"
    )
    return polygonize(px_df, _PG_W, _PG_H)


# --------------------------------------------------------------------------
# Polygonize ring extraction (alg/polygonize.cpp:500 arc collection):
# exact boundary WKT per component. Block fixture components are 50x40
# rects -> closed-form ring strings (canonical start = min (y,x) vertex,
# interior-left orientation, collinear vertices collapsed).
# --------------------------------------------------------------------------
_PGR_RING = (
    f"'POLYGON ((' || (bx * {_PG_BX}) || ' ' || (byy * {_PG_BY}) || ',' || "
    f"(bx * {_PG_BX} + {_PG_BX}) || ' ' || (byy * {_PG_BY}) || ',' || "
    f"(bx * {_PG_BX} + {_PG_BX}) || ' ' || (byy * {_PG_BY} + {_PG_BY}) || ',' || "
    f"(bx * {_PG_BX}) || ' ' || (byy * {_PG_BY} + {_PG_BY}) || ',' || "
    f"(bx * {_PG_BX}) || ' ' || (byy * {_PG_BY}) || '))'"
)

_POLYGONIZE_RINGS_ORACLE = f"""
WITH b AS (
  SELECT bx.i AS bx, byy.j AS byy
  FROM range(0, {_PG_W // _PG_BX}) bx(i), range(0, {_PG_H // _PG_BY}) byy(j)
)
SELECT CAST(byy * {_PG_BY} * {_PG_W} + bx * {_PG_BX} AS bigint) AS label,
       {_PGR_RING} AS ring_wkt
FROM b
"""


@register("polygonize_rings", _POLYGONIZE_RINGS_ORACLE)
def q_polygonize_rings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.polygonize import component_rings

    px_df = spark.range(_PG_W * _PG_H).select(
        (F.col("id") % _PG_W).cast("int").alias("px"),
        ((F.col("id") - (F.col("id") % _PG_W)) / _PG_W).cast("int").alias("py"),
    )
    px_df = px_df.withColumn("value", F.expr(_PG_VALUE_SQL).cast("long"))
    return component_rings(px_df, _PG_W, _PG_H)


# --------------------------------------------------------------------------
# Polygonize CONNECTED=8 (alg/polygonize.cpp nConnectedness=8): diagonal
# pixels of equal value join.  Fixture = the main diagonal px==py of a
# 130x130 raster (value 1 on the diagonal, 0 elsewhere).  The diagonal
# touches only at corners, so 4-connectivity would give 130 singletons —
# 8-connectivity gives ONE component, and it crosses tile corners at
# (63,63)-(64,64) and (127,127)-(128,128), exercising the cross-tile
# diagonal merge.  The background is also 8-connected around the
# diagonal -> exactly two components, closed-form oracle.
# --------------------------------------------------------------------------
_PG8_N = 130

_POLYGONIZE8_ORACLE = f"""
SELECT CAST(0 AS bigint) AS label, CAST(1 AS bigint) AS value,
       CAST({_PG8_N} AS bigint) AS n_pixels,
       CAST(0 AS int) AS pxmin, CAST(0 AS int) AS pymin,
       CAST({_PG8_N - 1} AS int) AS pxmax, CAST({_PG8_N - 1} AS int) AS pymax
UNION ALL
SELECT CAST(1 AS bigint), CAST(0 AS bigint),
       CAST({_PG8_N * _PG8_N - _PG8_N} AS bigint),
       CAST(0 AS int), CAST(0 AS int),
       CAST({_PG8_N - 1} AS int), CAST({_PG8_N - 1} AS int)
"""


@register("polygonize8", _POLYGONIZE8_ORACLE)
def q_polygonize8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.polygonize import polygonize

    px_df = spark.range(_PG8_N * _PG8_N).select(
        (F.col("id") % _PG8_N).cast("int").alias("px"),
        ((F.col("id") - (F.col("id") % _PG8_N)) / _PG8_N).cast("int").alias("py"),
    )
    px_df = px_df.withColumn(
        "value", F.expr("CASE WHEN px = py THEN 1 ELSE 0 END").cast("long")
    )
    return polygonize(px_df, _PG8_N, _PG8_N, connect8=True)


# --------------------------------------------------------------------------
# Proximity (alg/gdalproximity.cpp): squared distance to nearest zero-
# valued pixel, capped at 16² — integers, so the O(N·T) SQL min is exact.
# --------------------------------------------------------------------------
_PROX_CAP = 16
_PROX_ORACLE = f"""
WITH g AS (
  SELECT CAST(px.i AS int) AS px, CAST(py.j AS int) AS py
  FROM range(0, {SRC_W}) px(i), range(0, {SRC_H}) py(j)
),
v AS (SELECT px, py, ((px * 7 + py * 13 + 29) % 256) AS value FROM g),
t AS (SELECT px AS tx, py AS ty FROM v WHERE value = 0),
d AS (
  SELECT v.px, v.py,
         min((v.px - t.tx) * (v.px - t.tx) + (v.py - t.ty) * (v.py - t.ty)) AS m
  FROM v, t GROUP BY v.px, v.py
)
SELECT px, py, CAST(least(m, {_PROX_CAP * _PROX_CAP}) AS BIGINT) AS prox2 FROM d
"""


@register("proximity", _PROX_ORACLE)
def q_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.focal import proximity
    from gdal_spark.operators.raster import source_grid

    band1 = source_grid(spark).filter(F.col("band") == 1).select("px", "py", "value")
    return proximity(band1, target_value=0, maxdist=_PROX_CAP)


# gdal_proximity -values v1,v2,... (gdalproximity.cpp panTargetValues):
# the target set is a VALUE LIST; everything else identical.  Three
# sparse values triple the target density, so the distance field
# genuinely differs from the single-value query.
_PROX_V_ORACLE = _PROX_ORACLE.replace("WHERE value = 0", "WHERE value IN (0, 17, 255)")


@register("proximity_values", _PROX_V_ORACLE)
def q_proximity_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.focal import proximity
    from gdal_spark.operators.raster import source_grid

    band1 = source_grid(spark).filter(F.col("band") == 1).select("px", "py", "value")
    return proximity(band1, target_value=[0, 17, 255], maxdist=_PROX_CAP)


# --------------------------------------------------------------------------
# Contour (alg/contour.cpp): marching squares on a linear ramp —
# crossing-cell counts per level have a closed form (the ramp makes
# every crossing cell a single-segment case, so segments == cells).
# --------------------------------------------------------------------------
_CONTOUR_LEVELS = [100.5, 300.5, 500.5]
_CONTOUR_ORACLE = f"""
WITH c AS (
  SELECT x.i AS x, y.j AS y
  FROM range(0, {_PG_W - 1}) x(i), range(0, {_PG_H - 1}) y(j)
),
lv AS (SELECT * FROM (VALUES (1.005e2), (3.005e2), (5.005e2)) t(lev))
SELECT lev AS level, count(*) AS n_segments
FROM c, lv
WHERE CAST(x + 2 * y AS DOUBLE) < lev AND CAST(x + 2 * y + 3 AS DOUBLE) > lev
GROUP BY lev
"""


@register("contour", _CONTOUR_ORACLE)
def q_contour(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.focal import contour_segments

    px_df = spark.range(_PG_W * _PG_H).select(
        (F.col("id") % _PG_W).cast("int").alias("px"),
        ((F.col("id") - (F.col("id") % _PG_W)) / _PG_W).cast("int").alias("py"),
    )
    px_df = px_df.withColumn("value", F.expr("CAST(px + 2 * py AS DOUBLE)"))
    segs = contour_segments(px_df, _PG_W, _PG_H, _CONTOUR_LEVELS)
    return segs.groupBy("level").agg(F.count("*").alias("n_segments"))


# --------------------------------------------------------------------------
# Contour POLYGON assembly (gdal_contour -p, alg/contour.cpp with
# POLYGONIZE=YES): band polygons from the distributed iso-segment +
# boundary-portion edge soup (operators/contour_poly.py).  Fixture: a
# pure-x linear ramp, so every band is a closed-form rectangle between
# the interpolated crossings x = lev and the domain edges.
# --------------------------------------------------------------------------
_CP_W, _CP_H = 40, 30
_CP_LEVELS = [10.5, 20.5]
_CONTOUR_POLY_ORACLE = f"""
SELECT CAST(NULL AS DOUBLE) AS band_lo, 1.05e1 AS band_hi,
       'POLYGON ((0 0, 10.5 0, 10.5 {_CP_H - 1}, 0 {_CP_H - 1}, 0 0))' AS wkt
UNION ALL
SELECT 1.05e1, 2.05e1,
       'POLYGON ((10.5 0, 20.5 0, 20.5 {_CP_H - 1}, 10.5 {_CP_H - 1}, 10.5 0))'
UNION ALL
SELECT 2.05e1, CAST(NULL AS DOUBLE),
       'POLYGON ((20.5 0, {_CP_W - 1} 0, {_CP_W - 1} {_CP_H - 1}, 20.5 {_CP_H - 1}, 20.5 0))'
"""


@register("contour_polygons", _CONTOUR_POLY_ORACLE)
def q_contour_polygons(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.contour_poly import contour_polygons

    px_df = spark.range(_CP_W * _CP_H).select(
        (F.col("id") % _CP_W).cast("int").alias("px"),
        ((F.col("id") - (F.col("id") % _CP_W)) / _CP_W).cast("int").alias("py"),
    )
    px_df = px_df.withColumn("value", F.expr("CAST(px AS DOUBLE)"))
    return contour_polygons(px_df, _CP_W, _CP_H, _CP_LEVELS)


# --------------------------------------------------------------------------
# Sieve (alg/gdalsievefilter.cpp:178): the block raster seeded with one
# value-9 island per block — 2x2 islands (< threshold 8) are absorbed
# into the surrounding block, 4x4 islands survive. Closed-form output.
# --------------------------------------------------------------------------
_SV_BXE = "cast((px - (px % 50)) / 50 as bigint)"
_SV_BYE = "cast((py - (py % 40)) / 40 as bigint)"
_SV_AX = f"({_SV_BXE} * 50 + 5 + (({_SV_BXE} * 3 + {_SV_BYE} * 7) % 30))"
_SV_AY = f"({_SV_BYE} * 40 + 5 + (({_SV_BYE} * 3 + {_SV_BXE} * 5) % 20))"
_SV_S = f"(CASE WHEN ({_SV_BXE} + {_SV_BYE}) % 2 = 0 THEN 2 ELSE 4 END)"
_SV_IN_ISL = (
    f"(px >= {_SV_AX} AND px < {_SV_AX} + {_SV_S}"
    f" AND py >= {_SV_AY} AND py < {_SV_AY} + {_SV_S})"
)
_SV_VALUE = f"(CASE WHEN {_SV_IN_ISL} THEN 9 ELSE {_PG_VALUE_SQL} END)"

_SIEVE_ORACLE = f"""
WITH g AS (
  SELECT CAST(px.i AS int) AS px, CAST(py.j AS int) AS py
  FROM range(0, {_PG_W}) px(i), range(0, {_PG_H}) py(j)
)
SELECT px, py,
       CAST(CASE WHEN {_SV_IN_ISL} AND ({_SV_BXE} + {_SV_BYE}) % 2 = 1
                 THEN 9 ELSE {_PG_VALUE_SQL} END AS BIGINT) AS value
FROM g
"""


@register("sieve_filter", _SIEVE_ORACLE)
def q_sieve_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.polygonize import sieve

    px_df = spark.range(_PG_W * _PG_H).select(
        (F.col("id") % _PG_W).cast("int").alias("px"),
        ((F.col("id") - (F.col("id") % _PG_W)) / _PG_W).cast("int").alias("py"),
    )
    px_df = px_df.withColumn("value", F.expr(_SV_VALUE).cast("long"))
    return sieve(px_df, _PG_W, _PG_H, threshold=8).select("px", "py", "value")


# gdal_sieve -8 (8-connectedness for detection AND merge): a 12-pixel
# diagonal staircase is ONE 8-conn component (size 12 >= threshold 8,
# survives) where 4-conn would see twelve singletons; a diagonal 2-pixel
# pair stays under threshold and is absorbed into the background.
_SV8_W, _SV8_H = 60, 40
_SV8_STAIR = "(px - py = 0 AND px >= 10 AND px < 22)"
_SV8_PAIR = "((px = 30 AND py = 20) OR (px = 31 AND py = 21))"

_SIEVE8_ORACLE = f"""
WITH g AS (
  SELECT CAST(px.i AS int) AS px, CAST(py.j AS int) AS py
  FROM range(0, {_SV8_W}) px(i), range(0, {_SV8_H}) py(j)
)
SELECT px, py, CAST(CASE WHEN {_SV8_STAIR} THEN 9 ELSE 0 END AS BIGINT) AS value
FROM g
"""


@register("sieve_filter8", _SIEVE8_ORACLE)
def q_sieve_filter8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.polygonize import sieve

    px_df = spark.range(_SV8_W * _SV8_H).select(
        (F.col("id") % _SV8_W).cast("int").alias("px"),
        ((F.col("id") - (F.col("id") % _SV8_W)) / _SV8_W).cast("int").alias("py"),
    )
    px_df = px_df.withColumn(
        "value",
        F.expr(f"CASE WHEN {_SV8_STAIR} OR {_SV8_PAIR} THEN 9 ELSE 0 END").cast(
            "long"
        ),
    )
    return sieve(px_df, _SV8_W, _SV8_H, threshold=8, connect8=True).select(
        "px", "py", "value"
    )


_HISTOGRAM_ORACLE = f"""
WITH g AS ({_SRC_GRID_CTE})
SELECT band, CAST(floor({_SRC_VAL} / 16) AS int) AS bucket, count(*) AS n
FROM g GROUP BY band, CAST(floor({_SRC_VAL} / 16) AS int)
"""


@register("raster_histogram", _HISTOGRAM_ORACLE)
def q_raster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDALRasterBand::GetHistogram analog: 16-value buckets per band."""
    from gdal_spark.operators.raster import source_grid

    return (
        source_grid(spark)
        .groupBy("band", F.floor(F.col("value") / 16).cast("int").alias("bucket"))
        .agg(F.count("*").alias("n"))
    )


# --------------------------------------------------------------------------
# Conic projections (OGRCoordinateTransformation via PROJ in the
# reference, ogr/ogrct.cpp; here the Snyder closed forms rendered as
# shared SQL text — geometry/conic.py): RGF93/Lambert-93 (EPSG:2154
# params) and NAD83/Conus Albers (EPSG:5070 params), decimeter floors.
# Rows limited to |lat| <= 60 — beyond that the Albers cone apex makes
# sqrt(C - n*q) undefined (projection domain, not an engine limit).
# --------------------------------------------------------------------------
from gdal_spark.geometry import conic as _conic  # noqa: E402

_L93_E = _conic.sql_lcc_easting("lat", "lon")
_L93_N = _conic.sql_lcc_northing("lat", "lon")
_ALB_E = _conic.sql_albers_easting("lat", "lon")
_ALB_N = _conic.sql_albers_northing("lat", "lon")

_CONIC_ORACLE = f"""
WITH docs AS ({_DOCS_CTE})
SELECT doc_id,
       CAST(floor({_L93_E} * 1.0e1) AS BIGINT) AS l93_e_dm,
       CAST(floor({_L93_N} * 1.0e1) AS BIGINT) AS l93_n_dm,
       CAST(floor({_ALB_E} * 1.0e1) AS BIGINT) AS alb_e_dm,
       CAST(floor({_ALB_N} * 1.0e1) AS BIGINT) AS alb_n_dm
FROM docs WHERE lat BETWEEN -6.0e1 AND 6.0e1
"""


@register("conic_transform", _CONIC_ORACLE)
def q_conic_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """-t_srs EPSG:2154 / EPSG:5070 analog: LCC + Albers forward,
    whole-stage codegen (constants folded to double literals)."""
    docs = corpus.load_docs(spark, sf_dir).filter(
        F.col("lat").between(-60.0, 60.0)
    )
    return docs.select(
        "doc_id",
        F.expr(f"CAST(floor({_L93_E} * 1.0e1) AS BIGINT)").alias("l93_e_dm"),
        F.expr(f"CAST(floor({_L93_N} * 1.0e1) AS BIGINT)").alias("l93_n_dm"),
        F.expr(f"CAST(floor({_ALB_E} * 1.0e1) AS BIGINT)").alias("alb_e_dm"),
        F.expr(f"CAST(floor({_ALB_N} * 1.0e1) AS BIGINT)").alias("alb_n_dm"),
    )


# --------------------------------------------------------------------------
# Polar Stereographic variant B (geometry/polar.py — EPSG:3413 north /
# EPSG:3032 south parameter sets; the EPSG worked example pins the
# constants to mm).  Docs carry no polar points, so polar latitudes are
# DERIVED from doc lat with the same shared text both engines.
# --------------------------------------------------------------------------
from gdal_spark.geometry import polar as _polar  # noqa: E402

_PLAT_N = "(6.0e1 + abs(lat) / 3.0e0)"
_PLAT_S = "(0.0e0 - (6.0e1 + abs(lat) / 3.0e0))"
_PS_N_E = _polar.sql_ps_easting(_PLAT_N, "lon", _polar.NSIDC_NORTH)
_PS_N_N = _polar.sql_ps_northing(_PLAT_N, "lon", _polar.NSIDC_NORTH)
_PS_S_E = _polar.sql_ps_easting(_PLAT_S, "lon", _polar.ANT_POLAR)
_PS_S_N = _polar.sql_ps_northing(_PLAT_S, "lon", _polar.ANT_POLAR)

_POLAR_ORACLE = f"""
WITH docs AS ({_DOCS_CTE})
SELECT doc_id,
       CAST(floor({_PS_N_E} * 1.0e1) AS BIGINT) AS psn_e_dm,
       CAST(floor({_PS_N_N} * 1.0e1) AS BIGINT) AS psn_n_dm,
       CAST(floor({_PS_S_E} * 1.0e1) AS BIGINT) AS pss_e_dm,
       CAST(floor({_PS_S_N} * 1.0e1) AS BIGINT) AS pss_n_dm
FROM docs
"""


@register("polar_transform", _POLAR_ORACLE)
def q_polar_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """-t_srs EPSG:3413 / EPSG:3032 analog: polar stereographic forward
    both aspects, whole-stage codegen."""
    docs = corpus.load_docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.expr(f"CAST(floor({_PS_N_E} * 1.0e1) AS BIGINT)").alias("psn_e_dm"),
        F.expr(f"CAST(floor({_PS_N_N} * 1.0e1) AS BIGINT)").alias("psn_n_dm"),
        F.expr(f"CAST(floor({_PS_S_E} * 1.0e1) AS BIGINT)").alias("pss_e_dm"),
        F.expr(f"CAST(floor({_PS_S_N} * 1.0e1) AS BIGINT)").alias("pss_n_dm"),
    )


# --------------------------------------------------------------------------
# Viewshed (alg/viewshed.cpp): single-observer line-of-sight visibility
# over the band-1 grid as DEM.  DDA-ray sampling puts sample k at exactly
# k/n of the target distance, so the blocking comparison
# (z_k - z0)*n >= (z_t - z0)*k is pure INTEGER arithmetic — the whole
# operator is bit-exact and the oracle is plain SQL (no trig/sqrt).
# --------------------------------------------------------------------------
_VS_OX, _VS_OY, _VS_R = 200, 100, 80
_VS_Z0 = ((_VS_OX * 7 + _VS_OY * 13 + 29) % 256) + 20  # terrain + 20 mast

_VIEWSHED_ORACLE = f"""
WITH g AS (
  SELECT CAST(px.i AS int) AS px, CAST(py.j AS int) AS py
  FROM range(0, {SRC_W}) px(i), range(0, {SRC_H}) py(j)
),
v AS (SELECT px, py, CAST((px * 7 + py * 13 + 29) % 256 AS BIGINT) AS z FROM g),
d AS (
  SELECT px, py, z,
         CAST(greatest(abs(px - {_VS_OX}), abs(py - {_VS_OY})) AS BIGINT) AS n
  FROM v
  WHERE (px - {_VS_OX}) * (px - {_VS_OX}) + (py - {_VS_OY}) * (py - {_VS_OY})
        <= {_VS_R * _VS_R}
),
blocked AS (
  SELECT DISTINCT t.px, t.py
  FROM d t, range(1, {_VS_R}) kk(k), v s
  WHERE kk.k < t.n
    AND s.px = {_VS_OX} + CAST(floor(CAST(kk.k * (t.px - {_VS_OX}) AS DOUBLE)
                                     / CAST(greatest(t.n, 1) AS DOUBLE) + 0.5) AS INT)
    AND s.py = {_VS_OY} + CAST(floor(CAST(kk.k * (t.py - {_VS_OY}) AS DOUBLE)
                                     / CAST(greatest(t.n, 1) AS DOUBLE) + 0.5) AS INT)
    AND (s.z - {_VS_Z0}) * t.n >= (t.z - {_VS_Z0}) * kk.k
)
SELECT t.px, t.py,
       CAST(CASE WHEN b.px IS NULL THEN 1 ELSE 0 END AS INT) AS visible
FROM d t LEFT JOIN blocked b ON t.px = b.px AND t.py = b.py
"""


@register("viewshed", _VIEWSHED_ORACLE)
def q_viewshed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_viewshed analog: observer at grid center, 20-unit mast,
    radius 80; azimuth-wedge distributed DDA line of sight."""
    from gdal_spark.operators.raster import source_grid
    from gdal_spark.operators.viewshed import viewshed

    dem = (
        source_grid(spark)
        .filter(F.col("band") == 1)
        .select("px", "py", F.col("value").alias("z"))
    )
    return viewshed(dem, _VS_OX, _VS_OY, _VS_Z0, max_dist=_VS_R)


# --------------------------------------------------------------------------
# Viewshed height modes (gdal_viewshed -om DEM / -om GROUND;
# viewshed_executor.cpp setOutput :179-191): per cell the MINIMUM
# observable height (DEM) and the extra mast height needed above the
# terrain (GROUND), in 2^-20 micro-units so the rational bound
# z0 + (zk-z0)*n/k floors exactly in both engines (floor is monotone ⇒
# max-of-floors == floor-of-max).  Same DDA sampling as `viewshed`.
# --------------------------------------------------------------------------
from gdal_spark.operators.viewshed import HQ as _VHQ  # noqa: E402

_VH_FLOORDIV = (
    f"CAST(floor(CAST((s.z - {_VS_Z0}) * t.n * {_VHQ} AS DOUBLE)"
    f" / CAST(kk.k AS DOUBLE)) AS BIGINT)"
)

_VIEWSHED_HEIGHTS_ORACLE = f"""
WITH g AS (
  SELECT CAST(px.i AS int) AS px, CAST(py.j AS int) AS py
  FROM range(0, {SRC_W}) px(i), range(0, {SRC_H}) py(j)
),
v AS (SELECT px, py, CAST((px * 7 + py * 13 + 29) % 256 AS BIGINT) AS z FROM g),
d AS (
  SELECT px, py, z,
         CAST(greatest(abs(px - {_VS_OX}), abs(py - {_VS_OY})) AS BIGINT) AS n
  FROM v
  WHERE (px - {_VS_OX}) * (px - {_VS_OX}) + (py - {_VS_OY}) * (py - {_VS_OY})
        <= {_VS_R * _VS_R}
),
bq AS (
  SELECT t.px, t.py, max({_VH_FLOORDIV}) AS mq
  FROM d t, range(1, {_VS_R}) kk(k), v s
  WHERE kk.k < t.n
    AND s.px = {_VS_OX} + CAST(floor(CAST(kk.k * (t.px - {_VS_OX}) AS DOUBLE)
                                     / CAST(greatest(t.n, 1) AS DOUBLE) + 0.5) AS INT)
    AND s.py = {_VS_OY} + CAST(floor(CAST(kk.k * (t.py - {_VS_OY}) AS DOUBLE)
                                     / CAST(greatest(t.n, 1) AS DOUBLE) + 0.5) AS INT)
  GROUP BY t.px, t.py
)
SELECT t.px, t.py,
       CAST(bq.mq + {_VS_Z0 * _VHQ} AS BIGINT) AS min_vis_mu,
       CAST(greatest(0, COALESCE(bq.mq + {_VS_Z0 * _VHQ} - t.z * {_VHQ}, 0))
            AS BIGINT) AS ground_mu
FROM d t LEFT JOIN bq ON t.px = bq.px AND t.py = bq.py
"""


@register("viewshed_heights", _VIEWSHED_HEIGHTS_ORACLE)
def q_viewshed_heights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.raster import source_grid
    from gdal_spark.operators.viewshed import viewshed_heights

    dem = (
        source_grid(spark)
        .filter(F.col("band") == 1)
        .select("px", "py", F.col("value").alias("z"))
    )
    return viewshed_heights(dem, _VS_OX, _VS_OY, _VS_Z0, max_dist=_VS_R)


# --------------------------------------------------------------------------
# Curvature-corrected viewshed (gdal_viewshed -cc, default 0.85714 =
# 1 - 1/7 atmospheric refraction; viewshed_executor.cpp:295 subtracts
# heightAdjFactor * r2 from every cell, factor = curveCoeff/(2*semimajor)
# :150-171).  90 m cells make the drop ~3.5 height units at the rim
# (r=80), so the correction flips real pixels vs the flat-earth query
# (pinned non-vacuous in tests/test_viewshed_curved.py).  Heights
# quantize to 2^20 micro-units (operators/viewshed.py curved_z_sql — the
# SAME text both engines) so the blocking compare stays pure integer.
# --------------------------------------------------------------------------
from gdal_spark.operators.viewshed import CURV_Q, curved_z_sql  # noqa: E402

_VSCURV_CC, _VSCURV_CELL = 0.85714, 90.0
_VSCURV_F_SQL = mercator.sql_double(
    _VSCURV_CC * _VSCURV_CELL * _VSCURV_CELL / (2.0 * 6378137.0)
)
_VSCURV_ZQ = curved_z_sql(
    _VSCURV_F_SQL, _VS_OX, _VS_OY,
    z_col="CAST((px * 7 + py * 13 + 29) % 256 AS BIGINT)",
)

_VIEWSHED_CURV_ORACLE = f"""
WITH g AS (
  SELECT CAST(px.i AS int) AS px, CAST(py.j AS int) AS py
  FROM range(0, {SRC_W}) px(i), range(0, {SRC_H}) py(j)
),
v AS (SELECT px, py, {_VSCURV_ZQ} AS z FROM g),
d AS (
  SELECT px, py, z,
         CAST(greatest(abs(px - {_VS_OX}), abs(py - {_VS_OY})) AS BIGINT) AS n
  FROM v
  WHERE (px - {_VS_OX}) * (px - {_VS_OX}) + (py - {_VS_OY}) * (py - {_VS_OY})
        <= {_VS_R * _VS_R}
),
blocked AS (
  SELECT DISTINCT t.px, t.py
  FROM d t, range(1, {_VS_R}) kk(k), v s
  WHERE kk.k < t.n
    AND s.px = {_VS_OX} + CAST(floor(CAST(kk.k * (t.px - {_VS_OX}) AS DOUBLE)
                                     / CAST(greatest(t.n, 1) AS DOUBLE) + 0.5) AS INT)
    AND s.py = {_VS_OY} + CAST(floor(CAST(kk.k * (t.py - {_VS_OY}) AS DOUBLE)
                                     / CAST(greatest(t.n, 1) AS DOUBLE) + 0.5) AS INT)
    AND (s.z - {_VS_Z0 * CURV_Q}) * t.n >= (t.z - {_VS_Z0 * CURV_Q}) * kk.k
)
SELECT t.px, t.py,
       CAST(CASE WHEN b.px IS NULL THEN 1 ELSE 0 END AS INT) AS visible
FROM d t LEFT JOIN blocked b ON t.px = b.px AND t.py = b.py
"""


@register("viewshed_curved", _VIEWSHED_CURV_ORACLE)
def q_viewshed_curved(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.raster import source_grid
    from gdal_spark.operators.viewshed import viewshed

    dem = (
        source_grid(spark)
        .filter(F.col("band") == 1)
        .select("px", "py", F.col("value").alias("z"))
    )
    return viewshed(
        dem, _VS_OX, _VS_OY, _VS_Z0, max_dist=_VS_R,
        curve_coeff=_VSCURV_CC, cell_size=_VSCURV_CELL,
    )


# --------------------------------------------------------------------------
# Cumulative viewshed (gdal_viewshed cumulative mode; alg/viewshed/
# cumulative.cpp:66): observers on a regular grid, each runs a NORMAL
# viewshed with visibleVal=1, and per-cell counts are summed.  Eight
# observers at 100-px spacing, 20-unit masts, radius 60 — each disc is
# the oracle-proven single-observer DDA pipeline; the accumulation is
# one groupBy(px, py) SUM over the unioned discs (cells outside every
# disc contribute nothing on both engines).
# --------------------------------------------------------------------------
_VSC_OBS = [(x, y) for x in (0, 100, 200, 300) for y in (0, 100)]
_VSC_R = 60


def _viewshed_oracle_one(ox: int, oy: int, r: int) -> str:
    z0 = ((ox * 7 + oy * 13 + 29) % 256) + 20
    return f"""
SELECT t.px, t.py, CAST(CASE WHEN b.px IS NULL THEN 1 ELSE 0 END AS INT) AS visible
FROM (
  SELECT px, py, z, CAST(greatest(abs(px - {ox}), abs(py - {oy})) AS BIGINT) AS n
  FROM v
  WHERE (px - {ox}) * (px - {ox}) + (py - {oy}) * (py - {oy}) <= {r * r}
) t LEFT JOIN (
  SELECT DISTINCT t.px, t.py
  FROM (
    SELECT px, py, z, CAST(greatest(abs(px - {ox}), abs(py - {oy})) AS BIGINT) AS n
    FROM v
    WHERE (px - {ox}) * (px - {ox}) + (py - {oy}) * (py - {oy}) <= {r * r}
  ) t, range(1, {r}) kk(k), v s
  WHERE kk.k < t.n
    AND s.px = {ox} + CAST(floor(CAST(kk.k * (t.px - {ox}) AS DOUBLE)
                                 / CAST(greatest(t.n, 1) AS DOUBLE) + 0.5) AS INT)
    AND s.py = {oy} + CAST(floor(CAST(kk.k * (t.py - {oy}) AS DOUBLE)
                                 / CAST(greatest(t.n, 1) AS DOUBLE) + 0.5) AS INT)
    AND (s.z - {z0}) * t.n >= (t.z - {z0}) * kk.k
) b ON t.px = b.px AND t.py = b.py
"""


_VSC_ORACLE = (
    f"""
WITH g AS (
  SELECT CAST(px.i AS int) AS px, CAST(py.j AS int) AS py
  FROM range(0, {SRC_W}) px(i), range(0, {SRC_H}) py(j)
),
v AS (SELECT px, py, CAST((px * 7 + py * 13 + 29) % 256 AS BIGINT) AS z FROM g),
u AS (
"""
    + "\nUNION ALL\n".join(
        _viewshed_oracle_one(ox, oy, _VSC_R) for ox, oy in _VSC_OBS
    )
    + """
)
SELECT px, py, CAST(SUM(visible) AS BIGINT) AS n_seen,
       CAST(COUNT(*) AS BIGINT) AS n_observers
FROM u GROUP BY px, py
"""
)


@register("viewshed_cumulative", _VSC_ORACLE)
def q_viewshed_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.raster import source_grid
    from gdal_spark.operators.viewshed import viewshed

    dem = (
        source_grid(spark)
        .filter(F.col("band") == 1)
        .select("px", "py", F.col("value").alias("z"))
    )
    parts = []
    for ox, oy in _VSC_OBS:
        z0 = ((ox * 7 + oy * 13 + 29) % 256) + 20
        parts.append(viewshed(dem, ox, oy, z0, max_dist=_VSC_R))
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u.groupBy("px", "py").agg(
        F.sum("visible").cast("long").alias("n_seen"),
        F.count("*").cast("long").alias("n_observers"),
    )


# --------------------------------------------------------------------------
# GNM shortest path (gnm/gnmgraph.cpp DijkstraShortestPathTree): the
# Geographic Network Model's single-source shortest-path query over a
# weighted network, distributed as Bellman–Ford relaxation rounds
# (operators/graph.py).  Fixture network = a 12x12 grid road network
# with deterministic weights (u·7+v·13)%20+1 both directions; the
# optimal tree converges after 23 rounds (30 budgeted, loud failure
# beyond).  Oracle = the same relaxation UNROLLED as 30 CTE rounds —
# exact integer arithmetic end to end; a heapq Dijkstra pins the values
# independently in tests/test_graph.py.
# --------------------------------------------------------------------------
_GNM_N = 12
_GNM_ROUNDS = 30
_GNM_W = "CAST((u * 7 + v * 13) % 20 + 1 AS BIGINT)"

_GNM_EDGES = f"""
  SELECT u, v, {_GNM_W} AS w FROM (
    SELECT r * {_GNM_N} + c AS u, r * {_GNM_N} + c + 1 AS v
    FROM rc WHERE c + 1 < {_GNM_N}
    UNION ALL
    SELECT r * {_GNM_N} + c AS u, (r + 1) * {_GNM_N} + c AS v
    FROM rc WHERE r + 1 < {_GNM_N}
  ) fwd
"""


def _gnm_oracle() -> str:
    ctes = [
        f"rc AS (SELECT CAST(t.i AS BIGINT) % {_GNM_N} AS c,"
        f" CAST((t.i - t.i % {_GNM_N}) / {_GNM_N} AS BIGINT) AS r"
        f" FROM range(0, {_GNM_N * _GNM_N}) t(i))",
        f"fwd AS ({_GNM_EDGES})",
        "edges AS (SELECT u AS src, v AS dst, w FROM fwd"
        " UNION ALL SELECT v AS src, u AS dst,"
        f" CAST((v * 7 + u * 13) % 20 + 1 AS BIGINT) AS w FROM fwd)",
        "d0 AS (SELECT CAST(0 AS BIGINT) AS node_id, CAST(0 AS BIGINT) AS dist)",
    ]
    # AS MATERIALIZED is load-bearing: each round references the
    # previous round TWICE, and an inlining planner would expand the
    # 30-round chain 2^30-fold (the SQL flavor of the Spark lineage
    # blow-up this repo's iterative loops checkpoint against)
    for i in range(1, _GNM_ROUNDS + 1):
        ctes.append(
            f"d{i} AS MATERIALIZED (SELECT node_id, MIN(dist) AS dist FROM ("
            f"SELECT node_id, dist FROM d{i - 1}"
            f" UNION ALL SELECT e.dst AS node_id, d.dist + e.w AS dist"
            f" FROM d{i - 1} d JOIN edges e ON d.node_id = e.src"
            f") u GROUP BY node_id)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node_id, dist FROM d{_GNM_ROUNDS}"
    )


@register("gnm_shortest_path", _gnm_oracle())
def q_gnm_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.graph import shortest_paths

    n = _GNM_N
    rc = spark.range(n * n).selectExpr(
        f"id % {n} AS c", f"CAST((id - id % {n}) / {n} AS BIGINT) AS r"
    )
    rc.createOrReplaceTempView("rc")
    fwd = spark.sql(f"SELECT u, v, {_GNM_W} AS w FROM (" + f"""
        SELECT r * {n} + c AS u, r * {n} + c + 1 AS v FROM rc WHERE c + 1 < {n}
        UNION ALL
        SELECT r * {n} + c AS u, (r + 1) * {n} + c AS v FROM rc WHERE r + 1 < {n}
    """ + ") fwd")
    edges = fwd.selectExpr("u AS src", "v AS dst", "w").unionByName(
        fwd.selectExpr(
            "v AS src", "u AS dst",
            f"CAST((v * 7 + u * 13) % 20 + 1 AS BIGINT) AS w",
        )
    )
    return shortest_paths(edges, source=0, max_rounds=_GNM_ROUNDS)


# --------------------------------------------------------------------------
# GNM shortest-path TREE (gnm/gnmgraph.cpp DijkstraShortestPathTree):
# distance AND predecessor per node — any route is a predecessor walk.
# Tie-break = smallest predecessor id (the reference's tree depends on
# heap order, an implementation detail; the min rule is the
# deterministic canonicalization — documented divergence).  The
# relaxation minimizes the PACKED key dist·256 + pred so the
# lexicographic minimum is a plain integer MIN (aggregation-order-free).
# --------------------------------------------------------------------------
def _gnm_tree_oracle() -> str:
    ctes = [
        f"rc AS (SELECT CAST(t.i AS BIGINT) % {_GNM_N} AS c,"
        f" CAST((t.i - t.i % {_GNM_N}) / {_GNM_N} AS BIGINT) AS r"
        f" FROM range(0, {_GNM_N * _GNM_N}) t(i))",
        f"fwd AS ({_GNM_EDGES})",
        "edges AS (SELECT u AS src, v AS dst, w FROM fwd"
        " UNION ALL SELECT v AS src, u AS dst,"
        f" CAST((v * 7 + u * 13) % 20 + 1 AS BIGINT) AS w FROM fwd)",
        "d0 AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS node_id,"
        " CAST(0 AS BIGINT) AS pack)",
    ]
    for i in range(1, _GNM_ROUNDS + 1):
        ctes.append(
            f"d{i} AS MATERIALIZED (SELECT node_id, MIN(pack) AS pack FROM ("
            f"SELECT node_id, pack FROM d{i - 1}"
            f" UNION ALL SELECT e.dst AS node_id,"
            f" ((d.pack // 256) + e.w) * 256 + e.src AS pack"
            f" FROM d{i - 1} d JOIN edges e ON d.node_id = e.src"
            f") u GROUP BY node_id)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node_id, pack // 256 AS dist, pack % 256 AS pred"
        f" FROM d{_GNM_ROUNDS}"
    )


@register("gnm_route_tree", _gnm_tree_oracle())
def q_gnm_route_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.graph import shortest_path_tree

    n = _GNM_N
    rc = spark.range(n * n).selectExpr(
        f"id % {n} AS c", f"CAST((id - id % {n}) / {n} AS BIGINT) AS r"
    )
    rc.createOrReplaceTempView("rc")
    fwd = spark.sql(f"SELECT u, v, {_GNM_W} AS w FROM (" + f"""
        SELECT r * {n} + c AS u, r * {n} + c + 1 AS v FROM rc WHERE c + 1 < {n}
        UNION ALL
        SELECT r * {n} + c AS u, (r + 1) * {n} + c AS v FROM rc WHERE r + 1 < {n}
    """ + ") fwd")
    edges = fwd.selectExpr("u AS src", "v AS dst", "w").unionByName(
        fwd.selectExpr(
            "v AS src", "u AS dst",
            f"CAST((v * 7 + u * 13) % 20 + 1 AS BIGINT) AS w",
        )
    )
    return shortest_path_tree(edges, source=0, max_rounds=_GNM_ROUNDS)


# --------------------------------------------------------------------------
# GNM connected components (network connectivity; gnm/gnmgraph.cpp
# connectivity queries): which network islands exist after edges are
# removed.  Fixture = the 12x12 grid KEEPING only edges with
# (u·13+v·7)%3 != 0 — five islands (36/36/36/24/12 nodes), min-label
# converges in 14 rounds.  Oracle = 16 MATERIALIZED relaxation rounds;
# a union-find pins the partition independently in tests/test_graph.py.
# --------------------------------------------------------------------------
_GNMC_ROUNDS = 16
_GNMC_KEEP = "(u * 13 + v * 7) % 3 <> 0"


def _gnmc_oracle() -> str:
    ctes = [
        f"rc AS (SELECT CAST(t.i AS BIGINT) % {_GNM_N} AS c,"
        f" CAST((t.i - t.i % {_GNM_N}) / {_GNM_N} AS BIGINT) AS r"
        f" FROM range(0, {_GNM_N * _GNM_N}) t(i))",
        f"fwd AS (SELECT u, v FROM ("
        f" SELECT r * {_GNM_N} + c AS u, r * {_GNM_N} + c + 1 AS v"
        f" FROM rc WHERE c + 1 < {_GNM_N}"
        f" UNION ALL SELECT r * {_GNM_N} + c AS u, (r + 1) * {_GNM_N} + c AS v"
        f" FROM rc WHERE r + 1 < {_GNM_N}) g WHERE {_GNMC_KEEP})",
        "edges AS (SELECT u AS src, v AS dst FROM fwd"
        " UNION ALL SELECT v AS src, u AS dst FROM fwd)",
        "l0 AS MATERIALIZED (SELECT node_id, node_id AS component FROM ("
        "SELECT DISTINCT src AS node_id FROM edges"
        " UNION SELECT DISTINCT dst AS node_id FROM edges) n)",
    ]
    for i in range(1, _GNMC_ROUNDS + 1):
        ctes.append(
            f"l{i} AS MATERIALIZED (SELECT node_id, MIN(component) AS component"
            f" FROM (SELECT node_id, component FROM l{i - 1}"
            f" UNION ALL SELECT e.dst AS node_id, l.component"
            f" FROM l{i - 1} l JOIN edges e ON l.node_id = e.src) u"
            f" GROUP BY node_id)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node_id, component FROM l{_GNMC_ROUNDS}"
    )


@register("gnm_components", _gnmc_oracle())
def q_gnm_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.graph import min_label_components

    n = _GNM_N
    rc = spark.range(n * n).selectExpr(
        f"id % {n} AS c", f"CAST((id - id % {n}) / {n} AS BIGINT) AS r"
    )
    rc.createOrReplaceTempView("rc")
    fwd = spark.sql(
        f"SELECT u, v FROM ("
        f" SELECT r * {n} + c AS u, r * {n} + c + 1 AS v FROM rc WHERE c + 1 < {n}"
        f" UNION ALL SELECT r * {n} + c AS u, (r + 1) * {n} + c AS v"
        f" FROM rc WHERE r + 1 < {n}) g WHERE {_GNMC_KEEP}"
    )
    edges = fwd.selectExpr("u AS src", "v AS dst").unionByName(
        fwd.selectExpr("v AS src", "u AS dst")
    )
    return min_label_components(edges, max_rounds=30)


# --------------------------------------------------------------------------
# Point-to-point line of sight (gdal los; GDALIsLineOfSightVisible,
# alg/los.cpp:177): endpoint strict-above checks, Bresenham walk with
# interpolated z, first-failure intersection cell.  24 observer→target
# pairs over the band-1 terrain: pid 0 = same cell, pid 1 = vertical,
# pid 2 = horizontal, pid 3/4 = endpoint-blocked (z == terrain fails the
# strict test), the rest arbitrary shallow/steep diagonals.  The whole
# pipeline is shared SQL text (closed-form Bresenham cells + the
# reference's exact ratio forms) so the oracle runs it verbatim.
# --------------------------------------------------------------------------
_LOS_P = 24
_LOS_TERRAIN_A = "((xa * 7 + ya * 13 + 29) % 256)"
_LOS_TERRAIN_B = "((xb * 7 + yb * 13 + 29) % 256)"
_LOS_PAIR_TAIL = f"""
p1 AS (
  SELECT pid, xa, ya,
         CAST(CASE WHEN pid = 0 OR pid = 1 THEN xa
                   ELSE (pid * 89 + 201) % {SRC_W} END AS INT) AS xb,
         CAST(CASE WHEN pid = 0 OR pid = 2 THEN ya
                   ELSE (pid * 29 + 57) % {SRC_H} END AS INT) AS yb
  FROM p0
),
p AS (
  SELECT pid, xa, ya, xb, yb,
         CAST({_LOS_TERRAIN_A} + CASE WHEN pid = 3 THEN 0
                                      ELSE 2 + (pid % 25) END AS BIGINT) AS za,
         CAST({_LOS_TERRAIN_B} + CASE WHEN pid = 4 THEN 0
                                      ELSE 2 + ((pid * 7) % 35) END AS BIGINT) AS zb
  FROM p1
)
"""


def _los_oracle() -> str:
    from gdal_spark.operators.viewshed import LOS_DERIVED_SQL, LOS_Z_SQL, los_x_sql, los_y_sql

    derived = ", ".join(f"{sql} AS {name}" for name, sql in LOS_DERIVED_SQL.items())
    return f"""
WITH g AS (
  SELECT CAST(px.i AS int) AS px, CAST(py.j AS int) AS py
  FROM range(0, {SRC_W}) px(i), range(0, {SRC_H}) py(j)
),
v AS (SELECT px, py, CAST((px * 7 + py * 13 + 29) % 256 AS BIGINT) AS z FROM g),
p0 AS (
  SELECT CAST(t.i AS INT) AS pid,
         CAST((t.i * 37 + 13) % {SRC_W} AS INT) AS xa,
         CAST((t.i * 53 + 11) % {SRC_H} AS INT) AS ya
  FROM range(0, {_LOS_P}) t(i)
),
{_LOS_PAIR_TAIL.strip()},
d AS (SELECT p.*, {derived} FROM p),
sk AS (SELECT d.*, unnest(generate_series(-2, n)) AS k FROM d),
sxy AS (SELECT sk.*, {los_x_sql()} AS x, {los_y_sql()} AS y FROM sk),
sz AS (SELECT sxy.*, {LOS_Z_SQL} AS zt FROM sxy),
h AS (SELECT sz.*, v.z AS terrain FROM sz JOIN v ON v.px = sz.x AND v.py = sz.y),
a AS (
  SELECT pid, xa, ya, xb, yb, dx, dy, sx, sy, n,
         bool_and(zt > CAST(terrain AS DOUBLE)) AS vis,
         min(CASE WHEN NOT zt > CAST(terrain AS DOUBLE) THEN k END) AS bk
  FROM h GROUP BY pid, xa, ya, xb, yb, dx, dy, sx, sy, n
)
SELECT pid,
       CAST(CASE WHEN vis THEN 1 ELSE 0 END AS INT) AS visible,
       CAST(CASE WHEN vis THEN -1 ELSE {los_x_sql("bk")} END AS INT) AS ix,
       CAST(CASE WHEN vis THEN -1 ELSE {los_y_sql("bk")} END AS INT) AS iy
FROM a
"""


@register("los", _los_oracle())
def q_los(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal los analog over 24 fixture pairs (alg/los.cpp:177)."""
    from gdal_spark.operators.raster import source_grid
    from gdal_spark.operators.viewshed import line_of_sight

    p0 = spark.range(_LOS_P).selectExpr(
        "CAST(id AS INT) AS pid",
        f"CAST((id * 37 + 13) % {SRC_W} AS INT) AS xa",
        f"CAST((id * 53 + 11) % {SRC_H} AS INT) AS ya",
    )
    pairs = spark.sql(
        f"WITH p0 AS (SELECT * FROM {{p0}}), {_LOS_PAIR_TAIL.strip()} SELECT * FROM p",
        p0=p0,
    )
    dem = (
        source_grid(spark)
        .filter(F.col("band") == 1)
        .select("px", "py", F.col("value").alias("z"))
    )
    return line_of_sight(dem, pairs)


# --------------------------------------------------------------------------
# Vertical shift grid (GDALApplyVerticalShiftGrid,
# alg/gdalapplyverticalshiftgrid.cpp:259): dst = (src · srcUnitToMeter
# + shift) / dstUnitToMeter, the shift grid resampled onto the source
# georeferencing (the reference warps the grid dataset over the source;
# fixture grid nodes sit every 8 px, sampled bilinearly at pixel
# coordinates — exact eighths, so the doubles are bit-stable).  The
# grid is DATA: a broadcast dim table of cells carrying their 4 corner
# node values (one equi-join on the cell key; the raster side never
# shuffles), not a formula baked into the expression.
# --------------------------------------------------------------------------
_VSG_STEP = 8
_VSG_NODE = "CAST(({gx}) * 11 + ({gy}) * 17 AS BIGINT) % 40 - 20"
_VSG_CELLS = f"""
  SELECT cx, cy,
         {_VSG_NODE.format(gx="cx", gy="cy")} AS s00,
         {_VSG_NODE.format(gx="cx + 1", gy="cy")} AS s10,
         {_VSG_NODE.format(gx="cx", gy="cy + 1")} AS s01,
         {_VSG_NODE.format(gx="cx + 1", gy="cy + 1")} AS s11
"""
# Bilinear blend at exact eighths, kept in INTEGER 64ths: shift64 =
# 64 * shift with fx8 = px%8, fy8 = py%8.  The float form
# floor(1e6 * (value*0.3048 + shift)) was a knife-edge on EVERY row —
# the exact value is always an integer (1e6*0.3048 = 304800 and
# 1e6/64 = 15625 are integers), so all 80k rows sat within ulps of a
# floor boundary (the local_supplier_volume fragility class).  Exact
# BIGINT arithmetic emits that integer directly: micrometers =
# value*304800 + shift64*15625.  srcUnitToMeter = 0.3048 (feet),
# dstUnitToMeter = 1.
_VSG_SHIFT64 = (
    "((8 - fy8) * ((8 - fx8) * s00 + fx8 * s10)"
    " + fy8 * ((8 - fx8) * s01 + fx8 * s11))"
)
_VSG_OUT = f"CAST(value * 304800 + {_VSG_SHIFT64} * 15625 AS BIGINT)"

_VSHIFT_ORACLE = f"""
WITH g AS ({{src_grid}}),
v AS (SELECT px, py, value FROM g WHERE band = 1),
cells AS (
  {_VSG_CELLS.strip()}
  FROM (SELECT CAST(cx.i AS INT) AS cx, CAST(cy.j AS INT) AS cy
        FROM range(0, {{nx}}) cx(i), range(0, {{ny}}) cy(j))
),
s AS (
  SELECT px, py, value,
         CAST(CAST((px - px % {_VSG_STEP}) / {_VSG_STEP} AS INT) AS INT) AS cx,
         CAST(CAST((py - py % {_VSG_STEP}) / {_VSG_STEP} AS INT) AS INT) AS cy,
         CAST(px % {_VSG_STEP} AS BIGINT) AS fx8,
         CAST(py % {_VSG_STEP} AS BIGINT) AS fy8
  FROM v
)
SELECT px, py, {_VSG_OUT} AS shifted_um
FROM s JOIN cells USING (cx, cy)
"""


@register(
    "vshift_grid",
    _VSHIFT_ORACLE.format(
        src_grid="{src}",
        nx=SRC_W // _VSG_STEP,
        ny=SRC_H // _VSG_STEP,
    ).replace(
        "{src}",
        f"SELECT CAST(px.i AS int) AS px, CAST(py.j AS int) AS py, 1 AS band, "
        f"CAST((px.i * 7 + py.j * 13 + 29) % 256 AS BIGINT) AS value "
        f"FROM range(0, {SRC_W}) px(i), range(0, {SRC_H}) py(j)",
    ),
)
def q_vshift_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.raster import source_grid

    nx, ny = SRC_W // _VSG_STEP, SRC_H // _VSG_STEP
    cells = (
        spark.range(nx * ny)
        .selectExpr(
            f"CAST(id % {nx} AS INT) AS cx",
            f"CAST((id - id % {nx}) / {nx} AS INT) AS cy",
        )
        .selectExpr("cx", "cy", *[
            f"{_VSG_NODE.format(gx='cx', gy='cy')} AS s00",
            f"{_VSG_NODE.format(gx='cx + 1', gy='cy')} AS s10",
            f"{_VSG_NODE.format(gx='cx', gy='cy + 1')} AS s01",
            f"{_VSG_NODE.format(gx='cx + 1', gy='cy + 1')} AS s11",
        ])
    )
    v = source_grid(spark).filter(F.col("band") == 1)
    s = v.selectExpr(
        "px", "py", "value",
        f"CAST(CAST((px - px % {_VSG_STEP}) / {_VSG_STEP} AS INT) AS INT) AS cx",
        f"CAST(CAST((py - py % {_VSG_STEP}) / {_VSG_STEP} AS INT) AS INT) AS cy",
        f"CAST(px % {_VSG_STEP} AS BIGINT) AS fx8",
        f"CAST(py % {_VSG_STEP} AS BIGINT) AS fy8",
    )
    return s.join(F.broadcast(cells), ["cx", "cy"]).selectExpr(
        "px", "py", f"{_VSG_OUT} AS shifted_um"
    )


# --------------------------------------------------------------------------
# Curve geometry linearization — CIRCULARSTRING (3-point arc) to
# LineString, OGRGeometryFactory::curveToLineString
# (ogr/ogrgeometryfactory.cpp:5439) + GetCurveParameters (:5176) +
# OGRGeometryFactoryStrokeArc (:5277), ADD_INTERMEDIATE_POINT=YES mode.
# Mirrored op-for-op: the binary-symmetry end swap (:5446
# OGRGF_NeedSwithArcOrder, output reversed), the dfScale normalization
# and det test, the circle special case (alpha span 2π), the CW/CCW
# angle unwrapping, nSteps = max(int(|Δα/step|+0.5), 4), re-derived
# dfStep, and the (α−αend)·sign < −1e-8 emission guard.  Two documented
# divergences: α_k = α0 + k·Δ in closed form (the reference accumulates
# α += Δ — last-ulp drift only), and STEALTH's low-significant-bit
# angle hiding is not reproduced (a round-tripping encoding, not
# geometry — the YES mode emits the intermediate point explicitly).
# The whole pipeline is ONE shared SQL text both engines run (only the
# explode/unnest spelling differs), so the oracle is bit-exact
# including cos/sin (verified: JVM and DuckDB libm agree bitwise on the
# fixture; a mismatch would fail the hash gate loudly).
# --------------------------------------------------------------------------
_ARCS_SQL = """
  SELECT 0 AS arc_id, 1.0e1 AS x0, 1.0e1 AS y0, 1.4e1 AS x1, 1.2e1 AS y1, 1.0e1 AS x2, 1.0e1 AS y2
  UNION ALL SELECT 1, 0.0e0, 0.0e0, 5.0e0, 5.0e0, 9.0e0, 9.0e0
  UNION ALL SELECT 2, 3.0e0, 7.0e0, 3.0e0, 7.0e0, 3.0e0, 7.0e0
  UNION ALL SELECT 3, 1.0e1, 0.0e0, 5.0e0, 5.0e0, 0.0e0, 0.0e0
  UNION ALL SELECT 4, 0.0e0, 1.0e1, 5.0e0, 5.0e0, 0.0e0, 0.0e0
  UNION ALL SELECT 5, 0.0e0, 0.0e0, 3.0e0, 4.0e0, 8.0e0, 0.0e0
  UNION ALL SELECT 6, 2.0e1, 5.0e0, 1.7e1, 9.0e0, 1.4e1, 5.0e0
  UNION ALL SELECT 7, -5.0e0, -5.0e0, 0.0e0, 3.0e0, 5.0e0, -5.0e0
  UNION ALL SELECT 8, 1.0e2, 5.0e1, 1.04e2, 5.4e1, 1.08e2, 5.0e1
  UNION ALL SELECT 9, 7.0e0, 2.0e0, 9.0e0, 7.0e0, 4.0e0, 9.0e0
"""

# parameter CTEs (through the unwrapped angles) — shared by the stroker
# and by the curve-area query
_CURVE_PARAMS = """
sw AS (
  SELECT arc_id,
         CASE WHEN x0 < x2 OR (x0 = x2 AND y0 < y2) THEN 1 ELSE 0 END AS sw,
         CASE WHEN x0 < x2 OR (x0 = x2 AND y0 < y2) THEN x2 ELSE x0 END AS ax0,
         CASE WHEN x0 < x2 OR (x0 = x2 AND y0 < y2) THEN y2 ELSE y0 END AS ay0,
         x1 AS ax1, y1 AS ay1,
         CASE WHEN x0 < x2 OR (x0 = x2 AND y0 < y2) THEN x0 ELSE x2 END AS ax2,
         CASE WHEN x0 < x2 OR (x0 = x2 AND y0 < y2) THEN y0 ELSE y2 END AS ay2
  FROM arcs
),
nrm AS (
  SELECT *, greatest(abs(ax1 - ax0), abs(ay1 - ay0),
                     abs(ax2 - ax1), abs(ay2 - ay1)) AS scl
  FROM sw
),
sd AS (
  SELECT *, CASE WHEN scl > 0.0e0 THEN 1.0e0 / scl ELSE 0.0e0 END AS inv
  FROM nrm
),
sd2 AS (
  SELECT *, (ax1 - ax0) * inv AS sdx01, (ay1 - ay0) * inv AS sdy01,
            (ax2 - ax1) * inv AS sdx12, (ay2 - ay1) * inv AS sdy12
  FROM sd
),
dt AS (SELECT *, sdx01 * sdy12 - sdx12 * sdy01 AS det FROM sd2),
cls AS (
  SELECT *,
    CASE WHEN ax0 = ax2 AND ay0 = ay2 AND (ax0 <> ax1 OR ay0 <> ay1) THEN 1
         WHEN ax0 = ax2 AND ay0 = ay2 THEN -1
         WHEN abs(det) < 1.0e-8 THEN 0
         ELSE 2 END AS kind
  FROM dt
),
cc AS (
  SELECT *, sdx01 * ((ax0 + ax1) * inv) + sdy01 * ((ay0 + ay1) * inv) AS c01,
            sdx12 * ((ax1 + ax2) * inv) + sdy12 * ((ay1 + ay2) * inv) AS c12
  FROM cls
),
ctr AS (
  SELECT *,
    CASE WHEN kind = 1 THEN (ax0 + ax1) / 2.0e0
         WHEN kind = 2 THEN 5.0e-1 * scl * (c01 * sdy12 - c12 * sdy01) / det
         ELSE 0.0e0 END AS cx,
    CASE WHEN kind = 1 THEN (ay0 + ay1) / 2.0e0
         WHEN kind = 2 THEN 5.0e-1 * scl * (c12 * sdx01 - c01 * sdx12) / det
         ELSE 0.0e0 END AS cy
  FROM cc
),
rr AS (
  SELECT *,
    CASE WHEN kind >= 1
         THEN sqrt((cx - ax0) * (cx - ax0) + (cy - ay0) * (cy - ay0))
         ELSE 0.0e0 END AS R,
    CASE WHEN kind = 1 THEN atan2(ay0 - cy, ax0 - cx)
         WHEN kind = 2 THEN atan2((ay0 - cy) * inv, (ax0 - cx) * inv)
         ELSE 0.0e0 END AS a0,
    CASE WHEN kind = 2 THEN atan2((ay1 - cy) * inv, (ax1 - cx) * inv)
         ELSE 0.0e0 END AS a1r,
    CASE WHEN kind = 2 THEN atan2((ay2 - cy) * inv, (ax2 - cx) * inv)
         ELSE 0.0e0 END AS a2r
  FROM ctr
),
ang AS (
  SELECT *,
    CASE WHEN kind = 1 THEN a0 + pi()
         WHEN kind = 2 AND det < 0.0e0 AND a1r > a0 THEN a1r - 2.0e0 * pi()
         WHEN kind = 2 AND det >= 0.0e0 AND a1r < a0 THEN a1r + 2.0e0 * pi()
         WHEN kind = 2 THEN a1r ELSE 0.0e0 END AS a1
  FROM rr
),
ang2 AS (
  SELECT *,
    CASE WHEN kind = 1 THEN a0 + 2.0e0 * pi()
         WHEN kind = 2 AND det < 0.0e0 AND a2r > a1 THEN a2r - 2.0e0 * pi()
         WHEN kind = 2 AND det >= 0.0e0 AND a2r < a1 THEN a2r + 2.0e0 * pi()
         WHEN kind = 2 THEN a2r ELSE 0.0e0 END AS a2
  FROM ang
)
"""

# {k1} / {k2}: dialect explode of 1..ns1 / 1..ns2
_CURVE_EMIT = """
stp AS (
  SELECT *, CASE WHEN a1 >= a0 THEN 1.0e0 ELSE -1.0e0 END AS ns,
            (4.0e0 / 1.8e2) * pi() AS step0
  FROM ang2
),
stk AS (
  -- +1e-9 after the half-up shift: round-angle arcs land |da|/step0
  -- exactly ON half-integers (7 of the 20 fixture steps), where
  -- floor(x + 0.5) flips nSteps on single-ulp cross-engine drift; the
  -- off-tie gap is >= 6.5e-2 and drift <= ~6e-14, so the nudge
  -- resolves every tie upward (the reference's int(x + 0.5)) robustly.
  SELECT *,
    greatest(CAST(floor(abs((a1 - a0) / step0) + 5.0e-1 + 1.0e-9) AS INT), 4) AS ns1,
    greatest(CAST(floor(abs((a2 - a1) / step0) + 5.0e-1 + 1.0e-9) AS INT), 4) AS ns2
  FROM stp
),
stk2 AS (
  SELECT *, ns * abs((a1 - a0) / CAST(ns1 AS DOUBLE)) AS d1,
            ns * abs((a2 - a1) / CAST(ns2 AS DOUBLE)) AS d2
  FROM stk
),
pts AS (
  SELECT arc_id, sw, 0.0e0 AS ord, ax0 AS x, ay0 AS y FROM stk2
  UNION ALL
  SELECT arc_id, sw, 1.0e3 + k, cx + R * cos(a0 + k * d1), cy + R * sin(a0 + k * d1)
  FROM (SELECT *, {k1} AS k FROM stk2) t
  WHERE (a0 + k * d1 - a1) * ns < -1.0e-8
  UNION ALL
  SELECT arc_id, sw, 2.0e3, ax1, ay1 FROM stk2
  UNION ALL
  SELECT arc_id, sw, 3.0e3 + k, cx + R * cos(a1 + k * d2), cy + R * sin(a1 + k * d2)
  FROM (SELECT *, {k2} AS k FROM stk2) t
  WHERE (a1 + k * d2 - a2) * ns < -1.0e-8
  UNION ALL
  SELECT arc_id, sw, 4.0e3, ax2, ay2 FROM stk2
)
"""

_CURVE_FINAL = """
SELECT arc_id,
       CAST(row_number() OVER (PARTITION BY arc_id
                               ORDER BY CASE WHEN sw = 1 THEN -ord ELSE ord END)
            - 1 AS INT) AS seq,
       x, y
FROM pts
"""

_CURVE_TAIL = _CURVE_PARAMS + ",\n" + _CURVE_EMIT + _CURVE_FINAL

_CURVE_ORACLE = "WITH arcs AS (" + _ARCS_SQL + "), " + _CURVE_TAIL.format(
    k1="unnest(generate_series(1, CAST(ns1 AS BIGINT)))",
    k2="unnest(generate_series(1, CAST(ns2 AS BIGINT)))",
)


@register("curve_to_line", _CURVE_ORACLE)
def q_curve_to_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CIRCULARSTRING arcs -> stroked LineString vertices; the arc dim
    table broadcasts, the fan-out is a JVM sequence+explode."""
    tail = _CURVE_TAIL.format(
        k1="explode(sequence(1, ns1))", k2="explode(sequence(1, ns2))"
    )
    return spark.sql("WITH arcs AS (" + _ARCS_SQL + "), " + tail)


# --------------------------------------------------------------------------
# COMPOUNDCURVE linearization — OGRCompoundCurve::CurveToLine
# (ogr/ogrcompoundcurve.cpp): each member curve is stroked (arcs via
# curveToLineString, straight segments pass through) and concatenated,
# skipping the first point of every segment after the first (the shared
# joint vertex).  Fixtures: line+arc+line, and arc+arc.  Segment order
# and joint dedup are the compound-specific behavior under test; the
# arc kernel is the oracle-proven curve_to_line machinery (arc_id =
# cmp_id·100 + seg_idx rides through it).
# --------------------------------------------------------------------------
_CMP_SEGS = """
  SELECT 0 AS cmp_id, 0 AS seg_idx, 'line' AS seg_type,
         0.0e0 AS x0, 0.0e0 AS y0, 5.0e0 AS x1, 0.0e0 AS y1, 1.0e1 AS x2, 0.0e0 AS y2
  UNION ALL SELECT 0, 1, 'arc', 1.0e1, 0.0e0, 1.5e1, 5.0e0, 2.0e1, 0.0e0
  UNION ALL SELECT 0, 2, 'line', 2.0e1, 0.0e0, 2.2e1, 0.0e0, 2.5e1, 0.0e0
  UNION ALL SELECT 1, 0, 'arc', 0.0e0, 2.0e1, 4.0e0, 2.4e1, 8.0e0, 2.0e1
  UNION ALL SELECT 1, 1, 'arc', 8.0e0, 2.0e1, 1.2e1, 1.6e1, 1.6e1, 2.0e1
"""

_COMPOUND_SQL_FMT = (
    "WITH segs AS ({segs}),\n"
    "arcs AS (SELECT cmp_id * 100 + seg_idx AS arc_id, x0, y0, x1, y1, x2, y2"
    " FROM segs WHERE seg_type = 'arc'),\n"
    + _CURVE_PARAMS
    + ",\n"
    + _CURVE_EMIT
    + ", stroked AS ("
    + _CURVE_FINAL
    + "),\n"
    + """
allv AS (
  SELECT CAST(floor(CAST(arc_id AS DOUBLE) / 1.0e2) AS INT) AS cmp_id,
         arc_id % 100 AS seg_idx, seq, x, y
  FROM stroked
  UNION ALL
  SELECT cmp_id, seg_idx, 0 AS seq, x0 AS x, y0 AS y FROM segs WHERE seg_type = 'line'
  UNION ALL
  SELECT cmp_id, seg_idx, 1 AS seq, x2 AS x, y2 AS y FROM segs WHERE seg_type = 'line'
)
SELECT cmp_id,
       CAST(row_number() OVER (PARTITION BY cmp_id ORDER BY seg_idx, seq)
            - 1 AS INT) AS vertex,
       x, y
FROM allv
WHERE NOT (seg_idx > 0 AND seq = 0)
"""
)

_COMPOUND_ORACLE = _COMPOUND_SQL_FMT.format(
    segs=_CMP_SEGS,
    k1="unnest(generate_series(1, CAST(ns1 AS BIGINT)))",
    k2="unnest(generate_series(1, CAST(ns2 AS BIGINT)))",
)


@register("compound_to_line", _COMPOUND_ORACLE)
def q_compound_to_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        _COMPOUND_SQL_FMT.format(
            segs=_CMP_SEGS,
            k1="explode(sequence(1, ns1))",
            k2="explode(sequence(1, ns2))",
        )
    )


# --------------------------------------------------------------------------
# Arc re-detection — OGRGeometryFactory::curveFromLineString
# (ogr/ogrgeometryfactory.cpp:6214) + OGRGF_DetectArc (:5650): the
# stroker's inverse.  The FULL pipeline is under test: the fixture
# compound curves are stroked by the oracle-proven curve_to_line
# machinery (same shared SQL text both engines, bit-identical
# vertices), then the detector re-derives the arc/line segmentation —
# the flagship assertion being the exact round trip (detected arcs ==
# the original 3-point CIRCULARSTRINGs, both midpoint-selection paths:
# the regular-lattice index midpoint for symmetric arcs and the
# irregular-step detection :5896 that pins the stroker's explicit
# intermediate for asymmetric ones).
#
# Engine: faithful greedy scan per curve (operators/curve_detect.py,
# applyInPandas group per curve_id — the dither distribution contract).
# Oracle: an INDEPENDENT formulation — per-triple circle parameters via
# window functions, maximal compatible-neighbor runs (gaps-and-islands),
# per-run midpoint/full-circle/piece assembly in pure SQL.  The two
# differ where the reference compares each triple to the run's ANCHOR
# (tolerance scale, max-step bound, 40-degree span) and the oracle
# compares neighbors / run-firsts: equivalent whenever within-run
# parameter drift is orders below the 1e-7 tolerance and spans/steps
# sit far from the 40-degree / 2x-step bounds — true by construction
# for exactly-stroked arcs (drift ~1e-13, steps ~4 degrees), pinned by
# tests/test_curve_detect.py.  Coordinates in the output are SELECTED
# input vertices (no arithmetic), so values are bit-exact copies of the
# stroke on both sides.
# --------------------------------------------------------------------------
_CFL_SEGS = """
  SELECT 0 AS cmp_id, 0 AS seg_idx, 'line' AS seg_type,
         0.0e0 AS x0, 0.0e0 AS y0, 5.0e0 AS x1, 0.0e0 AS y1, 1.0e1 AS x2, 0.0e0 AS y2
  UNION ALL SELECT 0, 1, 'arc', 1.0e1, 0.0e0, 1.5e1, 5.0e0, 2.0e1, 0.0e0
  UNION ALL SELECT 0, 2, 'line', 2.0e1, 0.0e0, 2.2e1, 0.0e0, 2.5e1, 0.0e0
  UNION ALL SELECT 1, 0, 'arc', 0.0e0, 2.0e1, 4.0e0, 2.4e1, 8.0e0, 2.0e1
  UNION ALL SELECT 1, 1, 'arc', 8.0e0, 2.0e1, 1.2e1, 1.6e1, 1.6e1, 2.0e1
  UNION ALL SELECT 2, 0, 'line', 0.0e0, 4.0e1, 1.5e0, 4.15e1, 3.0e0, 4.3e1
  UNION ALL SELECT 2, 1, 'line', 3.0e0, 4.3e1, 4.5e0, 4.15e1, 6.0e0, 4.0e1
  UNION ALL SELECT 2, 2, 'line', 6.0e0, 4.0e1, 7.5e0, 4.15e1, 9.0e0, 4.3e1
  UNION ALL SELECT 2, 3, 'line', 9.0e0, 4.3e1, 1.05e1, 4.15e1, 1.2e1, 4.0e1
  UNION ALL SELECT 3, 0, 'arc', 0.0e0, -1.0e1, 0.0e0, 1.0e1, 0.0e0, -1.0e1
  UNION ALL SELECT 4, 0, 'arc', 2.0e1, 1.5e1, 2.4e1, 7.0e0, 2.5e1, 0.0e0
  UNION ALL SELECT 5, 0, 'line', 0.0e0, 3.0e1, 5.0e0, 3.0e1, 1.0e1, 3.0e1
  UNION ALL SELECT 5, 1, 'line', 1.0e1, 3.0e1, 1.5e1, 3.0e1, 2.0e1, 3.0e1
"""

# Stroke the fixture into stroked(curve_id, seq, x, y) — the compound
# machinery verbatim (arc segments through _CURVE_PARAMS/_CURVE_EMIT,
# line segments pass endpoints through, joint vertices deduped).
_CFL_STROKE_FMT = (
    "segs AS ({segs}),\n"
    "arcs AS (SELECT cmp_id * 100 + seg_idx AS arc_id, x0, y0, x1, y1, x2, y2"
    " FROM segs WHERE seg_type = 'arc'),\n"
    + _CURVE_PARAMS
    + ",\n"
    + _CURVE_EMIT
    + ", stroked0 AS ("
    + _CURVE_FINAL
    + "),\n"
    + """
allv AS (
  SELECT CAST(floor(CAST(arc_id AS DOUBLE) / 1.0e2) AS INT) AS cmp_id,
         arc_id % 100 AS seg_idx, seq, x, y
  FROM stroked0
  UNION ALL
  SELECT cmp_id, seg_idx, 0 AS seq, x0 AS x, y0 AS y FROM segs WHERE seg_type = 'line'
  UNION ALL
  SELECT cmp_id, seg_idx, 1 AS seq, x2 AS x, y2 AS y FROM segs WHERE seg_type = 'line'
),
stroked AS (
  SELECT cmp_id AS curve_id,
         CAST(row_number() OVER (PARTITION BY cmp_id ORDER BY seg_idx, seq)
              - 1 AS INT) AS seq,
         x, y
  FROM allv
  WHERE NOT (seg_idx > 0 AND seq = 0)
)"""
)

# anchor decimal scale (ogrgeometryfactory.cpp:5689-5694), in neighbor
# form (previous triple's values — see the section comment)
_CFL_PSCALE = (
    "power(1.0e1, ceil(log10(greatest(1.0e0, pR, abs(pcx), abs(pcy)))))"
)

_CFL_DETECT = f"""
nn AS (SELECT curve_id, count(*) AS n FROM stroked GROUP BY curve_id),
tri0 AS (
  SELECT curve_id, n, seq AS k, x AS tx0, y AS ty0,
         lead(x, 1) OVER w AS tx1, lead(y, 1) OVER w AS ty1,
         lead(x, 2) OVER w AS tx2, lead(y, 2) OVER w AS ty2
  FROM stroked JOIN nn USING (curve_id)
  WINDOW w AS (PARTITION BY curve_id ORDER BY seq)
),
tri AS (SELECT * FROM tri0 WHERE k + 2 <= n - 1),
dp0 AS (SELECT *, greatest(abs(tx1 - tx0), abs(ty1 - ty0),
                           abs(tx2 - tx1), abs(ty2 - ty1)) AS dscl FROM tri),
dp1 AS (SELECT *, CASE WHEN dscl > 0.0e0 THEN 1.0e0 / dscl ELSE 0.0e0 END AS dinv FROM dp0),
dp2 AS (SELECT *, (tx1 - tx0) * dinv AS ddx01, (ty1 - ty0) * dinv AS ddy01,
               (tx2 - tx1) * dinv AS ddx12, (ty2 - ty1) * dinv AS ddy12 FROM dp1),
dp3 AS (SELECT *, ddx01 * ddy12 - ddx12 * ddy01 AS ddet FROM dp2),
dp4 AS (SELECT *,
  CASE WHEN tx0 = tx2 AND ty0 = ty2 AND (tx0 <> tx1 OR ty0 <> ty1) THEN 1
       WHEN tx0 = tx2 AND ty0 = ty2 THEN -1
       WHEN abs(ddet) < 1.0e-8 THEN 0 ELSE 2 END AS dkind
  FROM dp3),
dp5 AS (SELECT *,
  ddx01 * ((tx0 + tx1) * dinv) + ddy01 * ((ty0 + ty1) * dinv) AS dc01,
  ddx12 * ((tx1 + tx2) * dinv) + ddy12 * ((ty1 + ty2) * dinv) AS dc12
  FROM dp4),
dp6 AS (SELECT *,
  CASE WHEN dkind = 1 THEN (tx0 + tx1) / 2.0e0
       WHEN dkind = 2 THEN 5.0e-1 * dscl * (dc01 * ddy12 - dc12 * ddy01) / ddet
       ELSE 0.0e0 END AS dcx,
  CASE WHEN dkind = 1 THEN (ty0 + ty1) / 2.0e0
       WHEN dkind = 2 THEN 5.0e-1 * dscl * (dc12 * ddx01 - dc01 * ddx12) / ddet
       ELSE 0.0e0 END AS dcy
  FROM dp5),
dp7 AS (SELECT *,
  CASE WHEN dkind >= 1
       THEN sqrt((dcx - tx0) * (dcx - tx0) + (dcy - ty0) * (dcy - ty0))
       ELSE 0.0e0 END AS dR,
  CASE WHEN dkind = 1 THEN atan2(ty0 - dcy, tx0 - dcx)
       WHEN dkind = 2 THEN atan2((ty0 - dcy) * dinv, (tx0 - dcx) * dinv)
       ELSE 0.0e0 END AS da0,
  CASE WHEN dkind = 2 THEN atan2((ty1 - dcy) * dinv, (tx1 - dcx) * dinv) ELSE 0.0e0 END AS da1r,
  CASE WHEN dkind = 2 THEN atan2((ty2 - dcy) * dinv, (tx2 - dcx) * dinv) ELSE 0.0e0 END AS da2r
  FROM dp6),
dp8 AS (SELECT *,
  CASE WHEN dkind = 1 THEN da0 + pi()
       WHEN dkind = 2 AND ddet < 0.0e0 AND da1r > da0 THEN da1r - 2.0e0 * pi()
       WHEN dkind = 2 AND ddet >= 0.0e0 AND da1r < da0 THEN da1r + 2.0e0 * pi()
       WHEN dkind = 2 THEN da1r ELSE 0.0e0 END AS da1
  FROM dp7),
dp9 AS (SELECT *,
  CASE WHEN dkind = 1 THEN da0 + 2.0e0 * pi()
       WHEN dkind = 2 AND ddet < 0.0e0 AND da2r > da1 THEN da2r - 2.0e0 * pi()
       WHEN dkind = 2 AND ddet >= 0.0e0 AND da2r < da1 THEN da2r + 2.0e0 * pi()
       WHEN dkind = 2 THEN da2r ELSE 0.0e0 END AS da2
  FROM dp8),
tpar AS (
  SELECT curve_id, n, k, dR, dcx, dcy, da0, da2,
         da1 - da0 AS dd10, da2 - da1 AS dd21,
         greatest(abs(da1 - da0), abs(da2 - da1)) AS dmaxd
  FROM dp9 WHERE dkind >= 1
),
cp AS (
  SELECT *, lag(k) OVER w AS pk, lag(dR) OVER w AS pR,
         lag(dcx) OVER w AS pcx, lag(dcy) OVER w AS pcy,
         lag(dd10) OVER w AS pd10, lag(dmaxd) OVER w AS pmaxd
  FROM tpar WINDOW w AS (PARTITION BY curve_id ORDER BY k)
),
cf AS (
  SELECT *,
    CASE WHEN pk = k - 1
          AND abs(dR - pR) <= 1.0e-7 * {_CFL_PSCALE}
          AND abs(dcx - pcx) <= 1.0e-7 * {_CFL_PSCALE}
          AND abs(dcy - pcy) <= 1.0e-7 * {_CFL_PSCALE}
          AND pd10 * dd10 >= 0.0e0
          AND abs(dd10) < 2.0e0 * pmaxd AND abs(dd21) < 2.0e0 * pmaxd
         THEN 0 ELSE 1 END AS brk
  FROM cp
),
rg AS (SELECT *, sum(brk) OVER (PARTITION BY curve_id ORDER BY k) AS grp FROM cf),
runs AS (
  SELECT curve_id, grp, any_value(n) AS n, min(k) AS i, max(k) AS jlast,
         count(*) AS m,
         arg_min(dd10, k) AS ad10, arg_min(dd21, k) AS ad21,
         arg_min(dmaxd, k) AS amaxd,
         arg_min(abs(da2 - da0), k) AS aspan
  FROM rg GROUP BY curve_id, grp
),
acc AS (
  SELECT *, i + m AS jeff, i + m + 1 AS e,
         CASE WHEN abs(ad10 - ad21) / amaxd < 1.0e-4 THEN 1 ELSE 0 END AS cstep
  FROM runs
  WHERE m >= 3 AND aspan < 2.0e0 * 2.0e1 / 1.8e2 * pi()
),
acc2 AS (
  SELECT *, CASE WHEN cstep = 1 THEN amaxd * 1.0e-4 ELSE amaxd / 1.0e1 END AS deps
  FROM acc
),
midc AS (
  SELECT a.curve_id, a.grp,
         min(CASE WHEN abs(abs(t.dd10) - a.amaxd) > a.deps THEN t.k * 2
                  WHEN abs(abs(t.dd21) - a.amaxd) > a.deps THEN t.k * 2 + 1
             END) AS mc
  FROM acc2 a JOIN rg t ON t.curve_id = a.curve_id AND t.grp = a.grp
   AND t.k >= a.i + 2
  WHERE a.deps < pi() / 1.8e2
  GROUP BY a.curve_id, a.grp
),
amid AS (
  SELECT a.*,
         CASE WHEN m.mc IS NULL THEN -1
              WHEN m.mc % 2 = 0
              THEN m.mc // 2 + CASE WHEN a.cstep = 1 THEN 0 ELSE 1 END
              ELSE (m.mc - 1) // 2 + CASE WHEN a.cstep = 1 THEN 1 ELSE 2 END
         END AS imid
  FROM acc2 a LEFT JOIN midc m ON m.curve_id = a.curve_id AND m.grp = a.grp
),
afin AS (
  SELECT a.*,
         CASE WHEN si.x = se.x AND si.y = se.y THEN 1 ELSE 0 END AS isfull,
         (a.i + a.jeff + 2) // 4 AS q1,
         (a.i + a.jeff + 1) // 2 AS q2,
         (3 * (a.i + a.jeff + 2)) // 4 AS q3,
         CASE WHEN a.imid >= 1 AND a.imid < a.jeff THEN a.imid
              ELSE (a.i + a.jeff + 1) // 2 END AS midv
  FROM amid a
  JOIN stroked si ON si.curve_id = a.curve_id AND si.seq = a.i
  JOIN stroked se ON se.curve_id = a.curve_id AND se.seq = a.e
),
aord AS (
  SELECT *, row_number() OVER (PARTITION BY curve_id ORDER BY i) AS arcno,
         lag(e) OVER (PARTITION BY curve_id ORDER BY i) AS preve
  FROM afin
),
aset AS (SELECT *, CASE WHEN preve IS NULL OR preve <> i THEN 1 ELSE 0 END AS np FROM aord),
aps AS (SELECT *, sum(np) OVER (PARTITION BY curve_id ORDER BY arcno) AS apc FROM aset),
apts AS (
  SELECT curve_id, apc, arcno * 10 + 0 AS ord, i AS vidx FROM aps WHERE np = 1
  UNION ALL SELECT curve_id, apc, arcno * 10 + 1, q1 FROM aps WHERE isfull = 1
  UNION ALL SELECT curve_id, apc, arcno * 10 + 2,
                   CASE WHEN isfull = 1 THEN q2 ELSE midv END FROM aps
  UNION ALL SELECT curve_id, apc, arcno * 10 + 3, q3 FROM aps WHERE isfull = 1
  UNION ALL SELECT curve_id, apc, arcno * 10 + 4, e FROM aps
),
abounds AS (SELECT curve_id, apc, min(vidx) AS ps, max(vidx) AS pe
            FROM apts GROUP BY curve_id, apc),
lb AS (
  SELECT curve_id, ps, pe, n,
         lead(ps) OVER (PARTITION BY curve_id ORDER BY ps) AS nxt,
         row_number() OVER (PARTITION BY curve_id ORDER BY ps) AS rn
  FROM abounds JOIN nn USING (curve_id)
),
lpieces AS (
  SELECT curve_id, 0 AS s, ps AS t FROM lb WHERE rn = 1 AND ps > 0
  UNION ALL
  SELECT curve_id, pe AS s, coalesce(nxt, n - 1) AS t
  FROM lb WHERE coalesce(nxt, n - 1) > pe
  UNION ALL
  SELECT nn.curve_id, 0 AS s, nn.n - 1 AS t
  FROM nn LEFT JOIN abounds USING (curve_id)
  WHERE abounds.curve_id IS NULL
),
pieces AS (
  SELECT curve_id, 'ARC' AS piece_type, apc AS pid, ps AS pstart FROM abounds
  UNION ALL
  SELECT curve_id, 'LINE', -1, s FROM lpieces
),
pord AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY curve_id ORDER BY pstart)
                 - 1 AS INT) AS piece_idx
  FROM pieces
),
outa AS (
  SELECT p.curve_id, p.piece_idx, 'ARC' AS piece_type,
         CAST(row_number() OVER (PARTITION BY a.curve_id, a.apc ORDER BY a.ord)
              - 1 AS INT) AS pt_idx,
         s.x, s.y
  FROM pord p
  JOIN apts a ON a.curve_id = p.curve_id AND a.apc = p.pid
             AND p.piece_type = 'ARC'
  JOIN stroked s ON s.curve_id = a.curve_id AND s.seq = a.vidx
),
outl AS (
  SELECT p.curve_id, p.piece_idx, 'LINE' AS piece_type,
         CAST(s.seq - l.s AS INT) AS pt_idx, s.x, s.y
  FROM pord p
  JOIN lpieces l ON l.curve_id = p.curve_id AND l.s = p.pstart
                AND p.piece_type = 'LINE'
  JOIN stroked s ON s.curve_id = l.curve_id AND s.seq BETWEEN l.s AND l.t
)
SELECT CAST(curve_id AS INT) AS curve_id, piece_idx, piece_type, pt_idx, x, y
FROM (SELECT * FROM outa UNION ALL SELECT * FROM outl) u
"""

_CFL_ORACLE = (
    "WITH "
    + _CFL_STROKE_FMT.format(
        segs=_CFL_SEGS,
        k1="unnest(generate_series(1, CAST(ns1 AS BIGINT)))",
        k2="unnest(generate_series(1, CAST(ns2 AS BIGINT)))",
    )
    + ",\n"
    + _CFL_DETECT
)


@register("curve_from_line", _CFL_ORACLE)
def q_curve_from_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stroke the compound fixtures (shared SQL, bit-identical to the
    oracle's stroke) then re-detect arcs: one shuffle on curve_id, each
    curve's serial greedy scan in its own Arrow task."""
    from gdal_spark.operators.curve_detect import curve_from_line

    stroke = _CFL_STROKE_FMT.format(
        segs=_CFL_SEGS,
        k1="explode(sequence(1, ns1))",
        k2="explode(sequence(1, ns2))",
    )
    stroked = spark.sql(
        "WITH " + stroke + " SELECT curve_id, seq, x, y FROM stroked"
    )
    return curve_from_line(stroked)


# --------------------------------------------------------------------------
# Exact area of closed curve geometries — OGRCircularString::get_Area
# (ogr/ogrcircularstring.cpp:846) + OGRCurvePolygon::get_Area: full
# circle = π·R², convex closed curves = control-polygon shoelace
# (OGRSimpleCurve::get_LinearArea, sequential accumulation unrolled
# verbatim) + per-arc circular-segment areas 0.5·R²·|Δ01−sinΔ01+Δ12−
# sinΔ12| (get_AreaOfCurveSegments, ogrcircularstring.cpp:808 — the
# en.wikipedia circular-segment identity).  Fixtures are a full circle
# and two 2-arc convex lenses (convexity pinned in tests, so the convex
# branch is statically correct; curves are capped at two arcs so the
# floating sum of segment parts stays order-commutative and therefore
# shuffle-order-proof).
# --------------------------------------------------------------------------
_CAREA_ARCS = """
  SELECT 0 AS arc_id, 1.0e1 AS x0, 1.0e1 AS y0, 1.4e1 AS x1, 1.2e1 AS y1, 1.0e1 AS x2, 1.0e1 AS y2
  UNION ALL SELECT 1, 0.0e0, 0.0e0, 5.0e0, -2.0e0, 1.0e1, 0.0e0
  UNION ALL SELECT 2, 1.0e1, 0.0e0, 5.0e0, 2.0e0, 0.0e0, 0.0e0
  UNION ALL SELECT 3, 2.0e1, 0.0e0, 2.2e1, 5.0e0, 2.0e1, 1.0e1
  UNION ALL SELECT 4, 2.0e1, 1.0e1, 1.8e1, 5.0e0, 2.0e1, 0.0e0
"""

# control-polygon shoelace, unrolled in the reference's accumulation
# order: x0(y1-y4) + x1(y2-y0) + x2(y3-y1) + x3(y4-y2) + x4(y0-y3)
_CAREA_LS = {
    1: (
        "5.0e-1 * abs(((((0.0e0 * (-2.0e0 - 0.0e0) + 5.0e0 * (0.0e0 - 0.0e0))"
        " + 1.0e1 * (2.0e0 - -2.0e0)) + 5.0e0 * (0.0e0 - 0.0e0))"
        " + 0.0e0 * (0.0e0 - 2.0e0)))"
    ),
    2: (
        "5.0e-1 * abs(((((2.0e1 * (5.0e0 - 0.0e0) + 2.2e1 * (1.0e1 - 0.0e0))"
        " + 2.0e1 * (5.0e0 - 5.0e0)) + 1.8e1 * (0.0e0 - 1.0e1))"
        " + 2.0e1 * (0.0e0 - 5.0e0)))"
    ),
}

_CAREA_SQL = f"""WITH arcs AS ({_CAREA_ARCS}),
{_CURVE_PARAMS.strip()},
seg AS (
  SELECT CASE WHEN arc_id = 0 THEN 0 WHEN arc_id <= 2 THEN 1 ELSE 2 END AS curve_id,
         CASE WHEN kind = 1 THEN pi() * R * R
              WHEN kind = 2 THEN 5.0e-1 * R * R *
                   abs((a1 - a0) - sin(a1 - a0) + (a2 - a1) - sin(a2 - a1))
              ELSE 0.0e0 END AS a_part
  FROM ang2
),
tot AS (SELECT curve_id, SUM(a_part) AS seg_sum FROM seg GROUP BY curve_id)
SELECT curve_id,
       CASE WHEN curve_id = 0 THEN seg_sum
            WHEN curve_id = 1 THEN {_CAREA_LS[1]} + seg_sum
            ELSE {_CAREA_LS[2]} + seg_sum END AS area
FROM tot
"""


@register("st_curve_area", _CAREA_SQL)
def q_st_curve_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_CAREA_SQL)


# --------------------------------------------------------------------------
# Embedding clustering (training-data pipeline, SemDeDup-style): K-means
# over the embeddings table, 3 unrolled Lloyd iterations on an INTEGER
# lattice — embeddings quantized to milli-units and centroids to
# micro-units each round, so every distance is an exact BIGINT sum:
# bit-identical under ANY aggregation order (the property float k-means
# lacks, and what makes a distributed run reproducible AND a SQL oracle
# possible; the fixed-point rounding is the documented divergence from
# float Lloyd).  Init = the first K vectors.  Per iteration: one
# broadcast-sized centroid join + two aggregations; the vector side
# shuffles only on (vec_id) / (cid, d) keys.  Empty clusters keep their
# previous centroid (deterministic).
# --------------------------------------------------------------------------
_KM_K = 8
_KM_DIMS = 64
_KM_ITERS = 3


def _kmeans_ctes(
    dims_join: str, elem: str, table: str = "embeddings"
) -> list[tuple[str, str]]:
    """Shared CTE chain as (name, body) pairs ending in m{ITERS}
    (vec_id, cid) / b{ITERS}; ``dims_join``/``elem`` are the dialect's
    dim-explode spelling (the only non-shared text)."""
    ctes = [
        (
            "q",
            f"SELECT vec_id, d, CAST(floor(1.0e3 * CAST({elem} AS DOUBLE))"
            f" AS BIGINT) AS p FROM {table} {dims_join}",
        ),
        (
            "c0",
            f"SELECT vec_id AS cid, d, 1000 * p AS c FROM q"
            f" WHERE vec_id < {_KM_K}",
        ),
    ]
    for i in range(1, _KM_ITERS + 1):
        prev = f"c{i - 1}"
        ctes += [
            (
                f"a{i}",
                f"SELECT q.vec_id, c.cid,"
                f" SUM((1000 * q.p - c.c) * (1000 * q.p - c.c)) AS d2"
                f" FROM q JOIN {prev} c ON q.d = c.d GROUP BY q.vec_id, c.cid",
            ),
            (
                f"b{i}",
                f"SELECT vec_id, cid, d2, row_number() OVER"
                f" (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM a{i}",
            ),
            (f"m{i}", f"SELECT vec_id, cid FROM b{i} WHERE rn = 1"),
            (
                f"s{i}",
                f"SELECT m.cid, q.d, SUM(q.p) AS s, COUNT(*) AS n"
                f" FROM q JOIN m{i} m ON q.vec_id = m.vec_id GROUP BY m.cid, q.d",
            ),
            (
                f"c{i}",
                f"SELECT pc.cid, pc.d,"
                f" COALESCE(CAST(floor(CAST(1000 * s.s AS DOUBLE)"
                f" / CAST(s.n AS DOUBLE)) AS BIGINT), pc.c) AS c"
                f" FROM {prev} pc LEFT JOIN s{i} s"
                f" ON pc.cid = s.cid AND pc.d = s.d",
            ),
        ]
    return ctes


_KM_FINAL = (
    f"SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id,"
    f" CAST(d2 AS BIGINT) AS dist2 FROM b{_KM_ITERS} WHERE rn = 1"
)


def _with_chain(ctes: list[tuple[str, str]], final: str) -> str:
    return (
        "WITH " + ",\n".join(f"{n} AS ({b})" for n, b in ctes) + "\n" + final
    )


def _run_cte_chain(
    spark: SparkSession,
    ctes: list[tuple[str, str]],
    final: str,
    materialize: set[str] | None = None,
):
    """Evaluate a CTE chain through temp views, eagerly
    localCheckpoint-ing the stages named in ``materialize`` so each of
    THOSE bodies runs once.  spark.sql's WITH inlines every reference,
    so a multiply-referenced stage (the unrolled Lloyd iterations read
    ``q`` and the previous centroids in four places each) re-executes
    its whole upstream tree per reference — the semdedup plan showed
    118 Exchange nodes with zero reuse.  At corpus scale the
    re-executed subtree is a full corpus scan, so the reused heavies
    are pinned; single-use stages stay lazy (checkpointing everything
    just pays ~20 scheduler round-trips at test scale).  Values are
    unchanged either way (the integer lattice is
    aggregation-order-proof)."""
    materialize = materialize if materialize is not None else {n for n, _ in ctes}
    for name, body in ctes:
        df = spark.sql(body)
        if name in materialize:
            # LAZY persist: physical planning swaps every reference for
            # one InMemoryTableScan, so the stage computes once inside
            # the final action's DAG — no per-stage scheduler round-trip
            # (an eager localCheckpoint chain measured 2.5x slower at
            # test scale).  The fixed stage count keeps the analyzed
            # plan bounded, unlike the open-ended iterative loops that
            # DO need the eager checkpoint (CLAUDE.md invariant).
            df = df.persist()
        df.createOrReplaceTempView(name)
    return spark.sql(final)


def _kmeans_sql(dims_join: str, elem: str) -> str:
    return _with_chain(_kmeans_ctes(dims_join, elem), _KM_FINAL)


_KMEANS_ORACLE = _kmeans_sql(
    dims_join=f", range(1, {_KM_DIMS + 1}) t(d)", elem="embedding[d]"
)


_KM_SPARK_DIMS = f"LATERAL VIEW explode(sequence(1, {_KM_DIMS})) t AS d"
_KM_SPARK_ELEM = "element_at(embedding, d)"
_KM_DUCK_DIMS = f", range(1, {_KM_DIMS + 1}) t(d)"
_KM_DUCK_ELEM = "embedding[d]"


@register("kmeans_embed", _KMEANS_ORACLE)
def q_kmeans_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    e.createOrReplaceTempView("embeddings")
    return _run_cte_chain(
        spark,
        _kmeans_ctes(_KM_SPARK_DIMS, _KM_SPARK_ELEM),
        _KM_FINAL,
        materialize={"q"} | {f"c{i}" for i in range(_KM_ITERS)},
    )


# --------------------------------------------------------------------------
# SemDeDup (training-data pipeline): semantic dedup = k-means clusters,
# then EXACT cosine near-dup detection ONLY within each cluster (the
# SemDeDup design point: pairwise work is O(sum of cluster sizes²), not
# corpus²), min-id keeper.  The cosine threshold test is pure int64:
# with centi-quantized components, cos(a,b) >= 0.95 AND dot > 0  <=>
# 10000·dot² >= 9025·|a|²·|b|²  (all exact — max |10000·dot²| ≈ 6.7e16
# and |9025·na²·nb²| ≈ 6.0e16 fit int64), so the pipeline is
# bit-reproducible end-to-end under any shuffle order.
# --------------------------------------------------------------------------
_SD_CAP = 4096  # hot-cluster guard: clusters above this re-split before pairing


def _semdedup_ctes(
    dims_join: str, elem: str, cap: int = _SD_CAP
) -> tuple[list[tuple[str, str]], str]:
    # the synthetic corpus has no semantic near-dups (max pairwise
    # cosine 0.51), so clones of every 25th vector are planted in-query
    # (same expression both engines) — cos = 1 with their source, which
    # proves the removal path; organic vectors all survive
    ctes = [
        (
            "embx",
            "SELECT vec_id, embedding FROM embeddings"
            " UNION ALL SELECT vec_id + 1000000 AS vec_id, embedding"
            " FROM embeddings WHERE vec_id % 25 = 0",
        )
    ]
    ctes += _kmeans_ctes(dims_join, elem, table="embx")
    m = f"m{_KM_ITERS}"
    # hot-cluster guard: a cluster larger than ``cap`` would make the
    # within-cluster pair join quadratic in its size at corpus scale, so
    # oversized clusters are re-split by a 6-bit sign LSH over the first
    # six quantized components (deterministic, shared text both engines)
    # before pairing — 64 sub-buckets bound the hot cluster's pair count
    # at ~n²/64 per level.  Exact clones always share every sign bit, so
    # the split can never separate a clone from its source; genuine
    # near-dups (cos >= 0.95) can flip a small-magnitude sign bit — the
    # standard LSH recall trade-off, documented here.  Clusters at or
    # under the cap pair exactly as before (sub = -1).
    sign_bits = (
        "SUM(CASE WHEN d <= 6 THEN (CASE WHEN v >= 0 THEN 1 ELSE 0 END)"
        " * (CASE WHEN d = 1 THEN 1 WHEN d = 2 THEN 2 WHEN d = 3 THEN 4"
        " WHEN d = 4 THEN 8 WHEN d = 5 THEN 16 ELSE 32 END) ELSE 0 END)"
    )
    ctes += [
        (
            "pc",
            f"SELECT vec_id, d, CAST(floor(1.0e2 * CAST({elem} AS DOUBLE))"
            f" AS BIGINT) AS v FROM embx {dims_join}",
        ),
        ("nrm2", "SELECT vec_id, SUM(v * v) AS n2 FROM pc GROUP BY vec_id"),
        ("csz", f"SELECT cid, COUNT(*) AS n FROM {m} GROUP BY cid"),
        ("sb", f"SELECT vec_id, {sign_bits} AS bits FROM pc GROUP BY vec_id"),
        (
            "ms",
            f"SELECT mm.vec_id, mm.cid,"
            f" CASE WHEN cs.n > {cap} THEN b.bits ELSE -1 END AS sub"
            f" FROM {m} mm JOIN csz cs ON mm.cid = cs.cid"
            f" JOIN sb b ON b.vec_id = mm.vec_id",
        ),
        (
            "pair",
            f"SELECT ma.vec_id AS ida, mb.vec_id AS idb,"
            f" SUM(pa.v * pb.v) AS dot"
            f" FROM ms ma JOIN ms mb ON ma.cid = mb.cid AND ma.sub = mb.sub"
            f" AND ma.vec_id < mb.vec_id"
            f" JOIN pc pa ON pa.vec_id = ma.vec_id"
            f" JOIN pc pb ON pb.vec_id = mb.vec_id AND pb.d = pa.d"
            f" GROUP BY ma.vec_id, mb.vec_id",
        ),
        (
            "dup",
            "SELECT p.ida, p.idb FROM pair p"
            " JOIN nrm2 na ON na.vec_id = p.ida"
            " JOIN nrm2 nb ON nb.vec_id = p.idb"
            " WHERE p.dot > 0 AND 10000 * p.dot * p.dot >= 9025 * na.n2 * nb.n2",
        ),
        (
            "wit",
            "SELECT idb AS vec_id, MIN(ida) AS witness FROM dup GROUP BY idb",
        ),
    ]
    final = (
        f"SELECT m.vec_id, CAST(m.cid AS BIGINT) AS cluster_id,"
        f" CAST(CASE WHEN w.witness IS NULL THEN 1 ELSE 0 END AS INT) AS keep,"
        f" CAST(COALESCE(w.witness, -1) AS BIGINT) AS witness"
        f" FROM {m} m LEFT JOIN wit w ON m.vec_id = w.vec_id"
    )
    return ctes, final


def _semdedup_sql(dims_join: str, elem: str, cap: int = _SD_CAP) -> str:
    ctes, final = _semdedup_ctes(dims_join, elem, cap)
    return _with_chain(ctes, final)


_SEMDEDUP_ORACLE = _semdedup_sql(_KM_DUCK_DIMS, _KM_DUCK_ELEM)


@register("semdedup", _SEMDEDUP_ORACLE)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    e.createOrReplaceTempView("embeddings")
    return _run_cte_chain(
        spark,
        *_semdedup_ctes(_KM_SPARK_DIMS, _KM_SPARK_ELEM),
        materialize={"embx", "q", "pc", "ms", f"m{_KM_ITERS}"}
        | {f"c{i}" for i in range(_KM_ITERS)},
    )


# --------------------------------------------------------------------------
# IVF + PQ (ADC) — the compressed-domain ANN scale path (Jégou et al.,
# "Product Quantization for Nearest Neighbor Search", TPAMI 2011; the
# composition FAISS calls IVFPQ): a coarse quantizer restricts candidates
# to probed cells, vectors inside are scored from M=4 subspace codes via
# an asymmetric-distance lookup table instead of raw floats — at corpus
# scale the scan touches M small ints per vector (16x compression at
# D=64 f32 -> 4 bytes) and never re-reads the embedding column.  Here
# both codebooks are the deterministic sample codebook (lowest-id
# vectors, the same convention as ann_ivf) on the floor(1e3*x) integer
# lattice, so the WHOLE pipeline — subspace code assignment, coarse
# cells, ADC sums, top-k — is reproduced bit-for-bit by DuckDB from
# shared SQL text.  The per-subspace distance table `pd` serves double
# duty exactly as in the paper: codes for the table side, ADC lookups
# for the query side.
# --------------------------------------------------------------------------
_PQ_M_DIMS = 16  # dims per subspace (D=64 -> M=4 subspaces)
_PQ_K = 16       # centroids per subspace codebook (and coarse cells)
_PQ_PROBE = 2


def _ivfpq_ctes(dims_join: str, elem: str) -> tuple[list[tuple[str, str]], str]:
    ctes = [
        (
            "q",
            f"SELECT vec_id, d,"
            f" CAST(floor(1.0e3 * CAST({elem} AS DOUBLE)) AS BIGINT) AS p,"
            f" CAST(floor((d - 1) / {_PQ_M_DIMS}) AS INT) AS m"
            f" FROM embeddings {dims_join}",
        ),
        ("cb", f"SELECT vec_id AS code, m, d, p FROM q WHERE vec_id < {_PQ_K}"),
        (
            "pd",
            "SELECT q.vec_id, q.m, c.code,"
            " SUM((q.p - c.p) * (q.p - c.p)) AS d2"
            " FROM q JOIN cb c ON q.d = c.d AND q.m = c.m"
            " GROUP BY q.vec_id, q.m, c.code",
        ),
        # full-vector coarse distances fall out of pd for free
        ("cd", "SELECT vec_id, code AS cid, SUM(d2) AS d2 FROM pd"
               " GROUP BY vec_id, code"),
        (
            "tassign",
            "SELECT vec_id AS neighbor_id, cid AS cell FROM ("
            "SELECT vec_id, cid,"
            " row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn"
            " FROM cd) WHERE rn = 1",
        ),
        (
            "qprobe",
            f"SELECT vec_id AS query_id, cid AS cell FROM ("
            f"SELECT vec_id, cid,"
            f" row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn"
            f" FROM cd) WHERE rn <= {_PQ_PROBE}",
        ),
        (
            "codes",
            "SELECT vec_id, m, code FROM ("
            "SELECT vec_id, m, code,"
            " row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, code)"
            " AS rn FROM pd) WHERE rn = 1",
        ),
        (
            "adc",
            "SELECT qp.query_id, t.neighbor_id, SUM(pd.d2) AS ad2"
            " FROM qprobe qp"
            " JOIN tassign t ON qp.cell = t.cell"
            " AND qp.query_id <> t.neighbor_id"
            " JOIN codes cx ON cx.vec_id = t.neighbor_id"
            " JOIN pd ON pd.vec_id = qp.query_id AND pd.m = cx.m"
            " AND pd.code = cx.code"
            " GROUP BY qp.query_id, t.neighbor_id",
        ),
    ]
    final = (
        f"SELECT query_id, neighbor_id, CAST(rnk AS int) AS rnk,"
        f" CAST(ad2 AS BIGINT) AS ad2 FROM ("
        f"SELECT query_id, neighbor_id, ad2,"
        f" row_number() OVER (PARTITION BY query_id ORDER BY ad2, neighbor_id)"
        f" AS rnk FROM adc) WHERE rnk <= {_ANN_K}"
    )
    return ctes, final


_ANN_IVFPQ_ORACLE = _with_chain(*_ivfpq_ctes(_KM_DUCK_DIMS, _KM_DUCK_ELEM))


@register("ann_ivfpq", _ANN_IVFPQ_ORACLE)
def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Honest recall numbers on this fixture (measured, round 3): the
    synthetic embeddings are near-random in 64-d, where ANY quantizer
    degrades — exact scoring within the probed cells caps recall@3 at
    0.303 and ADC scoring lands at 0.07.  What the oracle pins is the
    PIPELINE (codes, cells, ADC sums, ranking — bit-exact both engines);
    what tests/test_ivfpq.py pins is the structural guarantee that
    survives any data distribution: an exact duplicate's source attains
    the GLOBAL minimum ADC (its codes minimize every subspace term), so
    clone queries retrieve their source at rank 1."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    e.createOrReplaceTempView("embeddings")
    return _run_cte_chain(
        spark,
        *_ivfpq_ctes(_KM_SPARK_DIMS, _KM_SPARK_ELEM),
        materialize={"q", "cb", "pd", "cd", "codes", "tassign", "qprobe"},
    )



# --------------------------------------------------------------------------
# Footprint (apps/gdal_footprint_lib.cpp): polygon footprint of the mask
# pixels with -min_ring_area hole filtering.  Closed-form fixture: two
# rectangles plus a donut whose second (tiny) hole falls under the area
# threshold and is filled in; components/labels/rings are all exact.
# --------------------------------------------------------------------------
_FP_MASK = (
    "((px >= 10 AND px < 60 AND py >= 20 AND py < 50)"
    " OR (px >= 100 AND px < 180 AND py >= 40 AND py < 160"
    "     AND NOT (px >= 120 AND px < 150 AND py >= 60 AND py < 100)"
    "     AND NOT (px >= 160 AND px < 163 AND py >= 140 AND py < 143))"
    " OR (px >= 300 AND px < 310 AND py >= 5 AND py < 9))"
)

_FOOTPRINT_ORACLE = """
SELECT CAST(2300 AS BIGINT) AS label,
       'POLYGON ((300 5,310 5,310 9,300 9,300 5))' AS ring_wkt
UNION ALL
SELECT CAST(8010 AS BIGINT),
       'POLYGON ((10 20,60 20,60 50,10 50,10 20))'
UNION ALL
SELECT CAST(16100 AS BIGINT),
       'POLYGON ((100 40,180 40,180 160,100 160,100 40),(120 60,120 100,150 100,150 60,120 60))'
"""


@register("footprint", _FOOTPRINT_ORACLE)
def q_footprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_footprint with -min_ring_area: mask -> components -> rings;
    the 3x3 hole (area 9 < 10) is filled in, the big hole survives."""
    from gdal_spark.operators.polygonize import footprint

    g = spark.range(SRC_W * SRC_H).select(
        (F.col("id") % SRC_W).cast("int").alias("px"),
        ((F.col("id") - (F.col("id") % SRC_W)) / SRC_W).cast("int").alias("py"),
    )
    mask = g.filter(_FP_MASK).select("px", "py")
    return footprint(mask, SRC_W, SRC_H, min_ring_area=10.0)


# --------------------------------------------------------------------------
# Aggregate warp resamplers (GRA_Min/Max/Med/Q1/Q3/Sum/Average/RMS/Mode,
# alg/gdalwarper.h:37-67; kernels alg/gdalwarpkernel.cpp:6760-7640).  All
# eight statistics over each destination pixel's source footprint in one
# shuffle aggregation; footprint + COMPUTE_WEIGHT formulas are shared SQL
# text (operators/raster.py warp_agg_fragments) so Spark and DuckDB agree
# bit-for-bit on membership and weights.
# --------------------------------------------------------------------------


def _warp_agg_oracle() -> str:
    from gdal_spark.operators.raster import (
        _W_EPS,
        _WX_SQL,
        _WY_SQL,
        warp_agg_fragments,
    )

    f = warp_agg_fragments(0)
    npx = 256
    eps = _W_EPS
    w, h = f"{float(SRC_W):.17e}", f"{float(SRC_H):.17e}"
    return f"""
WITH g AS ({_SRC_GRID_CTE}),
src AS (SELECT band, px, py, CAST({_SRC_VAL} AS int) AS value FROM g WHERE band = 2),
b AS (
  SELECT band, px, py, value,
         {f["gx_lo"]} AS gx_lo, {f["gx_hi"]} AS gx_hi,
         {f["gy_lo"]} AS gy_lo, {f["gy_hi"]} AS gy_hi
  FROM src
),
bf AS (
  SELECT * FROM b
  WHERE gx_hi >= gx_lo AND gx_hi >= 0 AND gx_lo < {npx}
    AND gy_hi >= gy_lo AND gy_hi >= 0 AND gy_lo < {npx}
),
ex AS (
  SELECT band, px, py, value, ux.gx AS gx, uy.gy AS gy
  FROM bf,
       unnest(generate_series(greatest(gx_lo, 0), least(gx_hi, {npx - 1}))) ux(gx),
       unnest(generate_series(greatest(gy_lo, 0), least(gy_hi, {npx - 1}))) uy(gy)
),
sb AS (
  SELECT band, px, py, value, gx, gy,
         {f["sx0"]} AS sx0, {f["sx1"]} AS sx1,
         {f["sy0"]} AS sy0, {f["sy1"]} AS sy1
  FROM ex
),
ib AS (
  SELECT *,
         CAST(greatest(floor(sx0 + {eps}), 0.0e0) AS INT) AS ixmin,
         CAST(least(ceiling(sx1 - {eps}), {w}) AS INT) AS ixmax,
         CAST(greatest(floor(sy0 + {eps}), 0.0e0) AS INT) AS iymin,
         CAST(least(ceiling(sy1 - {eps}), {h}) AS INT) AS iymax
  FROM sb
),
pairs AS (
  SELECT band, value, gx, gy, (({_WX_SQL}) * ({_WY_SQL})) AS wgt
  FROM ib
),
agg AS (
  SELECT band, gx, gy,
         CAST(count(*) AS BIGINT) AS n,
         min(value) AS vmin, max(value) AS vmax,
         list_sort(list(value)) AS vals,
         sum(wgt * CAST(value AS DOUBLE)) AS wv,
         sum(wgt) AS wtot,
         sum(wgt * CAST(value AS DOUBLE) * CAST(value AS DOUBLE)) AS wv2
  FROM pairs GROUP BY band, gx, gy
),
per_value AS (
  SELECT band, gx, gy, value, round(sum(wgt), 9) AS wsum9
  FROM pairs GROUP BY band, gx, gy, value
),
mode AS (
  SELECT band, gx, gy, value AS vmode FROM (
    SELECT band, gx, gy, value,
           row_number() OVER (PARTITION BY band, gx, gy
                              ORDER BY wsum9 DESC, value ASC) AS rn
    FROM per_value
  ) WHERE rn = 1
)
SELECT a.band, a.gx, a.gy, a.n, a.vmin, a.vmax,
       vals[CAST(ceiling(2.5e-1 * CAST(n AS DOUBLE) - 1.0e0) AS INT) + 1] AS vq1,
       vals[CAST(ceiling(5.0e-1 * CAST(n AS DOUBLE) - 1.0e0) AS INT) + 1] AS vmed,
       vals[CAST(ceiling(7.5e-1 * CAST(n AS DOUBLE) - 1.0e0) AS INT) + 1] AS vq3,
       round(wv, 6) AS sum_w6,
       round(wv / wtot, 6) AS avg_w6,
       round(sqrt(wv2 / wtot), 6) AS rms_w6,
       m.vmode
FROM agg a JOIN mode m ON a.band = m.band AND a.gx = m.gx AND a.gy = m.gy
"""


@register("warp_aggregate", _warp_agg_oracle())
def q_warp_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp -r min/max/med/q1/q3/sum/average/rms/mode in one pass."""
    from gdal_spark.operators.raster import warp_aggregate

    return warp_aggregate(spark, zoom=0, band=2)


# --------------------------------------------------------------------------
# warp_utm — gdalwarp -t_srs EPSG:32633: output-driven NN warp of the
# synthetic world raster into a UTM zone-33N target grid (48 x 50 px,
# 12.5 km x 50 km cells over E 200-800 km, N 4.0-6.5 Mm).  The warp
# direction is the reference's (alg/gdalwarpkernel.cpp: iterate TARGET
# pixels, inverse-transform the center, sample the source): the Krüger
# inverse with its fixed-count Newton loop unrolls into a straight-line
# column chain (tmerc.sql_utm_inverse_stages), so the whole warp —
# inverse projection, NN snap, value — is ONE whole-stage-codegen
# projection over a range relation.  No Python, no shuffle, no join
# (the synthetic source value is closed-form in the pixel index); at
# 100 TB the same plan partitions by target-pixel ranges with a
# broadcast or closed-form source lookup.  Oracle: identical expression
# text nested-select by nested-select in DuckDB.
# --------------------------------------------------------------------------
def _warp_utm_stages() -> list[tuple[str, str]]:
    st = [
        ("band", "(CAST(floor(CAST(i AS DOUBLE) / 2.4e3) AS INT) + 1)"),
        ("gx", "CAST((i % 2400) % 48 AS INT)"),
        ("gy", "CAST(floor(CAST(i % 2400 AS DOUBLE) / 4.8e1) AS INT)"),
        ("e_m", "(2.0e5 + (CAST(gx AS DOUBLE) + 5.0e-1) * 1.25e4)"),
        ("n_m", "(6.5e6 - (CAST(gy AS DOUBLE) + 5.0e-1) * 5.0e4)"),
    ]
    st += tmerc.sql_utm_inverse_stages("e_m", "n_m", "1.5e1")
    st += [
        ("sx", "CAST(floor((u_lon + 1.8e2) / 9.0e-1) AS BIGINT)"),
        ("sy", "CAST(floor((9.0e1 - u_lat) / 9.0e-1) AS BIGINT)"),
        ("value", "CAST((sx * 7 + sy * 13 + band * 29) % 256 AS INT)"),
    ]
    return st


def _warp_utm_oracle() -> str:
    sql = "SELECT i FROM range(0, 7200) t(i)"
    for name, expr in _warp_utm_stages():
        sql = f"SELECT *, {expr} AS {name} FROM ({sql})"
    return f"SELECT band, gx, gy, sx, sy, value FROM ({sql})"


@register("warp_utm", _warp_utm_oracle())
def q_warp_utm(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = spark.range(7200).select(F.col("id").alias("i"))
    for name, expr in _warp_utm_stages():
        df = df.selectExpr("*", f"{expr} AS {name}")
    return df.select("band", "gx", "gy", "sx", "sy", "value")


# --------------------------------------------------------------------------
# ogr_codec — ogr_deflate/ogr_inflate blob codec
# (ogrsqlitesqlfunctions.cpp:1117-1126).  The compressed byte stream is
# zlib-implementation-defined (reference may link libdeflate), so the
# portable, oracle-checkable contract is LOSSLESS ROUNDTRIP including
# the reference's strlen+1 TEXT quirk: the trailing NUL rides through
# the stream, so md5(inflate(deflate(text))) == md5(text || chr(0)).
# --------------------------------------------------------------------------
_CODEC_ORACLE = """
SELECT doc_id, md5(text || chr(0)) AS rt_md5,
       strlen(text) + 1 AS raw_bytes
FROM documents
"""


@register("ogr_codec", _CODEC_ORACLE)
def q_ogr_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.functions.codec import ogr_deflate, ogr_inflate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    rt = ogr_inflate(ogr_deflate(F.col("text")))
    return docs.select(
        "doc_id",
        F.md5(rt).alias("rt_md5"),
        (F.octet_length("text") + F.lit(1)).cast("long").alias("raw_bytes"),
    )


# --------------------------------------------------------------------------
# public surface used by __spark_entry__
# --------------------------------------------------------------------------
def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)


# --------------------------------------------------------------------------
# Mosaic (gdal_merge: swig/python/gdal-utils/osgeo_utils/gdal_merge.py,
# raster_copy_with_nodata :126 — later files paint over earlier ones,
# source nodata pixels are skipped) — one shuffle composite.
# --------------------------------------------------------------------------
from gdal_spark.operators.raster import (  # noqa: E402
    MOSAIC_DX,
    MOSAIC_DY,
    MOSAIC_H,
    MOSAIC_SOURCES,
    MOSAIC_W,
)

_MOSAIC_ORACLE = f"""
WITH src AS (
  SELECT k.k AS src_idx,
         CAST(i % {MOSAIC_W} + k.k * {MOSAIC_DX} AS int) AS px,
         CAST(CAST((i - (i % {MOSAIC_W})) / {MOSAIC_W} AS BIGINT) % {MOSAIC_H}
              + k.k * {MOSAIC_DY} AS int) AS py
  FROM range(0, {MOSAIC_SOURCES}) k(k), range(0, {MOSAIC_W * MOSAIC_H}) t(i)
),
v AS (
  SELECT src_idx, px, py,
         CAST((px * 7 + py * 13 + (src_idx + 1) * 17) % 256 AS int) AS value
  FROM src
)
SELECT px, py,
       CAST(coalesce((max(CASE WHEN value <> 0
                          THEN {{'src_idx': src_idx, 'value': value}} END)).value,
                     0) AS int) AS value
FROM v GROUP BY px, py
"""


@register("mosaic", _MOSAIC_ORACLE)
def q_mosaic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_merge composite of 3 overlapping offset sources with nodata=0
    (last non-nodata in file order wins; init value elsewhere)."""
    from gdal_spark.operators.raster import mosaic, mosaic_sources

    return mosaic(mosaic_sources(spark), nodata=0)


# --------------------------------------------------------------------------
# gdal_translate -srcwin + -scale + -ot Byte (apps/gdal_translate_lib.cpp:
# srcwin subset, linear -scale dfScale/dfOffset, Byte clamp+round of
# GDALAdjustValueToDataType) — pure whole-stage-codegen projection; the
# window filter pushes into the range scan.
# --------------------------------------------------------------------------
_TW_X0, _TW_Y0, _TW_W, _TW_H = 50, 30, 200, 100
# -scale 20 220 0 255: dfScale = 255/200 = 51/40, dfOffset = -20*51/40.
# Kept EXACT in integers: scaled = (51*v - 1020)/40, clamped to
# [0, 255]*40, then round-half-up = floor(x + 1/2) as the integer
# division (N + 20) div 40.  The float form floor(clamp(v*1.275e0 -
# 2.55e1) + 5.0e-1) put every 40th value exactly ON the floor boundary
# (scaled value exactly X.5 — 938 on-grid + 234 near-ulp rows at
# sf0.001), the local_supplier_volume fragility class; v is an integer,
# so the rational math is exactly representable in BIGINT.
_TS_EXPR = (
    "CAST(((least(greatest(51 * ({v}) - 1020, 0), 10200) + 20)"
    " - ((least(greatest(51 * ({v}) - 1020, 0), 10200) + 20) % 40))"
    " / 40 AS BIGINT)"
)

_TRANSLATE_ORACLE = f"""
WITH g AS ({_SRC_GRID_CTE})
SELECT CAST(band AS int) AS band,
       CAST(px - {_TW_X0} AS int) AS px,
       CAST(py - {_TW_Y0} AS int) AS py,
       CAST({_TS_EXPR.format(v=_SRC_VAL)} AS int) AS value
FROM g
WHERE px >= {_TW_X0} AND px < {_TW_X0 + _TW_W}
  AND py >= {_TW_Y0} AND py < {_TW_Y0 + _TW_H}
"""


@register("translate_scale", _TRANSLATE_ORACLE)
def q_translate_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_translate -srcwin 50 30 200 100 -scale 20 220 0 255 -ot Byte:
    window subset (coords rebased to the window origin), linear rescale,
    Byte clamp + half-up round — SAME formula text both engines."""
    from gdal_spark.operators.raster import source_grid

    g = source_grid(spark).filter(
        (F.col("px") >= _TW_X0)
        & (F.col("px") < _TW_X0 + _TW_W)
        & (F.col("py") >= _TW_Y0)
        & (F.col("py") < _TW_Y0 + _TW_H)
    )
    return g.select(
        F.col("band").cast("int").alias("band"),
        (F.col("px") - _TW_X0).cast("int").alias("px"),
        (F.col("py") - _TW_Y0).cast("int").alias("py"),
        F.expr(_TS_EXPR.format(v="value")).cast("int").alias("value"),
    )


# --------------------------------------------------------------------------
# gdal_rasterize -a <attribute> (alg/gdalrasterize.cpp burn-attribute
# path): per-pixel burned VALUES, not just counts.  REPLACE = ascending
# feature order, later overwrites (max zone_id wins); ADD accumulates.
# --------------------------------------------------------------------------
_RAST_PX_CTE = f"""
WITH z AS ({_ZONES_CTE}),
t AS (SELECT a.tx, b.ty FROM range(0, {2**_RZOOM}) a(tx), range(0, {2**_RZOOM}) b(ty)),
px AS (
  SELECT t.tx, t.ty, i.ci, j.rj FROM t, range(0, 256) i(ci), range(0, 256) j(rj)
),
c AS (
  SELECT tx, ty, ci, rj,
         (((tx * 256 + ci + 5.0e-1) * {_R_RES} - {_R_OS}) / {_R_OS}) * 1.8e2 AS lon,
         1.8e2 / pi() * (2.0e0 * atan(exp(((((ty * 256 + rj + 5.0e-1) * {_R_RES} - {_R_OS}) / {_R_OS}) * 1.8e2) * pi() / 1.8e2)) - pi() / 2.0e0) AS lat
  FROM px
),
hit AS (
  SELECT c.tx, c.ty, c.ci, c.rj, z.zone_id
  FROM c JOIN z
    ON c.lon > z.zxmin AND c.lon < z.zxmax AND c.lat > z.zymin AND c.lat < z.zymax
)"""

_RASTERIZE_ATTR_ORACLE = f"""{_RAST_PX_CTE}
SELECT CAST({_RZOOM} AS int) AS zoom, tx, ty, CAST(ci AS int) AS ci,
       CAST(rj AS int) AS rj, CAST(max(zone_id) % 255 + 1 AS int) AS burn
FROM hit GROUP BY tx, ty, ci, rj
"""


@register("rasterize_attr", _RASTERIZE_ATTR_ORACLE)
def q_rasterize_attr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_rasterize -a: burned attribute value per pixel, REPLACE
    merge (last feature in id order wins at overlaps)."""
    from gdal_spark.operators.rasterize import rasterize_values

    z = zones.rect_zones(spark).drop("zxmin", "zymin", "zxmax", "zymax")
    return rasterize_values(z.select("zone_id", "geom_wkt"), _RZOOM)


_RASTERIZE_ADD_ORACLE = f"""{_RAST_PX_CTE}
SELECT CAST({_RZOOM} AS int) AS zoom, tx, ty, CAST(ci AS int) AS ci,
       CAST(rj AS int) AS rj,
       CAST(sum(zone_id % 255 + 1) AS int) AS burn
FROM hit GROUP BY tx, ty, ci, rj
"""


@register("rasterize_add", _RASTERIZE_ADD_ORACLE)
def q_rasterize_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_rasterize MERGE_ALG=ADD: overlapping burns accumulate
    (alg/gdalrasterize.cpp GRMA_Add)."""
    from gdal_spark.operators.rasterize import rasterize_values

    z = zones.rect_zones(spark).drop("zxmin", "zymin", "zxmax", "zymax")
    return rasterize_values(z.select("zone_id", "geom_wkt"), _RZOOM, merge="add")


# --------------------------------------------------------------------------
# Pansharpening (weighted Brovey, alg/gdalpansharpen.cpp:597-640).
# The Spark side is the real distributed pipeline (explode-to-neighbour
# scatter, one MS equi-join, one pivot aggregation); the oracle computes
# the same value closed-form.  Exactness argument: every bilinear weight
# at the 2x ratio is a sixteenth (fx,fy in {1/4,3/4}), so each weighted
# term and each partial sum is an exact binary rational — the shuffle's
# addition order cannot change the double, and both engines reach the
# SAME exact ms_up before the (identical) Brovey arithmetic.
# --------------------------------------------------------------------------
from gdal_spark.operators.raster import (  # noqa: E402
    MS_BANDS,
    MS_H,
    MS_W,
    PAN_H,
    PAN_W,
)


def _ps_v(band: int, x: str, y: str) -> str:
    cx = f"LEAST(GREATEST({x}, 0), {MS_W - 1})"
    cy = f"LEAST(GREATEST({y}, 0), {MS_H - 1})"
    return f"CAST(({cx} * 7 + {cy} * 13 + {band} * 29) % 256 AS DOUBLE)"


def _ps_up(band: int) -> str:
    v00 = _ps_v(band, "mx0", "my0")
    v10 = _ps_v(band, "mx0 + 1", "my0")
    v01 = _ps_v(band, "mx0", "my0 + 1")
    v11 = _ps_v(band, "mx0 + 1", "my0 + 1")
    return (
        f"((1.0e0 - fy) * ((1.0e0 - fx) * {v00} + fx * {v10})"
        f" + fy * ((1.0e0 - fx) * {v01} + fx * {v11}))"
    )


_PANSHARPEN_ORACLE = f"""
WITH p AS (
  SELECT CAST(i % {PAN_W} AS int) AS px,
         CAST((i - i % {PAN_W}) / {PAN_W} AS int) AS py
  FROM range(0, {PAN_W * PAN_H}) t(i)
),
a AS (
  SELECT px, py,
         CAST((px * 11 + py * 3) % 256 AS DOUBLE) AS pan,
         CAST((px - 2 + (px % 2)) / 2 AS int) AS mx0,
         CAST((py - 2 + (py % 2)) / 2 AS int) AS my0,
         CASE WHEN px % 2 = 0 THEN 7.5e-1 ELSE 2.5e-1 END AS fx,
         CASE WHEN py % 2 = 0 THEN 7.5e-1 ELSE 2.5e-1 END AS fy
  FROM p
),
up AS (
  SELECT px, py, pan,
         {_ps_up(1)} AS b1, {_ps_up(2)} AS b2, {_ps_up(3)} AS b3
  FROM a
),
f AS (
  SELECT px, py, b1, b2, b3,
         CASE WHEN (b1 + b2 + b3) / 3.0e0 <> 0.0e0
              THEN pan / ((b1 + b2 + b3) / 3.0e0) ELSE 0.0e0 END AS factor
  FROM up
),
long AS (
  SELECT px, py, k.band,
         CASE k.band WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END AS b, factor
  FROM f, (SELECT CAST(j + 1 AS int) AS band FROM range(0, {MS_BANDS}) t(j)) k
)
SELECT CAST(band AS int) AS band, px, py,
       CAST(floor(LEAST(GREATEST(b * factor, 0.0e0), 2.55e2) + 5.0e-1
                  + 1.0e-8) AS int)
         AS value
FROM long
"""


@register("pansharpen", _PANSHARPEN_ORACLE)
def q_pansharpen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted-Brovey pansharpen of 3 half-res MS bands with a full-res
    pan band (GDALPansharpenOperation::WeightedBrovey): bilinear MS
    upsample, factor = pan/pseudo-pan, Byte clamp + half-up round."""
    from gdal_spark.operators.raster import ms_grid, pan_grid, pansharpen

    return pansharpen(pan_grid(spark), ms_grid(spark))


# --------------------------------------------------------------------------
# Cutline crop (gdalwarp -cutline -crop_to_cutline, alg/gdalcutline.cpp).
# Fixture: a concave L-shaped cutline WITH a hole; corner doubles are
# computed once in Python and serialized with repr()/_sd() so the WKT the
# engine ray-casts and the SQL the oracle compares carry IDENTICAL bits.
# Pixel centers sit at *.05/*.55 degrees while cutline edges sit at
# *.9995-ish offsets, so no center ever lies on an edge and the strict
# rectangle decomposition equals the ray-cast exactly.
# --------------------------------------------------------------------------
import math  # noqa: E402

from gdal_spark.operators.raster import GT_DX, GT_DY  # noqa: E402

_CUT_BX, _CUT_BY = -169.9995, -54.9995
_CUT_X1, _CUT_X2 = _CUT_BX + 40.0, _CUT_BX + 15.0
_CUT_Y1, _CUT_Y2 = _CUT_BY + 25.0, _CUT_BY + 45.0
_CUT_HX0, _CUT_HX1 = _CUT_BX + 4.0, _CUT_BX + 12.0
_CUT_HY0, _CUT_HY1 = _CUT_BY + 4.0, _CUT_BY + 16.0

CUTLINE_WKT = (
    f"POLYGON (({_CUT_BX!r} {_CUT_BY!r}, {_CUT_X1!r} {_CUT_BY!r}, "
    f"{_CUT_X1!r} {_CUT_Y1!r}, {_CUT_X2!r} {_CUT_Y1!r}, "
    f"{_CUT_X2!r} {_CUT_Y2!r}, {_CUT_BX!r} {_CUT_Y2!r}, "
    f"{_CUT_BX!r} {_CUT_BY!r}), "
    f"({_CUT_HX0!r} {_CUT_HY0!r}, {_CUT_HX1!r} {_CUT_HY0!r}, "
    f"{_CUT_HX1!r} {_CUT_HY1!r}, {_CUT_HX0!r} {_CUT_HY1!r}, "
    f"{_CUT_HX0!r} {_CUT_HY0!r}))"
)

# window indices: same floor/ceil arithmetic the operator runs on the
# envelope (identical doubles -> identical ints)
_CW_PX0 = math.floor((_CUT_BX - GT_X0) / GT_DX)
_CW_PX1 = math.ceil((_CUT_X1 - GT_X0) / GT_DX) - 1
_CW_PY0 = math.floor((_CUT_Y2 - GT_Y0) / GT_DY)
_CW_PY1 = math.ceil((_CUT_BY - GT_Y0) / GT_DY) - 1

_CUT_IN = (
    f"((lon > {_sd(_CUT_BX)} AND lon < {_sd(_CUT_X1)}"
    f" AND lat > {_sd(_CUT_BY)} AND lat < {_sd(_CUT_Y1)})"
    f" OR (lon > {_sd(_CUT_BX)} AND lon < {_sd(_CUT_X2)}"
    f" AND lat > {_sd(_CUT_Y1)} AND lat < {_sd(_CUT_Y2)}))"
    f" AND NOT (lon > {_sd(_CUT_HX0)} AND lon < {_sd(_CUT_HX1)}"
    f" AND lat > {_sd(_CUT_HY0)} AND lat < {_sd(_CUT_HY1)})"
)

_CUTLINE_ORACLE = f"""
WITH g AS ({_SRC_GRID_CTE}),
w AS (
  SELECT band, px, py, CAST({_SRC_VAL} AS int) AS value,
         ((-1.8e2) + (px + 5.0e-1) * 9.0e-1) AS lon,
         (9.0e1 + (py + 5.0e-1) * (-9.0e-1)) AS lat
  FROM g
  WHERE px BETWEEN {_CW_PX0} AND {_CW_PX1}
    AND py BETWEEN {_CW_PY0} AND {_CW_PY1}
)
SELECT band, CAST(px - {_CW_PX0} AS int) AS px,
       CAST(py - {_CW_PY0} AS int) AS py,
       CAST(CASE WHEN {_CUT_IN} THEN value ELSE 0 END AS int) AS value
FROM w
"""


@register("cutline_crop", _CUTLINE_ORACLE)
def q_cutline_crop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp -cutline (concave, holed) -crop_to_cutline: window pixels
    keep their value iff their center ray-casts inside the cutline."""
    from gdal_spark.operators.raster import cutline_crop, source_grid

    cut = spark.createDataFrame([(CUTLINE_WKT,)], "geom_wkt string")
    return cutline_crop(source_grid(spark), cut)


# --------------------------------------------------------------------------
# Fill nodata (GDALFillNodata, alg/rasterfill.cpp:348): quadrant-nearest
# inverse-distance fill.  Three masked regions: a 7x7 hole and a 16x3
# slot (fully filled at maxdist=8) and a 20x20 hole whose core is beyond
# reach (stays NULL).  Exactness: both engines pick the same neighbour
# per quadrant (deterministic (d2, vy, vx) tie-break), compute w=1/sqrt
# of identical ints, and accumulate in the same TL,BL,TR,BR order, so
# the double is shuffle-invariant and floor(v*1e4) matches bit-for-bit.
# --------------------------------------------------------------------------
_FILL_MASK = (
    "(px BETWEEN 197 AND 203 AND py BETWEEN 97 AND 103)"
    " OR (px BETWEEN 60 AND 75 AND py BETWEEN 40 AND 42)"
    " OR (px BETWEEN 300 AND 319 AND py BETWEEN 100 AND 119)"
)
_FILL_R = 8


def _fill_w(qx: int, qy: int) -> str:
    return (
        f"max(CASE WHEN qx = {qx} AND qy = {qy}"
        f" THEN 1.0e0 / sqrt(CAST(d2 AS DOUBLE)) END)"
    )


def _fill_v(qx: int, qy: int) -> str:
    return f"max(CASE WHEN qx = {qx} AND qy = {qy} THEN vv END)"


_FILL_ORACLE = f"""
WITH g AS ({_SRC_GRID_CTE}),
v0 AS (SELECT px, py, CAST({_SRC_VAL} AS int) AS value FROM g WHERE band = 1),
m AS (SELECT px, py, CASE WHEN {_FILL_MASK} THEN NULL ELSE value END AS value
      FROM v0),
nod AS (SELECT px, py FROM m WHERE value IS NULL),
val AS (SELECT px AS vx, py AS vy, value AS vv FROM m WHERE value IS NOT NULL),
pr AS (
  SELECT n.px, n.py, v.vx, v.vy, v.vv,
         (v.vx - n.px) * (v.vx - n.px) + (v.vy - n.py) * (v.vy - n.py) AS d2,
         CASE WHEN v.vx - n.px <= 0 THEN 0 ELSE 1 END AS qx,
         CASE WHEN v.vy - n.py <= 0 THEN 0 ELSE 1 END AS qy
  FROM nod n JOIN val v
    ON v.vx BETWEEN n.px - {_FILL_R} AND n.px + {_FILL_R}
   AND v.vy BETWEEN n.py - {_FILL_R} AND n.py + {_FILL_R}
  WHERE (v.vx - n.px) * (v.vx - n.px) + (v.vy - n.py) * (v.vy - n.py)
        <= {_FILL_R * _FILL_R}
),
b AS (
  SELECT *, row_number() OVER (
      PARTITION BY px, py, qx, qy ORDER BY d2, vy, vx) AS rn
  FROM pr
),
piv AS (
  SELECT px, py,
         {_fill_w(0, 0)} AS wtl, {_fill_v(0, 0)} AS vtl,
         {_fill_w(0, 1)} AS wbl, {_fill_v(0, 1)} AS vbl,
         {_fill_w(1, 0)} AS wtr, {_fill_v(1, 0)} AS vtr,
         {_fill_w(1, 1)} AS wbr, {_fill_v(1, 1)} AS vbr
  FROM b WHERE rn = 1 GROUP BY px, py
)
SELECT n.px, n.py,
       CAST(floor(
         ((coalesce(p.wtl * p.vtl, 0.0e0) + coalesce(p.wbl * p.vbl, 0.0e0))
          + coalesce(p.wtr * p.vtr, 0.0e0) + coalesce(p.wbr * p.vbr, 0.0e0))
         / ((coalesce(p.wtl, 0.0e0) + coalesce(p.wbl, 0.0e0))
            + coalesce(p.wtr, 0.0e0) + coalesce(p.wbr, 0.0e0))
         * 1.0e4 + 1.0e-6) AS BIGINT) AS v4
FROM nod n LEFT JOIN piv p ON n.px = p.px AND n.py = p.py
"""


@register("fillnodata", _FILL_ORACLE)
def q_fillnodata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDALFillNodata: 4-quadrant nearest-valid IDW fill of three masked
    holes (one too deep to fill -> NULL), maxdist=8."""
    from gdal_spark.operators.focal import fill_nodata
    from gdal_spark.operators.raster import SRC_H, SRC_W, source_grid

    g = source_grid(spark).filter(F.col("band") == 1)
    pixels = g.select(
        "px",
        "py",
        F.when(F.expr(_FILL_MASK), F.lit(None)).otherwise(F.col("value"))
        .cast("int")
        .alias("value"),
    )
    return fill_nodata(pixels, SRC_W, SRC_H, maxdist=_FILL_R)


# gdal_fillnodata -si N (GDALMultiFilter → GDALFilterLine,
# alg/rasterfill.cpp:120-340): N passes of a 3x3 masked average after
# the fill — only FILLED pixels update, every valid pixel (original or
# filled) contributes incl. the center, window clipped at the edge.
# Quantized-iteration formulation (floor(sum/count) in 1e-4 units)
# shared with the engine; the reference's float32 buffers are the
# documented divergence.
def _fill_smooth_it(prev: str) -> str:
    return f"""
  SELECT s.px, s.py,
         CASE WHEN s.filled AND s.vmu IS NOT NULL
              THEN CAST(floor(CAST(sum(c.vmu) AS DOUBLE)
                              / CAST(count(c.vmu) AS DOUBLE)) AS BIGINT)
              ELSE s.vmu END AS vmu,
         s.filled AS filled
  FROM {prev} s LEFT JOIN {prev} c
    ON c.px BETWEEN s.px - 1 AND s.px + 1
   AND c.py BETWEEN s.py - 1 AND s.py + 1
   AND c.vmu IS NOT NULL
  GROUP BY s.px, s.py, s.vmu, s.filled
"""


_FILL_SMOOTH_ORACLE = f"""
WITH fr AS ({_FILL_ORACLE}),
g AS ({_SRC_GRID_CTE}),
v0 AS (SELECT px, py, CAST({_SRC_VAL} AS int) AS value FROM g WHERE band = 1),
m AS (SELECT px, py, CASE WHEN {_FILL_MASK} THEN NULL ELSE value END AS value
      FROM v0),
s0 AS (
  SELECT px, py, CAST(value AS BIGINT) * 10000 AS vmu, FALSE AS filled
  FROM m WHERE value IS NOT NULL
  UNION ALL
  SELECT px, py, v4 AS vmu, TRUE AS filled FROM fr
),
it1 AS ({_fill_smooth_it('s0')}),
it2 AS ({_fill_smooth_it('it1')})
SELECT px, py, vmu AS v4 FROM it2 WHERE filled
"""


@register("fillnodata_smooth", _FILL_SMOOTH_ORACLE)
def q_fillnodata_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.focal import fill_nodata_smooth
    from gdal_spark.operators.raster import SRC_H, SRC_W, source_grid

    g = source_grid(spark).filter(F.col("band") == 1)
    pixels = g.select(
        "px",
        "py",
        F.when(F.expr(_FILL_MASK), F.lit(None)).otherwise(F.col("value"))
        .cast("int")
        .alias("value"),
    )
    return fill_nodata_smooth(pixels, SRC_W, SRC_H, maxdist=_FILL_R, iterations=2)


# --------------------------------------------------------------------------
# GCP polynomial transformer (alg/gdal_crs.cpp GDALCreateGCPTransformer,
# order 2 = [1, p, l, p², p·l, l²] per gdal_crs.cpp:751).  The fixture's
# GCPs lie exactly on an INTEGER-coefficient order-2 polynomial, so the
# oracle is exact integer arithmetic; the engine must recover the
# coefficients through its unit-scaled least-squares solve (recovery
# error ~1e-7 absolute, absorbed by the half-up integer quantization).
# --------------------------------------------------------------------------
_GCP_AX = [500, 3, -2, 2, 1, -1]  # x = a0 + a1·p + a2·l + a3·p² + a4·p·l + a5·l²
_GCP_AY = [-1000, -1, 4, -1, 2, 3]
_GCP_PS = [0, 100, 200, 300, 399]
_GCP_LS = [0, 50, 100, 150, 199]


def _gcp_poly_int(c: list[int], p: str, ln: str) -> str:
    return (
        f"({c[0]} + {c[1]} * {p} + {c[2]} * {ln} + {c[3]} * {p} * {p}"
        f" + {c[4]} * {p} * {ln} + {c[5]} * {ln} * {ln})"
    )


_GCP_ORACLE = f"""
WITH g AS ({_SRC_GRID_CTE})
SELECT px, py,
       CAST({_gcp_poly_int(_GCP_AX, "px", "py")} AS BIGINT) AS gx,
       CAST({_gcp_poly_int(_GCP_AY, "px", "py")} AS BIGINT) AS gy
FROM g WHERE band = 1
"""


@register("gcp_transform", _GCP_ORACLE)
def q_gcp_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-2 GCP polynomial transform of the full pixel grid; the 25
    control points are collected once for the solve and the fitted
    coefficients fold into the plan as literals (whole-stage codegen)."""
    from gdal_spark.operators.gcp import gcp_transform
    from gdal_spark.operators.raster import source_grid

    def poly(c, p, ln):
        return (
            c[0] + c[1] * p + c[2] * ln + c[3] * p * p + c[4] * p * ln
            + c[5] * ln * ln
        )

    gcps = spark.createDataFrame(
        [
            (float(p), float(ln), float(poly(_GCP_AX, p, ln)),
             float(poly(_GCP_AY, p, ln)))
            for p in _GCP_PS
            for ln in _GCP_LS
        ],
        "pixel double, line double, x double, y double",
    )
    pts = source_grid(spark).filter(F.col("band") == 1).select(
        F.col("px"), F.col("py")
    )
    out = gcp_transform(pts, gcps, order=2, pixel_col="px", line_col="py")
    return out.select(
        "px",
        "py",
        F.expr("CAST(floor(gx + 5.0e-1) AS BIGINT)").alias("gx"),
        F.expr("CAST(floor(gy + 5.0e-1) AS BIGINT)").alias("gy"),
    )


# --------------------------------------------------------------------------
# Thin plate spline transformer (gdalwarp -tps; alg/gdal_tps.cpp,
# thinplatespline.cpp:180 kernel U = d²·ln d²).  Fixture GCPs lie on an
# exact INTEGER affine map: the TPS affine part must reproduce it and
# the RBF weights must vanish (numerically ~1e-12), so the oracle is
# exact integer arithmetic — an end-to-end check of the bordered-system
# solve, the weight unroll, and the codegen evaluation.
# --------------------------------------------------------------------------
_TPS_AX = [10, 2, 3]  # x = 10 + 2p + 3l
_TPS_AY = [-5, 1, -2]  # y = -5 + p - 2l


_TPS_ORACLE = f"""
WITH g AS ({_SRC_GRID_CTE})
SELECT px, py,
       CAST({_TPS_AX[0]} + {_TPS_AX[1]} * px + {_TPS_AX[2]} * py AS BIGINT) AS gx,
       CAST({_TPS_AY[0]} + {_TPS_AY[1]} * px + {_TPS_AY[2]} * py AS BIGINT) AS gy
FROM g WHERE band = 1
"""


@register("tps_transform", _TPS_ORACLE)
def q_tps_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPS transform of the full pixel grid from 25 affine-consistent
    GCPs; the solved weights/centers unroll into codegen terms."""
    from gdal_spark.operators.gcp import tps_transform
    from gdal_spark.operators.raster import source_grid

    gcps = spark.createDataFrame(
        [
            (
                float(p),
                float(ln),
                float(_TPS_AX[0] + _TPS_AX[1] * p + _TPS_AX[2] * ln),
                float(_TPS_AY[0] + _TPS_AY[1] * p + _TPS_AY[2] * ln),
            )
            for p in _GCP_PS
            for ln in _GCP_LS
        ],
        "pixel double, line double, x double, y double",
    )
    pts = source_grid(spark).filter(F.col("band") == 1).select("px", "py")
    out = tps_transform(pts, gcps, pixel_col="px", line_col="py")
    return out.select(
        "px",
        "py",
        F.expr("CAST(floor(gx + 5.0e-1) AS BIGINT)").alias("gx"),
        F.expr("CAST(floor(gy + 5.0e-1) AS BIGINT)").alias("gy"),
    )


# --------------------------------------------------------------------------
# Segmentize (ogr2ogr -segmentize; OGRSimpleCurve::segmentize,
# ogr/ogrlinestring.cpp): densify rings so no segment exceeds maxlen.
# Closed rings never trigger the reference's direction canonicalization
# (first == last), so the oracle walks edges in stored order with the
# SAME split rule (d² − m² > 1e-5·m², k = floor(sqrt(d²/m²) − 1e-2)) and
# the SAME interpolation (x + j·(dx/(k+1))) — bit-identical doubles.
# --------------------------------------------------------------------------
_SEG_MAXLEN = 2.5
_SEG_M2 = "6.25e0"  # maxlen² as a shared literal


def _seg_verts_cte(n: int) -> str:
    r = zones._R
    shell = [
        (r["bx"], r["by"]),
        (r["x_w1"], r["by"]),
        (r["x_w1"], r["y_h1"]),
        (r["x_w2"], r["y_h1"]),
        (r["x_w2"], r["y_top"]),
        (r["bx"], r["y_top"]),
        (r["bx"], r["by"]),
    ]
    hole = [
        (r["hx0"], r["hy0"]),
        (r["hx1"], r["hy0"]),
        (r["hx1"], r["hy1"]),
        (r["hx0"], r["hy1"]),
        (r["hx0"], r["hy0"]),
    ]
    rows = []
    for ring, verts in ((0, shell), (1, hole)):
        for vidx, (xe, ye) in enumerate(verts):
            rows.append(
                f"SELECT {zones.RICH_ID_SQL} AS zone_id, {ring} AS ring, "
                f"{vidx} AS vidx, CAST({xe} AS DOUBLE) AS x, "
                f"CAST({ye} AS DOUBLE) AS y FROM range(0, {n}) t(i)"
            )
    return " UNION ALL ".join(rows)


_SEGMENTIZE_ORACLE = f"""
WITH verts AS ({_seg_verts_cte(zones.NRICH)}),
last AS (
  SELECT zone_id, ring, max(vidx) AS nmax FROM verts GROUP BY zone_id, ring
),
e AS (
  SELECT a.zone_id, a.ring, a.vidx, a.x, a.y,
         b.x - a.x AS dx, b.y - a.y AS dy,
         (b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y) AS d2
  FROM verts a JOIN verts b
    ON a.zone_id = b.zone_id AND a.ring = b.ring AND b.vidx = a.vidx + 1
),
k AS (
  SELECT *, CASE WHEN d2 - {_SEG_M2} > 1.0e-5 * {_SEG_M2}
                 THEN CAST(floor(sqrt(d2 / {_SEG_M2}) - 1.0e-2) AS int)
                 ELSE 0 END AS nk
  FROM e
),
c AS (
  SELECT *, CAST(sum(1 + nk) OVER (PARTITION BY zone_id, ring ORDER BY vidx
              ROWS UNBOUNDED PRECEDING) - (1 + nk) AS int) AS start
  FROM k
),
mid AS (
  SELECT zone_id, ring, CAST(start + j.j AS int) AS seq,
         x + CAST(j.j AS DOUBLE) * (dx / (CAST(nk AS DOUBLE) + 1.0e0)) AS x,
         y + CAST(j.j AS DOUBLE) * (dy / (CAST(nk AS DOUBLE) + 1.0e0)) AS y
  FROM c, range(0, 32) j(j) WHERE j.j <= nk
),
fin AS (
  SELECT v.zone_id, v.ring,
         CAST((SELECT sum(1 + nk) FROM k
               WHERE k.zone_id = v.zone_id AND k.ring = v.ring) AS int) AS seq,
         v.x, v.y
  FROM verts v JOIN last l
    ON v.zone_id = l.zone_id AND v.ring = l.ring AND v.vidx = l.nmax
)
SELECT * FROM mid UNION ALL SELECT * FROM fin
"""


@register("segmentize", _SEGMENTIZE_ORACLE)
def q_segmentize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Densify the concave L-with-hole layer's rings at maxlen=2.5; one
    row per output vertex, reference split rule and interpolation."""
    from gdal_spark.operators.densify import segmentize

    return segmentize(zones.rich_zones(spark), _SEG_MAXLEN)


# --------------------------------------------------------------------------
# Training-data pipeline: deterministic stratified sampling, dedup
# retention policy; SQLite-dialect GROUP BY ... HAVING.
# --------------------------------------------------------------------------
_SAMPLE_THR = {"en": "4", "de": "8", "fr": "c", "es": "f"}
_SAMPLE_DEF = "2"
_SAMPLE_CASE = (
    "CASE "
    + " ".join(f"WHEN lang = '{k}' THEN '{v}'" for k, v in sorted(_SAMPLE_THR.items()))
    + f" ELSE '{_SAMPLE_DEF}' END"
)

_STRAT_SAMPLE_ORACLE = f"""
SELECT doc_id, lang
FROM documents
WHERE md5('s1|' || CAST(doc_id AS VARCHAR)) < {_SAMPLE_CASE}
"""


@register("stratified_sample", _STRAT_SAMPLE_ORACLE)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language downsampling (md5-threshold, no RNG
    state — stable under repartitioning and resume): en 25%, de 50%,
    fr 75%, es 100%, everything else 12.5%."""
    from gdal_spark.operators.text import stratified_sample

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return stratified_sample(d, _SAMPLE_THR, _SAMPLE_DEF).select("doc_id", "lang")


_DEDUP_KEEPER_ORACLE = f"""
WITH RECURSIVE {_MM_PIPELINE_CTE},
sym AS (
  SELECT id_a AS n, id_b AS m FROM mm_pairs
  UNION
  SELECT id_b AS n, id_a AS m FROM mm_pairs
),
reach AS (
  SELECT n, m FROM sym
  UNION
  SELECT r.n, s2.m FROM reach r JOIN sym s2 ON r.m = s2.n
),
cl AS (SELECT n AS cdoc, min(m) AS mn FROM reach GROUP BY n),
lab AS (
  SELECT d.doc_id,
         CAST(least(COALESCE(cl.mn, d.doc_id), d.doc_id) AS BIGINT) AS cluster_id,
         length(d.text) AS len
  FROM documents d LEFT JOIN cl ON d.doc_id = cl.cdoc
),
k AS (
  SELECT cluster_id, doc_id AS keeper_id,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY len DESC, doc_id) AS rn
  FROM lab
)
SELECT lab.doc_id, lab.cluster_id, k.keeper_id,
       lab.doc_id = k.keeper_id AS keep
FROM lab JOIN k ON lab.cluster_id = k.cluster_id AND k.rn = 1
"""


@register("dedup_keeper", _DEDUP_KEEPER_ORACLE)
def q_dedup_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention policy over the oracle-checked near-dup clusters: keep
    the longest doc per cluster (ties -> smallest id)."""
    from gdal_spark.operators.text import (
        dedup_clusters,
        dedup_keeper,
        minhash_md5_pairs,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    clusters = dedup_clusters(d, minhash_md5_pairs(d))
    return dedup_keeper(d, clusters)


# --------------------------------------------------------------------------
# Per-source cap (training-data pipeline): keep at most K documents per
# source — the per-host/per-domain cap every crawl pipeline applies.
# Deterministic order = (md5(doc_id), doc_id), so the kept set is stable
# under repartition and resume (no RNG state), same contract as
# stratified_sample.  One window shuffle on the source key; group sizes
# are per-source counts, and a genuinely hot host is exactly the row
# whose cap bites — the window never materializes more than K + spill.
# --------------------------------------------------------------------------
_SRC_CAP_K = 20

_SOURCE_CAP_ORACLE = f"""
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents
) WHERE rn <= {_SRC_CAP_K}
"""


@register("source_cap", _SOURCE_CAP_ORACLE)
def q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.select("doc_id", "source", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= _SRC_CAP_K)
        .select("doc_id", "source")
    )


# --------------------------------------------------------------------------
# Embedding int8 quantization (training-data pipeline): symmetric
# per-vector max-abs scaling to int8 — the standard ANN-index/storage
# compression.  Pure JVM higher-order functions (aggregate/transform),
# zero shuffle, zero Python; floor(x+0.5) instead of round() because
# floor is defined identically in Spark and DuckDB while round-half may
# not be.  float32 -> double widening is exact in both engines, so the
# quantized codes are bit-identical.
# --------------------------------------------------------------------------
_EMBED_QUANT_ORACLE = """
WITH m AS (
  SELECT vec_id,
         list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) AS maxabs,
         embedding
  FROM embeddings
)
SELECT vec_id,
       CAST(len(embedding) AS BIGINT) AS n_dims,
       CAST(floor(1.0e6 * maxabs) AS BIGINT) AS maxabs_ppm,
       array_to_string(
         list_transform(embedding,
           v -> CAST(floor(CAST(v AS DOUBLE) * 1.27e2 / maxabs + 5.0e-1) AS INT)),
         ',') AS q8
FROM m WHERE maxabs > 0.0e0
"""


@register("embed_quantize", _EMBED_QUANT_ORACLE)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    m = e.selectExpr(
        "vec_id",
        "embedding",
        "aggregate(embedding, CAST(0 AS DOUBLE),"
        " (a, v) -> greatest(a, abs(CAST(v AS DOUBLE)))) AS maxabs",
    )
    return m.filter("maxabs > 0.0e0").selectExpr(
        "vec_id",
        "CAST(size(embedding) AS BIGINT) AS n_dims",
        "CAST(floor(1.0e6 * maxabs) AS BIGINT) AS maxabs_ppm",
        "array_join(transform(embedding,"
        " v -> CAST(floor(CAST(v AS DOUBLE) * 1.27e2 / maxabs + 5.0e-1) AS INT)),"
        " ',') AS q8",
    )


_HAVING_ORACLE = """
SELECT lang, source, count(*) AS n_docs,
       CAST(round(avg(CAST(n_chars AS DOUBLE)), 6) AS DOUBLE) AS avg_chars
FROM documents
GROUP BY lang, source
HAVING count(*) >= 20 AND avg(CAST(n_chars AS DOUBLE)) > 1.0e2
"""


@register("having_filter", _HAVING_ORACLE)
def q_having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQLite-dialect GROUP BY ... HAVING (the OGR SQLite dialect
    delegates HAVING to sqlite; filter-after-aggregate here)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    g = d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.avg(F.col("n_chars").cast("double")).alias("_avg"),
    )
    return g.filter(
        (F.col("n_docs") >= 20) & (F.col("_avg") > 100.0)
    ).select(
        "lang", "source", "n_docs", F.round("_avg", 6).alias("avg_chars")
    )


# --------------------------------------------------------------------------
# RPC transformer (alg/gdal_rpc.cpp RPC00B): (lon, lat, h) -> (pixel,
# line) via 20-term rational cubics.  The ENTIRE evaluation — term
# basis order (gdal_rpc.cpp:196-217), the even/odd split-sum of
# RPCEvaluate (:219-231), the dateline unwrap, normalization and
# de-normalization — renders once as SQL text (operators/gcp.py) that
# BOTH engines execute, so outputs are bit-identical doubles and the
# Spark side is a pure whole-stage-codegen projection.
# --------------------------------------------------------------------------
from gdal_spark.operators.gcp import rpc_transform_sql  # noqa: E402

_RPC_MODEL = {
    "LONG_OFF": 9.0, "LONG_SCALE": 10.0,
    "LAT_OFF": 45.0, "LAT_SCALE": 5.0,
    "HEIGHT_OFF": 100.0, "HEIGHT_SCALE": 500.0,
    "SAMP_OFF": 5000.0, "SAMP_SCALE": 5000.0,
    "LINE_OFF": 10000.0, "LINE_SCALE": 10000.0,
    # a plausible pushbroom-ish model: sample driven by longitude, line
    # by latitude, with mild rational distortion terms
    "SAMP_NUM_COEFF": [0.001, 1.0, 0.0, 0.0, 2e-4, 0.0, 0.0, 1.5e-4, 0.0, 0.0,
                       3e-6, 1e-5, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
    "SAMP_DEN_COEFF": [1.0, 1e-4, 0.0, 0.0, 0.0, 0.0, 0.0, 2e-5, 0.0, 0.0,
                       0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
    "LINE_NUM_COEFF": [0.002, 0.0, -1.0, 0.0, 3e-4, 0.0, 0.0, 0.0, 1e-4, 0.0,
                       2e-6, 0.0, 0.0, 0.0, 0.0, 2e-5, 0.0, 0.0, 0.0, 0.0],
    "LINE_DEN_COEFF": [1.0, 0.0, 1e-4, 0.0, 0.0, 0.0, 0.0, 0.0, 1e-5, 0.0,
                       0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
}

_RPC_GRID = """
SELECT CAST(i AS BIGINT) AS pid,
       4.0e0 + CAST(i % 100 AS DOUBLE) * 1.0e-1 AS lon,
       4.25e1 + CAST((i - i % 100) / 100 AS DOUBLE) * 1.0e-1 AS lat,
       1.0e2 + CAST(i % 7 AS DOUBLE) * 5.0e1 AS h
FROM range(0, 5000) t(i)
"""

_RPC_L, _RPC_P, _RPC_H, _RPC_PX, _RPC_LN = rpc_transform_sql(_RPC_MODEL, _sd)

_RPC_ORACLE = f"""
WITH g AS ({_RPC_GRID}),
n AS (SELECT pid, {_RPC_L} AS L, {_RPC_P} AS P, {_RPC_H} AS H FROM g)
SELECT pid, {_RPC_PX} AS pixel, {_RPC_LN} AS line FROM n
"""


@register("rpc_transform", _RPC_ORACLE)
def q_rpc_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RPC00B forward transform of a 100x50x7-height grid; one shared
    rational-cubic expression, zero Python rows."""
    g = spark.range(5000).selectExpr(
        "CAST(id AS BIGINT) AS pid",
        "4.0e0 + CAST(id % 100 AS DOUBLE) * 1.0e-1 AS lon",
        "4.25e1 + CAST((id - id % 100) / 100 AS DOUBLE) * 1.0e-1 AS lat",
        "1.0e2 + CAST(id % 7 AS DOUBLE) * 5.0e1 AS h",
    )
    n = g.selectExpr("pid", f"{_RPC_L} AS L", f"{_RPC_P} AS P", f"{_RPC_H} AS H")
    return n.selectExpr("pid", f"{_RPC_PX} AS pixel", f"{_RPC_LN} AS line")


# --------------------------------------------------------------------------
# Homography transformer (alg/gdal_homography.cpp:387-394): projective
# map fitted from GCPs by normalized DLT.  Affine-consistent GCPs force
# the projective row to [1, 0, 0] (numerically ~1e-14), so the integer
# affine is the exact oracle — end-to-end check of the DLT solve and
# the rational codegen apply.
# --------------------------------------------------------------------------
_HOMO_AX = [7, 3, -1]  # x = 7 + 3p - l
_HOMO_AY = [-2, 2, 4]  # y = -2 + 2p + 4l


_HOMOGRAPHY_ORACLE = f"""
WITH g AS ({_SRC_GRID_CTE})
SELECT px, py,
       CAST({_HOMO_AX[0]} + {_HOMO_AX[1]} * px + {_HOMO_AX[2]} * py AS BIGINT) AS gx,
       CAST({_HOMO_AY[0]} + {_HOMO_AY[1]} * px + {_HOMO_AY[2]} * py AS BIGINT) AS gy
FROM g WHERE band = 1
"""


@register("homography_transform", _HOMOGRAPHY_ORACLE)
def q_homography_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Homography fitted from 25 affine-consistent GCPs, applied to the
    full pixel grid as a rational codegen projection."""
    from gdal_spark.operators.gcp import homography_transform
    from gdal_spark.operators.raster import source_grid

    gcps = spark.createDataFrame(
        [
            (
                float(p),
                float(ln),
                float(_HOMO_AX[0] + _HOMO_AX[1] * p + _HOMO_AX[2] * ln),
                float(_HOMO_AY[0] + _HOMO_AY[1] * p + _HOMO_AY[2] * ln),
            )
            for p in _GCP_PS
            for ln in _GCP_LS
        ],
        "pixel double, line double, x double, y double",
    )
    pts = source_grid(spark).filter(F.col("band") == 1).select("px", "py")
    out = homography_transform(pts, gcps, pixel_col="px", line_col="py")
    return out.select(
        "px",
        "py",
        F.expr("CAST(floor(gx + 5.0e-1) AS BIGINT)").alias("gx"),
        F.expr("CAST(floor(gy + 5.0e-1) AS BIGINT)").alias("gy"),
    )


# --------------------------------------------------------------------------
# Reclassify (gdal raster reclassify): [lo,hi) ranges -> new values as a
# DIM TABLE range join, DEFAULT fallback for unmatched pixels.
# --------------------------------------------------------------------------
_RECLASS_RULES = [(0, 50, 1), (50, 120, 2), (120, 200, 3), (200, 240, 4)]
_RECLASS_VALUES = ", ".join(f"({lo}, {hi}, {out})" for lo, hi, out in _RECLASS_RULES)

_RECLASSIFY_ORACLE = f"""
WITH g AS ({_SRC_GRID_CTE}),
s AS (SELECT band, px, py, CAST({_SRC_VAL} AS int) AS v FROM g),
r(lo, hi, out) AS (VALUES {_RECLASS_VALUES})
SELECT band, px, py, CAST(coalesce(r.out, 255) AS int) AS value
FROM s LEFT JOIN r ON s.v >= r.lo AND s.v < r.hi
"""


@register("reclassify", _RECLASSIFY_ORACLE)
def q_reclassify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range reclassification of all bands via a broadcast range join on
    the rules dim table (mapping is data, not a baked CASE)."""
    from gdal_spark.operators.raster import reclassify, source_grid

    rules = spark.createDataFrame(_RECLASS_RULES, "lo int, hi int, out int")
    return reclassify(source_grid(spark), rules)


# --------------------------------------------------------------------------
# Clean collar / nearblack (apps/nearblack_lib.cpp, nMaxNonBlack=0
# horizontal case — see operators/raster.py:nearblack for the
# documented divergence).  Fixture: a jagged near-black collar (widths
# vary per row) plus three fully-near-black top rows that must blank
# entirely.
# --------------------------------------------------------------------------
_NB_VAL = (
    "CASE WHEN py < 3 OR px < 5 + py % 7 OR px > 394 - py % 5"
    " THEN py % 3 ELSE 3 + (px * 7 + py * 13) % 250 END"
)

_NEARBLACK_ORACLE = f"""
WITH g AS ({_SRC_GRID_CTE}),
v AS (SELECT px, py, CAST({_NB_VAL} AS int) AS value FROM g WHERE band = 1),
b AS (
  SELECT py, min(CASE WHEN value > 2 THEN px END) AS first_ok,
         max(CASE WHEN value > 2 THEN px END) AS last_ok
  FROM v GROUP BY py
)
SELECT v.px, v.py,
       CAST(CASE WHEN b.first_ok IS NULL OR v.px < b.first_ok
                      OR v.px > b.last_ok
                 THEN 0 ELSE v.value END AS int) AS value
FROM v JOIN b ON v.py = b.py
"""


@register("nearblack", _NEARBLACK_ORACLE)
def q_nearblack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trim the jagged near-black collar: per-scanline prefix/suffix
    runs (value <= 2) overwritten with 0."""
    from gdal_spark.operators.raster import nearblack, source_grid

    g = source_grid(spark).filter(F.col("band") == 1)
    pix = g.select("px", "py", F.expr(_NB_VAL).cast("int").alias("value"))
    return nearblack(pix, near_dist=2)


# nearblack -white (nearblack_lib.cpp bNearWhite): collar = near-WHITE
# runs, filled with 255.  Fixture = the photometric inverse of the
# black fixture (255 - v), so the white mode must trim exactly the
# pixels the black mode trims on the original — the oracle is the
# black oracle's collar decision applied to the inverted values.
_NB_W_VAL = f"(255 - ({_NB_VAL}))"

_NEARWHITE_ORACLE = f"""
WITH g AS ({_SRC_GRID_CTE}),
v AS (SELECT px, py, CAST({_NB_W_VAL} AS int) AS value FROM g WHERE band = 1),
b AS (
  SELECT py, min(CASE WHEN value < 253 THEN px END) AS first_ok,
         max(CASE WHEN value < 253 THEN px END) AS last_ok
  FROM v GROUP BY py
)
SELECT v.px, v.py,
       CAST(CASE WHEN b.first_ok IS NULL OR v.px < b.first_ok
                      OR v.px > b.last_ok
                 THEN 255 ELSE v.value END AS int) AS value
FROM v JOIN b ON v.py = b.py
"""


@register("nearblack_white", _NEARWHITE_ORACLE)
def q_nearblack_white(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.raster import nearblack, source_grid

    g = source_grid(spark).filter(F.col("band") == 1)
    pix = g.select("px", "py", F.expr(_NB_W_VAL).cast("int").alias("value"))
    return nearblack(pix, near_dist=2, fill=255, white=True)


# --------------------------------------------------------------------------
# Median-cut palette (rgb2pct; alg/gdalmediancut.cpp + nearest-color
# assignment).  Oracle case: the fixture has exactly 216 distinct
# colors (the web-safe cube) and n_colors=256, so every color becomes
# its own box, the palette reproduces the colors exactly, and the
# nearest-entry map is the IDENTITY — an end-to-end check of histogram
# -> split loop -> palette -> assignment.  The >256-color split path is
# pinned in tests/test_mediancut.py.
# --------------------------------------------------------------------------
_MC_C = "((px + py * 7) % 216)"
_MC_R = f"(({_MC_C} % 6) * 51)"
_MC_G = f"((CAST(({_MC_C} - {_MC_C} % 6) / 6 AS int) % 6) * 51)"
_MC_B = f"(CAST(({_MC_C} - {_MC_C} % 36) / 36 AS int) * 51)"

_MEDIANCUT_ORACLE = f"""
WITH g AS ({_SRC_GRID_CTE})
SELECT px, py, CAST({_MC_R} AS int) AS pr, CAST({_MC_G} AS int) AS pg,
       CAST({_MC_B} AS int) AS pb
FROM g WHERE band = 1
"""


@register("rgb_to_palette", _MEDIANCUT_ORACLE)
def q_rgb_to_palette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-cut 256-color quantization of the 216-color web-safe
    fixture (exact-color histogram, bits=8): identity mapping."""
    from gdal_spark.operators.mediancut import rgb_to_palette
    from gdal_spark.operators.raster import source_grid

    g = source_grid(spark).filter(F.col("band") == 1)
    pix = g.select(
        "px",
        "py",
        F.expr(_MC_R).cast("int").alias("r"),
        F.expr(_MC_G).cast("int").alias("g"),
        F.expr(_MC_B).cast("int").alias("b"),
    )
    return rgb_to_palette(pix, n_colors=256, bits=8)


# --------------------------------------------------------------------------
# Palette expand (pct2rgb; swig/python/gdal-utils/osgeo_utils/pct2rgb.py):
# indexed raster + color table -> RGB bands.  The color table is a DIM
# TABLE (lookup data, not a baked CASE — same stance as reclassify), so
# the expansion is a broadcast equi-join on the palette index: the big
# raster side never shuffles, which is the pct2rgb shape at any scale.
# Fixture palette = the web-safe 216 cube; indexed pixels cycle it.
# --------------------------------------------------------------------------
_P2R_IDX = "((px * 11 + py * 5) % 216)"

_PCT2RGB_ORACLE = f"""
WITH g AS ({_SRC_GRID_CTE}),
pal AS (
  SELECT CAST(i AS int) AS idx, CAST((i % 6) * 51 AS int) AS pr,
         CAST((CAST((i - i % 6) / 6 AS int) % 6) * 51 AS int) AS pg,
         CAST(CAST((i - i % 36) / 36 AS int) * 51 AS int) AS pb
  FROM range(0, 216) t(i)
)
SELECT px, py, pr, pg, pb
FROM (SELECT px, py, CAST({_P2R_IDX} AS int) AS idx FROM g WHERE band = 1) v
JOIN pal USING (idx)
"""


@register("pct2rgb", _PCT2RGB_ORACLE)
def q_pct2rgb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.raster import source_grid

    pal = spark.range(216).select(
        F.col("id").cast("int").alias("idx"),
        ((F.col("id") % 6) * 51).cast("int").alias("pr"),
        (((F.col("id") - F.col("id") % 6) / 6).cast("int") % 6 * 51)
        .cast("int")
        .alias("pg"),
        (((F.col("id") - F.col("id") % 36) / 36).cast("int") * 51)
        .cast("int")
        .alias("pb"),
    )
    g = source_grid(spark).filter(F.col("band") == 1)
    v = g.select("px", "py", F.expr(_P2R_IDX).cast("int").alias("idx"))
    return v.join(F.broadcast(pal), "idx").select("px", "py", "pr", "pg", "pb")


# --------------------------------------------------------------------------
# Resize (gdal raster resize, arbitrary-ratio nearest), explode
# collections, swap XY (gdalalg_vector_*).
# --------------------------------------------------------------------------
_RSZ_W, _RSZ_H = 160, 80  # 2.5x downscale of the 400x200 source

_RESIZE_ORACLE = f"""
WITH o AS (
  SELECT CAST((i % {_RSZ_W}) AS int) AS ox,
         CAST((CAST(((i - (i % {_RSZ_W})) / {_RSZ_W}) AS BIGINT) % {_RSZ_H}) AS int) AS oy,
         CAST((CAST(((i - (i % {_RSZ_W * _RSZ_H})) / {_RSZ_W * _RSZ_H}) AS BIGINT) + 1) AS int) AS band
  FROM range(0, {_RSZ_W * _RSZ_H * 3}) t(i)
),
m AS (
  SELECT band, ox, oy,
         CAST(floor((ox + 5.0e-1) * 2.5e0) AS int) AS px,
         CAST(floor((oy + 5.0e-1) * 2.5e0) AS int) AS py
  FROM o
)
SELECT band, ox, oy, CAST({_SRC_VAL} AS int) AS value FROM m
"""


@register("raster_resize", _RESIZE_ORACLE)
def q_raster_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest resize 400x200 -> 160x80 (non-integer 2.5x ratio)."""
    from gdal_spark.operators.raster import raster_resize, source_grid

    return raster_resize(source_grid(spark), _RSZ_W, _RSZ_H)


# --------------------------------------------------------------------------
# Band stack + nodata->alpha (apps/gdalalg_raster_stack.cpp cumulative
# band renumbering; apps/gdalalg_raster_nodata_to_alpha.cpp fully-nodata
# pixels transparent).  Stack fixture: dataset B = source bands 2-3
# (rebased 1-2) stacked BEFORE dataset A = source band 1, so output band
# numbers are a real permutation (out 1=src 2, out 2=src 3, out 3=src 1)
# — an identity stack would not distinguish renumbering from passthrough.
# --------------------------------------------------------------------------
_STACK_ORACLE = f"""
WITH g AS ({_SRC_GRID_CTE})
SELECT CAST(CASE WHEN band = 1 THEN 3 ELSE band - 1 END AS int) AS band,
       px, py, CAST({_SRC_VAL} AS int) AS value
FROM g
"""


@register("raster_stack", _STACK_ORACLE)
def q_raster_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.raster import raster_stack, source_grid

    g = source_grid(spark)
    b = g.filter(F.col("band") >= 2).withColumn(
        "band", (F.col("band") - 1).cast("int")
    )
    a = g.filter(F.col("band") == 1)
    return raster_stack([(b, 2), (a, 1)])


# nodata collar planted in EVERY band at px<8 AND py<8 (nd = 37); the
# value formula's bands differ pairwise by 29/58 mod 256, so no organic
# pixel is all-nodata — alpha (band 4) is 0 exactly on the collar.
_ND = 37
_NDA_ORACLE = f"""
WITH g AS ({_SRC_GRID_CTE}),
v AS (
  SELECT band, px, py,
         CAST(CASE WHEN px < 8 AND py < 8 THEN {_ND}
                   ELSE {_SRC_VAL} END AS int) AS value
  FROM g
)
SELECT band, px, py, value FROM v
UNION ALL
SELECT CAST(4 AS int) AS band, px, py,
       CAST(CASE WHEN px < 8 AND py < 8 THEN 0 ELSE 255 END AS int) AS value
FROM v WHERE band = 1
"""


@register("nodata_to_alpha", _NDA_ORACLE)
def q_nodata_to_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.raster import nodata_to_alpha, source_grid

    g = source_grid(spark).withColumn(
        "value",
        F.expr(
            f"CAST(CASE WHEN px < 8 AND py < 8 THEN {_ND}"
            f" ELSE {_SRC_VAL} END AS int)"
        ),
    )
    return nodata_to_alpha(g, _ND, nbands=3)


# canonical part WKTs hand-derived from zones.FANCY_ZONES (independent of
# the engine's writer — the strings below are written by eye, not code)
_EXPLODE_ROWS = [
    (9001, 0, "POLYGON ((0 0,20 0,20 20,0 20,0 0),(8 8,12 8,12 12,8 12,8 8))"),
    (9002, 0, "POLYGON ((30 0,50 0,50 4,34 4,34 16,50 16,50 20,30 20,30 0))"),
    (9003, 0, "POLYGON ((-40 -20,-30 -20,-30 -10,-40 -10,-40 -20))"),
    (9004, 0, "POLYGON ((-30 -20,-20 -20,-20 -10,-30 -10,-30 -20))"),
    (9005, 0, "POLYGON ((60 0,62 0,62 2,60 2,60 0))"),
    (9005, 1, "POLYGON ((70 0,72 0,72 2,70 2,70 0))"),
]

_EXPLODE_ORACLE = "SELECT * FROM (VALUES " + ", ".join(
    f"(CAST({z} AS BIGINT), CAST({p} AS int), '{w}')" for z, p, w in _EXPLODE_ROWS
) + ") t(zone_id, part, geom_wkt)"


@register("explode_collections", _EXPLODE_ORACLE)
def q_explode_collections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ogr2ogr -explodecollections over the fancy layer (one
    MULTIPOLYGON): one row per part, canonical WKT."""
    from gdal_spark.operators.vector import explode_collections

    return explode_collections(zones.fancy_zones(spark))


_SWAP_ROWS = [
    (9001, "POLYGON ((0 0,0 20,20 20,20 0,0 0),(8 8,8 12,12 12,12 8,8 8))"),
    (9002, "POLYGON ((0 30,0 50,4 50,4 34,16 34,16 50,20 50,20 30,0 30))"),
    (9003, "POLYGON ((-20 -40,-20 -30,-10 -30,-10 -40,-20 -40))"),
    (9004, "POLYGON ((-20 -30,-20 -20,-10 -20,-10 -30,-20 -30))"),
    (9005, "MULTIPOLYGON (((0 60,0 62,2 62,2 60,0 60)),((0 70,0 72,2 72,2 70,0 70)))"),
]

_SWAP_ORACLE = "SELECT * FROM (VALUES " + ", ".join(
    f"(CAST({z} AS BIGINT), '{w}')" for z, w in _SWAP_ROWS
) + ") t(zone_id, geom_wkt)"


@register("swap_xy", _SWAP_ORACLE)
def q_swap_xy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OGRGeometry::swapXY over the fancy layer, canonical WKT out."""
    from gdal_spark.operators.vector import swap_xy

    return swap_xy(zones.fancy_zones(spark))


# --------------------------------------------------------------------------
# Linear referencing (apps/ogrlineref.cpp -get_pos / -get_coord).  The
# reference polyline is integer-coordinate; every float op (projection,
# clamp, prefix-sum of segment lengths, interpolation) follows the same
# text order in the numpy kernel and the SQL below, so measures and
# coordinates are bit-identical doubles.  Prefix lengths use ROWS ...
# AND 1 PRECEDING (an inclusive-sum-minus-own would not be exact FP).
# --------------------------------------------------------------------------
_LR_LINE = [(-150, -60), (-100, -20), (-50, 10), (0, 0), (50, 30), (100, -10), (150, 60)]
_LR_SEGS = ", ".join(
    f"({i}, {a[0]}, {a[1]}, {b[0] - a[0]}, {b[1] - a[1]})"
    for i, (a, b) in enumerate(zip(_LR_LINE[:-1], _LR_LINE[1:]))
)

_LR_CUM_CTE = f"""
seg(seg, ax, ay, dx, dy) AS (VALUES {_LR_SEGS}),
s2 AS (
  SELECT seg, CAST(ax AS DOUBLE) AS ax, CAST(ay AS DOUBLE) AS ay,
         CAST(dx AS DOUBLE) AS dx, CAST(dy AS DOUBLE) AS dy,
         CAST(dx * dx + dy * dy AS DOUBLE) AS len2,
         sqrt(CAST(dx * dx + dy * dy AS DOUBLE)) AS seglen
  FROM seg
),
cum AS (
  SELECT *, coalesce(sum(seglen) OVER (ORDER BY seg
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0e0) AS cum0
  FROM s2
)"""

_LINEREF_POS_ORACLE = f"""
WITH docs AS ({_DOCS_CTE}),
{_LR_CUM_CTE},
p AS (
  SELECT d.doc_id, d.lon, d.lat, c.seg, c.ax, c.ay, c.dx, c.dy,
         c.seglen, c.cum0,
         LEAST(GREATEST(((d.lon - c.ax) * c.dx + (d.lat - c.ay) * c.dy)
                        / c.len2, 0.0e0), 1.0e0) AS t
  FROM docs d, cum c
),
q AS (
  SELECT doc_id, seg, cum0, seglen, t,
         (lon - (ax + t * dx)) * (lon - (ax + t * dx))
         + (lat - (ay + t * dy)) * (lat - (ay + t * dy)) AS d2
  FROM p
),
best AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY d2, seg) AS rn
  FROM q
)
SELECT doc_id, cum0 + t * seglen AS measure, d2 AS dist2
FROM best WHERE rn = 1
"""


@register("lineref_pos", _LINEREF_POS_ORACLE)
def q_lineref_pos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ogrlineref -get_pos: measure + squared offset of every doc's
    closest projection onto the reference polyline."""
    from gdal_spark.operators.lineref import locate_along_line

    docs = corpus.load_docs(spark, sf_dir).select("doc_id", "lon", "lat")
    return locate_along_line(docs, _LR_LINE)


_LINEREF_COORD_ORACLE = f"""
WITH docs AS ({_DOCS_CTE}),
{_LR_CUM_CTE},
m AS (SELECT doc_id, CAST(doc_id % 400 AS DOUBLE) AS m FROM docs),
sel AS (
  SELECT m.doc_id, m.m, c.seg, c.ax, c.ay, c.dx, c.dy, c.seglen, c.cum0,
         row_number() OVER (PARTITION BY m.doc_id ORDER BY c.seg DESC) AS rn
  FROM m JOIN cum c ON c.cum0 <= m.m
),
t AS (
  SELECT doc_id,
         LEAST(GREATEST((m - cum0) / seglen, 0.0e0), 1.0e0) AS t,
         ax, ay, dx, dy
  FROM sel WHERE rn = 1
)
SELECT doc_id, ax + t * dx AS x, ay + t * dy AS y FROM t
"""


@register("lineref_coord", _LINEREF_COORD_ORACLE)
def q_lineref_coord(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ogrlineref -get_coord: coordinate at measure m = doc_id % 400
    (measures beyond the line clamp to its endpoint)."""
    from gdal_spark.operators.lineref import point_at_measure

    docs = corpus.load_docs(spark, sf_dir).select("doc_id")
    ms = docs.select(
        "doc_id", (F.col("doc_id") % 400).cast("double").alias("m")
    )
    return point_at_measure(ms, _LR_LINE)


# --------------------------------------------------------------------------
# Geolocation-array transform (alg/gdalgeoloc.cpp, GEOLOCATION metadata
# domain): swath lon/lat arrays at 4x subsampling, forward transform of
# the full pixel grid through the reference's NESTED bilinear.  All
# array values are exact binary quarters and fx/fy are exact quarters,
# so both engines produce identical doubles.
# --------------------------------------------------------------------------
_GL_XS, _GL_YS, _GL_STEP = 101, 51, 4
_GL_LON = "(-1.8e2 + glx * 1.5e0 + CAST((glx * gly) % 5 AS DOUBLE) * 2.5e-1)"
_GL_LAT = "(8.0e1 - gly * 2.0e0 + CAST((glx + gly) % 3 AS DOUBLE) * 5.0e-1)"


def _gl_at(expr: str, x: str, y: str) -> str:
    return expr.replace("glx", f"({x})").replace("gly", f"({y})")


_GL_NEST_X = (
    "(1.0e0 - fy) * ({v00} + fx * ({v10} - {v00}))"
    " + fy * ({v01} + fx * ({v11} - {v01}))"
)

_GEOLOC_ORACLE = f"""
WITH g AS ({_SRC_GRID_CTE}),
a AS (
  SELECT px, py,
         CAST(floor((CAST(px AS DOUBLE) - 0.0e0) / 4.0e0) AS int) AS ix,
         CAST(floor((CAST(py AS DOUBLE) - 0.0e0) / 4.0e0) AS int) AS iy,
         (CAST(px AS DOUBLE) - 0.0e0) / 4.0e0
           - floor((CAST(px AS DOUBLE) - 0.0e0) / 4.0e0) AS fx,
         (CAST(py AS DOUBLE) - 0.0e0) / 4.0e0
           - floor((CAST(py AS DOUBLE) - 0.0e0) / 4.0e0) AS fy
  FROM g WHERE band = 1
)
SELECT px, py,
       {_GL_NEST_X.format(
           v00=_gl_at(_GL_LON, "ix", "iy"),
           v10=_gl_at(_GL_LON, "ix + 1", "iy"),
           v01=_gl_at(_GL_LON, "ix", "iy + 1"),
           v11=_gl_at(_GL_LON, "ix + 1", "iy + 1"),
       )} AS lon,
       {_GL_NEST_X.format(
           v00=_gl_at(_GL_LAT, "ix", "iy"),
           v10=_gl_at(_GL_LAT, "ix + 1", "iy"),
           v01=_gl_at(_GL_LAT, "ix", "iy + 1"),
           v11=_gl_at(_GL_LAT, "ix + 1", "iy + 1"),
       )} AS lat
FROM a
"""


@register("geoloc_transform", _GEOLOC_ORACLE)
def q_geoloc_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward geolocation-array transform of the pixel grid against a
    101x51 synthetic swath geoloc table at 4x subsampling."""
    from gdal_spark.operators.gcp import geoloc_transform
    from gdal_spark.operators.raster import source_grid

    n = _GL_XS * _GL_YS
    gl = spark.range(n).select(
        (F.col("id") % _GL_XS).cast("int").alias("glx"),
        (F.col("id") / _GL_XS).cast("int").alias("gly"),
    )
    gl = gl.select(
        "glx", "gly",
        F.expr(_GL_LON).alias("lon"), F.expr(_GL_LAT).alias("lat"),
    )
    pix = source_grid(spark).filter(F.col("band") == 1).select("px", "py")
    return geoloc_transform(pix, gl, _GL_STEP, _GL_STEP)


# --------------------------------------------------------------------------
# Wrap dateline (ogr2ogr -wrapdateline).  Hand-derived canonical WKT
# literals: the S-H halfplane walk's output vertex order is traced by
# hand for the crossing fixture.
# --------------------------------------------------------------------------
_WRAP_IN = [
    (8101, "POLYGON ((170 10, 190 10, 190 20, 170 20, 170 10))"),  # crossing
    (8102, "POLYGON ((10 0, 20 0, 20 5, 10 5, 10 0))"),  # untouched
    (8103, "POLYGON ((185 0, 195 0, 195 5, 185 5, 185 0))"),  # all-east shift
]
_WRAP_OUT = [
    (8101, 0, "POLYGON ((180 10,180 20,170 20,170 10,180 10))"),
    (8101, 1, "POLYGON ((-180 10,-170 10,-170 20,-180 20,-180 10))"),
    (8102, 0, "POLYGON ((10 0,20 0,20 5,10 5,10 0))"),
    (8103, 0, "POLYGON ((-175 0,-165 0,-165 5,-175 5,-175 0))"),
]

_WRAP_ORACLE = "SELECT * FROM (VALUES " + ", ".join(
    f"(CAST({z} AS BIGINT), CAST({p} AS int), '{w}')" for z, p, w in _WRAP_OUT
) + ") t(zone_id, part, geom_wkt)"


@register("wrap_dateline", _WRAP_ORACLE)
def q_wrap_dateline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """-wrapdateline: split/shift polygons around lon 180."""
    from gdal_spark.operators.vector import wrap_dateline

    z = spark.createDataFrame(_WRAP_IN, "zone_id long, geom_wkt string")
    return wrap_dateline(z)


# --------------------------------------------------------------------------
# Token counting: whitespace + the BPE-ish pretokenizer regex (the two
# passes a corpus pipeline budgets with).  The pattern is restricted to
# constructs where java.util.regex and RE2 agree (ASCII classes,
# leftmost-first alternation).
# --------------------------------------------------------------------------
from gdal_spark.operators.text import BPE_ISH_PATTERN  # noqa: E402

_TOKEN_PAT_SQL = BPE_ISH_PATTERN.replace("'", "''")

_TOKEN_COUNT_ORACLE = f"""
SELECT doc_id,
       CAST(len(str_split_regex(trim(text), ' +'))
            - CASE WHEN length(trim(text)) = 0 THEN 1 ELSE 0 END AS int)
         AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{_TOKEN_PAT_SQL}')) AS int)
         AS n_bpe_tokens
FROM documents
"""


@register("token_count", _TOKEN_COUNT_ORACLE)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish token counts per document (pure JVM regexp,
    codegen projection)."""
    from gdal_spark.operators.text import token_counts

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return token_counts(d)


# --------------------------------------------------------------------------
# Inverse geolocation backmap (alg/gdalgeoloc.cpp backmap generation,
# which itself hole-fills via GDALFillNodata — :1486).  Coarse target
# grid (~4 geoloc samples per pixel) exercises the nearest-to-center
# argmin; the 4-column/1-row boundary strip of sampleless pixels
# exercises the quadrant-IDW fill, with the far corner unfillable at
# maxdist=3 (NULL).  Oracle = the scatter argmin (row_number) composed
# with the fillnodata oracle pattern per channel.
# --------------------------------------------------------------------------
_BM_X0, _BM_DX, _BM_Y0, _BM_DY = -180.0, 3.0, 81.0, -4.0
_BM_W, _BM_H, _BM_R = 55, 27, 3

_BM_SCATTER = f"""
gl AS (
  SELECT CAST(i % {_GL_XS} AS int) AS glx, CAST((i - i % {_GL_XS}) / {_GL_XS} AS int) AS gly
  FROM range(0, {_GL_XS * _GL_YS}) t(i)
),
gv AS (SELECT glx, gly, {_GL_LON} AS lon, {_GL_LAT} AS lat FROM gl),
sc AS (
  SELECT glx, gly, lon, lat,
         CAST(floor((lon - ({_sd(_BM_X0)})) / {_sd(_BM_DX)} + 1.0e-5) AS int) AS tx,
         CAST(floor((lat - {_sd(_BM_Y0)}) / ({_sd(_BM_DY)}) + 1.0e-5) AS int) AS ty
  FROM gv
),
sb AS (
  SELECT *,
         (lon - (({_sd(_BM_X0)}) + (tx + 5.0e-1) * {_sd(_BM_DX)}))
           * (lon - (({_sd(_BM_X0)}) + (tx + 5.0e-1) * {_sd(_BM_DX)}))
         + (lat - ({_sd(_BM_Y0)} + (ty + 5.0e-1) * ({_sd(_BM_DY)})))
           * (lat - ({_sd(_BM_Y0)} + (ty + 5.0e-1) * ({_sd(_BM_DY)}))) AS d2
  FROM sc
  WHERE tx >= 0 AND tx < {_BM_W} AND ty >= 0 AND ty < {_BM_H}
),
bm AS (
  SELECT tx, ty, glx, gly,
         row_number() OVER (PARTITION BY tx, ty ORDER BY d2, gly, glx) AS rn
  FROM sb
),
tg AS (
  SELECT CAST(i % {_BM_W} AS int) AS tx, CAST((i - i % {_BM_W}) / {_BM_W} AS int) AS ty
  FROM range(0, {_BM_W * _BM_H}) t(i)
),
mm AS (
  SELECT tg.tx, tg.ty, b.glx, b.gly
  FROM tg LEFT JOIN (SELECT * FROM bm WHERE rn = 1) b
    ON tg.tx = b.tx AND tg.ty = b.ty
)"""


def _bm_fill(ch: str) -> str:
    """Quadrant-IDW fill CTE chunk for backmap channel ``ch`` — the
    fillnodata oracle pattern over the mm table."""
    r = _BM_R
    return f"""
nod_{ch} AS (SELECT tx, ty FROM mm WHERE {ch} IS NULL),
val_{ch} AS (SELECT tx AS vx, ty AS vy, {ch} AS vv FROM mm WHERE {ch} IS NOT NULL),
pr_{ch} AS (
  SELECT n.tx, n.ty, v.vx, v.vy, v.vv,
         (v.vx - n.tx) * (v.vx - n.tx) + (v.vy - n.ty) * (v.vy - n.ty) AS d2,
         CASE WHEN v.vx - n.tx <= 0 THEN 0 ELSE 1 END AS qx,
         CASE WHEN v.vy - n.ty <= 0 THEN 0 ELSE 1 END AS qy
  FROM nod_{ch} n JOIN val_{ch} v
    ON v.vx BETWEEN n.tx - {r} AND n.tx + {r}
   AND v.vy BETWEEN n.ty - {r} AND n.ty + {r}
  WHERE (v.vx - n.tx) * (v.vx - n.tx) + (v.vy - n.ty) * (v.vy - n.ty) <= {r * r}
),
b_{ch} AS (
  SELECT *, row_number() OVER (
      PARTITION BY tx, ty, qx, qy ORDER BY d2, vy, vx) AS rn
  FROM pr_{ch}
),
piv_{ch} AS (
  SELECT tx, ty,
         {_fill_w(0, 0)} AS wtl, {_fill_v(0, 0)} AS vtl,
         {_fill_w(0, 1)} AS wbl, {_fill_v(0, 1)} AS vbl,
         {_fill_w(1, 0)} AS wtr, {_fill_v(1, 0)} AS vtr,
         {_fill_w(1, 1)} AS wbr, {_fill_v(1, 1)} AS vbr
  FROM b_{ch} WHERE rn = 1 GROUP BY tx, ty
),
f_{ch} AS (
  SELECT n.tx, n.ty,
         CAST(floor(
           ((coalesce(p.wtl * p.vtl, 0.0e0) + coalesce(p.wbl * p.vbl, 0.0e0))
            + coalesce(p.wtr * p.vtr, 0.0e0) + coalesce(p.wbr * p.vbr, 0.0e0))
           / ((coalesce(p.wtl, 0.0e0) + coalesce(p.wbl, 0.0e0))
              + coalesce(p.wtr, 0.0e0) + coalesce(p.wbr, 0.0e0))
           * 1.0e4 + 1.0e-6) AS BIGINT) AS v4
  FROM nod_{ch} n LEFT JOIN piv_{ch} p ON n.tx = p.tx AND n.ty = p.ty
)"""


_BACKMAP_ORACLE = f"""
WITH {_BM_SCATTER},
{_bm_fill("glx")},
{_bm_fill("gly")}
SELECT mm.tx, mm.ty,
       CASE WHEN mm.glx IS NOT NULL THEN CAST(mm.glx AS BIGINT) * 10000
            ELSE fx.v4 END AS bx4,
       CASE WHEN mm.gly IS NOT NULL THEN CAST(mm.gly AS BIGINT) * 10000
            ELSE fy.v4 END AS by4
FROM mm
LEFT JOIN f_glx fx ON mm.tx = fx.tx AND mm.ty = fx.ty
LEFT JOIN f_gly fy ON mm.tx = fy.tx AND mm.ty = fy.ty
"""


@register("geoloc_backmap", _BACKMAP_ORACLE)
def q_geoloc_backmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse geolocation backmap over a coarse 55x27 target grid:
    nearest-to-center scatter + quadrant-IDW hole fill per channel."""
    from gdal_spark.operators.gcp import geoloc_backmap

    n = _GL_XS * _GL_YS
    gl = spark.range(n).select(
        (F.col("id") % _GL_XS).cast("int").alias("glx"),
        (F.col("id") / _GL_XS).cast("int").alias("gly"),
    )
    gl = gl.select(
        "glx", "gly",
        F.expr(_GL_LON).alias("lon"), F.expr(_GL_LAT).alias("lat"),
    )
    return geoloc_backmap(
        gl, _BM_X0, _BM_DX, _BM_Y0, _BM_DY, _BM_W, _BM_H, fill_maxdist=_BM_R
    )


# --------------------------------------------------------------------------
# Layer summary (ogrinfo -so analog): feature count + layer extent.  The
# docs layer extent is pure JVM min/max; the zone layer extent is
# computed by PARSING each feature's WKT (the engine's envelope kernel,
# like OGRLayer::GetExtent scanning geometries) while the oracle derives
# it from the corner expressions — same doubles by construction.
# --------------------------------------------------------------------------
_R_ZONES = zones._R

_LAYER_EXTENT_ORACLE = f"""
WITH docs AS ({_DOCS_CTE})
SELECT 'documents' AS layer, count(*) AS n,
       min(lon) AS xmin, min(lat) AS ymin, max(lon) AS xmax, max(lat) AS ymax
FROM docs
UNION ALL
SELECT 'rich_zones' AS layer, count(*) AS n,
       min({_R_ZONES["bx"]}) AS xmin, min({_R_ZONES["by"]}) AS ymin,
       max({_R_ZONES["x_w1"]}) AS xmax, max({_R_ZONES["y_top"]}) AS ymax
FROM range(0, {zones.NRICH}) t(i)
"""


# ogrinfo also reports the layer's geometry-type makeup; over a MIXED
# layer (ogr2ogr from GeoJSON etc. produces them routinely) that is a
# type histogram.  Reuses explode_mixed's doc_id%3 mixed layer; the
# getGeometryName extraction is the pure-JVM regexp — whole query is
# codegen + one tiny hash aggregate.
_GEOM_SUMMARY_ORACLE = f"""
WITH docs AS ({_DOCS_CTE})
SELECT CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'MULTIPOINT'
            WHEN 1 THEN 'GEOMETRYCOLLECTION' ELSE 'POINT' END AS gtype,
       count(*) AS n
FROM docs GROUP BY 1
"""


@register("layer_geom_summary", _GEOM_SUMMARY_ORACLE)
def q_layer_geom_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.functions.collections import st_geometrytype

    docs = corpus.load_docs(spark, sf_dir).selectExpr(
        "doc_id",
        "CASE CAST(doc_id % 3 AS INT)"
        " WHEN 0 THEN 'MULTIPOINT ((1 2),(3 4))'"
        " WHEN 1 THEN 'GEOMETRYCOLLECTION (POINT (1 2))'"
        " ELSE 'POINT (1 2)' END AS wkt",
    )
    return (
        docs.select(st_geometrytype(F.col("wkt")).alias("gtype"))
        .groupBy("gtype")
        .agg(F.count("*").alias("n"))
    )


@register("layer_extent", _LAYER_EXTENT_ORACLE)
def q_layer_extent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ogrinfo summary: per-layer feature count + extent (zone extents
    via per-feature WKT envelope parse, reduced in one aggregation)."""
    import pandas as pd

    from gdal_spark.geometry.envelope import wkt_envelope

    docs = corpus.load_docs(spark, sf_dir)
    d = docs.agg(
        F.lit("documents").alias("layer"),
        F.count("*").alias("n"),
        F.min("lon").alias("xmin"),
        F.min("lat").alias("ymin"),
        F.max("lon").alias("xmax"),
        F.max("lat").alias("ymax"),
    )

    def env(it):
        for pdf in it:
            e = [wkt_envelope(w) for w in pdf["geom_wkt"]]
            yield pd.DataFrame(
                {
                    "xmin": [v[0] for v in e],
                    "ymin": [v[1] for v in e],
                    "xmax": [v[2] for v in e],
                    "ymax": [v[3] for v in e],
                }
            )

    z = zones.rich_zones(spark).mapInPandas(
        env, "xmin double, ymin double, xmax double, ymax double"
    )
    zagg = z.agg(
        F.lit("rich_zones").alias("layer"),
        F.count("*").alias("n"),
        F.min("xmin").alias("xmin"),
        F.min("ymin").alias("ymin"),
        F.max("xmax").alias("xmax"),
        F.max("ymax").alias("ymax"),
    )
    return d.unionByName(zagg)


# --------------------------------------------------------------------------
# Color merge (gdal raster color-merge / osgeo_utils hsv_merge.py):
# replace the VALUE channel of an RGB image with a grayscale band.
# Since every HSV->RGB channel is V times a function of (H, S), the
# value swap is the per-channel scaling rgb' = rgb * gray / max(r,g,b)
# (0 where the pixel is black) — one shared formula, Byte clamp.
# --------------------------------------------------------------------------
_CM_GRAY = "CAST((px * 11 + py * 3) % 256 AS DOUBLE)"


def _cm_chan(c: str) -> str:
    mx = "GREATEST(r, GREATEST(g, b))"
    return (
        f"CAST(floor(LEAST(CASE WHEN {mx} = 0.0e0 THEN 0.0e0 "
        f"ELSE {c} * ({_CM_GRAY}) / {mx} END, 2.55e2) + 5.0e-1) AS int)"
    )


_COLOR_MERGE_ORACLE = f"""
WITH g AS ({_SRC_GRID_CTE}),
w AS (SELECT band, px, py, CAST({_SRC_VAL} AS DOUBLE) AS v FROM g),
rgb AS (
  SELECT px, py,
         max(CASE WHEN band = 1 THEN v END) AS r,
         max(CASE WHEN band = 2 THEN v END) AS g,
         max(CASE WHEN band = 3 THEN v END) AS b
  FROM w GROUP BY px, py
)
SELECT px, py, {_cm_chan("r")} AS r, {_cm_chan("g")} AS g, {_cm_chan("b")} AS b
FROM rgb
"""


@register("color_merge", _COLOR_MERGE_ORACLE)
def q_color_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HSV value-replace merge of the 3-band source with the pan-grid
    grayscale: rgb' = rgb * gray / max(r,g,b), Byte half-up clamp."""
    from gdal_spark.operators.raster import source_grid

    w = source_grid(spark).select(
        "band", "px", "py", F.col("value").cast("double").alias("v")
    )
    rgb = w.groupBy("px", "py").agg(
        *[
            F.max(F.when(F.col("band") == i, F.col("v"))).alias(c)
            for i, c in ((1, "r"), (2, "g"), (3, "b"))
        ]
    )
    return rgb.select(
        "px",
        "py",
        F.expr(_cm_chan("r")).alias("r"),
        F.expr(_cm_chan("g")).alias("g"),
        F.expr(_cm_chan("b")).alias("b"),
    )


# --------------------------------------------------------------------------
# Cutline blend (gdalwarp -cblend, alg/gdalcutline.cpp BlendMaskGenerator
# semantics): feathered alpha = clamp(dist-to-boundary / blend, 0, 1) for
# inside pixels (hole edges feather too), 0 outside.  Same point-to-
# segment math as lineref; min over the 10 boundary segments is order-
# exact so sqrt(LEAST(...)) matches numpy's min-then-sqrt bit-for-bit.
# --------------------------------------------------------------------------
_CB_BLEND = "2.0e0"
_CB_SHELL = [
    (_CUT_BX, _CUT_BY), (_CUT_X1, _CUT_BY), (_CUT_X1, _CUT_Y1),
    (_CUT_X2, _CUT_Y1), (_CUT_X2, _CUT_Y2), (_CUT_BX, _CUT_Y2),
    (_CUT_BX, _CUT_BY),
]
_CB_HOLE = [
    (_CUT_HX0, _CUT_HY0), (_CUT_HX1, _CUT_HY0), (_CUT_HX1, _CUT_HY1),
    (_CUT_HX0, _CUT_HY1), (_CUT_HX0, _CUT_HY0),
]


def _cb_segd2(a, b) -> str:
    ax, ay = _sd(a[0]), _sd(a[1])
    dx, dy = _sd(b[0] - a[0]), _sd(b[1] - a[1])
    l2 = _sd((b[0] - a[0]) ** 2 + (b[1] - a[1]) ** 2)
    t = (
        f"LEAST(GREATEST(((lon - ({ax})) * ({dx}) + (lat - ({ay})) * ({dy}))"
        f" / {l2}, 0.0e0), 1.0e0)"
    )
    qx = f"(({ax}) + {t} * ({dx}))"
    qy = f"(({ay}) + {t} * ({dy}))"
    return f"((lon - {qx}) * (lon - {qx}) + (lat - {qy}) * (lat - {qy}))"


_CB_D2 = "LEAST(" + ", ".join(
    [_cb_segd2(a, b) for a, b in zip(_CB_SHELL[:-1], _CB_SHELL[1:])]
    + [_cb_segd2(a, b) for a, b in zip(_CB_HOLE[:-1], _CB_HOLE[1:])]
) + ")"

_CUTLINE_BLEND_ORACLE = f"""
WITH g AS ({_SRC_GRID_CTE}),
w AS (
  SELECT band, px, py,
         ((-1.8e2) + (px + 5.0e-1) * 9.0e-1) AS lon,
         (9.0e1 + (py + 5.0e-1) * (-9.0e-1)) AS lat
  FROM g
  WHERE px BETWEEN {_CW_PX0} AND {_CW_PX1}
    AND py BETWEEN {_CW_PY0} AND {_CW_PY1}
)
SELECT band, CAST(px - {_CW_PX0} AS int) AS px,
       CAST(py - {_CW_PY0} AS int) AS py,
       CASE WHEN {_CUT_IN}
            THEN CAST(floor(LEAST(sqrt({_CB_D2}) / {_CB_BLEND}, 1.0e0) * 1.0e4)
                      AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS alpha4
FROM w
"""


@register("cutline_blend", _CUTLINE_BLEND_ORACLE)
def q_cutline_blend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp -cblend 2.0 over the concave holed cutline: feathered
    interior alpha, hard 0 outside."""
    from gdal_spark.operators.raster import cutline_blend, source_grid

    cut = spark.createDataFrame([(CUTLINE_WKT,)], "geom_wkt string")
    return cutline_blend(source_grid(spark), cut, blend=2.0)


# --------------------------------------------------------------------------
# Hilbert-clustered layout (FlatGeobuf packed-R-tree sort,
# packedrtree.cpp:74-150) — the key kernel as an oracle-checked query;
# the write-path clustering + row-group pruning evidence lives in
# operators/layout.py + tests/test_hilbert.py.
# --------------------------------------------------------------------------

def _hilbert_oracle() -> str:
    from gdal_spark.geometry.hilbert import duckdb_hilbert_select
    from gdal_spark.operators.layout import HX_SQL, HY_SQL

    ext = (
        "SELECT min(lon) AS minx, max(lon) AS maxx, "
        f"min(lat) AS miny, max(lat) AS maxy FROM ({_DOCS_CTE}) e"
    )
    inner = (
        f"SELECT doc_id, {HX_SQL} AS hx, {HY_SQL} AS hy "
        f"FROM ({_DOCS_CTE}) docs CROSS JOIN ({ext}) ext"
    )
    return duckdb_hilbert_select(inner, "hx", "hy", "hkey")


@register("hilbert_order", _hilbert_oracle())
def q_hilbert_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert curve key per doc — the FlatGeobuf feature-sort key
    (packedrtree.cpp:74-150 ``hilbert()``/``hilbertSort()``), computed
    as pure whole-stage-codegen integer bit-ops after one broadcast
    extent aggregate (calcExtent, packedrtree.cpp:176-183)."""
    from gdal_spark.operators.layout import with_hilbert_key

    docs = corpus.load_docs(spark, sf_dir).select("doc_id", "lon", "lat")
    return with_hilbert_key(docs).select("doc_id", "hkey")


# --------------------------------------------------------------------------
# Composed ogr2ogr translate pipeline (GDALVectorTranslate lifecycle,
# apps/ogr2ogr_lib.cpp LayerTranslator::Translate :6456): the individual
# flags are covered by dedicated queries; this runs the whole per-feature
# sequence the reference applies — -spat + -where at the layer scan
# (ApplySpatialFilter :1498), -clipsrc Intersection in the SOURCE SRS
# (:6918-6965), -t_srs reprojection (:6968), then -clipdst Intersection
# in the DESTINATION SRS (:7129-7180) — as ONE declarative zero-shuffle
# column program.  Clip semantics mirrored exactly: the
# rectangle-contains-envelope fast path (:6932, clamp is the identity
# there), empty intersections dropped (goto end_loop), and
# dimension-collapsed results (rect touching the clip edge -> LINESTRING,
# dim 1 < 2) dropped per the nDim check (:6947) — hence the STRICT
# cx1 > cx0 / cy1 > cy0 keeps.  4326->3857 is axis-separable and
# monotone, so the reprojected rectangle is the rectangle of the
# reprojected corners; both engines evaluate the SAME mercator formula
# text (gdal2tiles.py:434-442 rendering), making the clipped corners
# bit-identical and the floor-quantized output hash-stable.
# --------------------------------------------------------------------------

_VT_SPAT = ("-9.0e1", "-4.5e1", "9.0e1", "4.5e1")  # -spat, source degrees
_VT_CSRC = ("-8.0e1", "-4.0e1", "8.5e1", "3.5e1")  # -clipsrc, source degrees
_VT_CDST = ("-8.2e6", "-4.1e6", "8.9e6", "3.7e6")  # -clipdst, EPSG:3857 m

# -spat: layer-level envelope intersect, inclusive (rect feature vs rect
# filter => the envelope test IS the exact test, ogrlayer.cpp:2287)
_VT_SPAT_COND = (
    f"(xmax >= {_VT_SPAT[0]} AND xmin <= {_VT_SPAT[2]}"
    f" AND ymax >= {_VT_SPAT[1]} AND ymin <= {_VT_SPAT[3]})"
)
_VT_WHERE_COND = "(n_chars >= 120 AND lang <> 'de')"  # -where attr filter

_VT_CSRC_STAGE = [
    ("cx0", f"greatest(xmin, {_VT_CSRC[0]})"),
    ("cy0", f"greatest(ymin, {_VT_CSRC[1]})"),
    ("cx1", f"least(xmax, {_VT_CSRC[2]})"),
    ("cy1", f"least(ymax, {_VT_CSRC[3]})"),
]
_VT_MERC_STAGE = [
    ("mx0", mercator.sql_mx("cx0")),
    ("my0", mercator.sql_my("cy0")),
    ("mx1", mercator.sql_mx("cx1")),
    ("my1", mercator.sql_my("cy1")),
]
_VT_CDST_STAGE = [
    ("dx0", f"greatest(mx0, {_VT_CDST[0]})"),
    ("dy0", f"greatest(my0, {_VT_CDST[1]})"),
    ("dx1", f"least(mx1, {_VT_CDST[2]})"),
    ("dy1", f"least(my1, {_VT_CDST[3]})"),
]
_VT_OUT = [
    ("dx0_q", "CAST(floor(dx0 * 1.0e2) AS BIGINT)"),
    ("dy0_q", "CAST(floor(dy0 * 1.0e2) AS BIGINT)"),
    ("dx1_q", "CAST(floor(dx1 * 1.0e2) AS BIGINT)"),
    ("dy1_q", "CAST(floor(dy1 * 1.0e2) AS BIGINT)"),
    ("clip_area_m2", "CAST(floor((dx1 - dx0) * (dy1 - dy0)) AS BIGINT)"),
]
_VT_KEEP = "doc_id, lang, n_chars"  # -select field list


def _vt_stage_sql(stage: list[tuple[str, str]]) -> str:
    return ", ".join(f"{expr} AS {col}" for col, expr in stage)


_VECTOR_TRANSLATE_ORACLE = f"""
WITH d AS (
  SELECT doc_id, lang, n_chars,
         {corpus.RECT_XMIN_SQL} AS xmin, {corpus.RECT_YMIN_SQL} AS ymin,
         {corpus.RECT_XMAX_SQL} AS xmax, {corpus.RECT_YMAX_SQL} AS ymax
  FROM documents
),
f AS (SELECT {_VT_KEEP}, xmin, ymin, xmax, ymax FROM d
      WHERE {_VT_SPAT_COND} AND {_VT_WHERE_COND}),
c AS (SELECT {_VT_KEEP}, {_vt_stage_sql(_VT_CSRC_STAGE)} FROM f),
c2 AS (SELECT * FROM c WHERE cx1 > cx0 AND cy1 > cy0),
m AS (SELECT {_VT_KEEP}, {_vt_stage_sql(_VT_MERC_STAGE)} FROM c2),
g AS (SELECT {_VT_KEEP}, {_vt_stage_sql(_VT_CDST_STAGE)} FROM m),
o AS (SELECT * FROM g WHERE dx1 > dx0 AND dy1 > dy0)
SELECT {_VT_KEEP}, {_vt_stage_sql(_VT_OUT)} FROM o
"""


@register("vector_translate", _VECTOR_TRANSLATE_ORACLE)
def q_vector_translate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ogr2ogr -spat -where -select -clipsrc -t_srs EPSG:3857 -clipdst
    as one plan: every stage a codegen projection/filter over a single
    scan (no Python, no shuffle); Catalyst pushes the -select pruning
    and the deterministic filter conjuncts to the parquet read."""
    df = corpus.load_polydocs(spark, sf_dir).select(
        "doc_id", "lang", "n_chars", "xmin", "ymin", "xmax", "ymax"
    )
    df = df.where(f"{_VT_SPAT_COND} AND {_VT_WHERE_COND}")
    df = df.selectExpr("doc_id", "lang", "n_chars", *[f"{e} AS {c}" for c, e in _VT_CSRC_STAGE])
    df = df.where("cx1 > cx0 AND cy1 > cy0")
    df = df.selectExpr("doc_id", "lang", "n_chars", *[f"{e} AS {c}" for c, e in _VT_MERC_STAGE])
    df = df.selectExpr("doc_id", "lang", "n_chars", *[f"{e} AS {c}" for c, e in _VT_CDST_STAGE])
    df = df.where("dx1 > dx0 AND dy1 > dy0")
    return df.selectExpr("doc_id", "lang", "n_chars", *[f"{e} AS {c}" for c, e in _VT_OUT])


# The same translate lifecycle expressed through the engine's
# `gdal vector pipeline` step-chain API (gdal_spark/pipeline.py — the
# unified CLI's '!'-separated surface, gdalalg_pipeline.cpp /
# gdal_vector_pipeline.rst:28-31).  Registered against the SAME oracle
# as `vector_translate`: the step chain must assemble into a plan that
# reproduces the one-shot query bit-for-bit — the API-composition
# parity proof.
_VT_PIPE_SPEC = (
    f"read corpus:polydocs --spat {','.join(_VT_SPAT)}"
    " ! filter n_chars >= 120 AND lang <> 'de'"
    " ! select doc_id,lang,n_chars"
    f" ! clip {','.join(_VT_CSRC)}"
    " ! reproject EPSG:3857"
    f" ! clip {','.join(_VT_CDST)}"
    " ! write stream"
)


@register("vector_pipeline", _VECTOR_TRANSLATE_ORACLE)
def q_vector_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`gdal vector pipeline read ! filter ! select ! clip ! reproject
    ! clip ! write` — every step a lazy transform, the chain one
    Catalyst plan (zero shuffle, zero Python)."""
    from gdal_spark.pipeline import run_vector_pipeline

    df = run_vector_pipeline(spark, sf_dir, _VT_PIPE_SPEC)
    return df.selectExpr(
        "doc_id",
        "lang",
        "n_chars",
        "CAST(floor(xmin * 1.0e2) AS BIGINT) AS dx0_q",
        "CAST(floor(ymin * 1.0e2) AS BIGINT) AS dy0_q",
        "CAST(floor(xmax * 1.0e2) AS BIGINT) AS dx1_q",
        "CAST(floor(ymax * 1.0e2) AS BIGINT) AS dy1_q",
        "CAST(floor((xmax - xmin) * (ymax - ymin)) AS BIGINT) AS clip_area_m2",
    )


# --------------------------------------------------------------------------
# Composed gdalwarp pipeline (apps/gdalwarp_lib.cpp lifecycle): the raster
# twin of `vector_translate` — -te/-tr target grid (dfMinX..dfMaxY +
# dfXRes/dfYRes, gdalwarp_lib.cpp:92-108), inverse -t_srs mapping of each
# destination pixel CENTER back to source coordinates (the warper's
# dst->src transformer direction), -r bilinear sampling
# (GWKBilinearResample, gdalwarpkernel.cpp:2661: iSrcX=floor(dfSrcX-0.5),
# left weight dfRatioX=1.5-(dfSrcX-iSrcX) == 1-frac), -cutline mask
# (gdalwarper.cpp:1354 CUTLINE option; applied here as the dest-center
# containment test in source coordinates — the center-sampling rule, not
# the per-source-pixel validity renormalization, documented divergence),
# -dstnodata 255 outside the cutline, Byte output rounded the unsigned
# GWKRoundValueT way: static_cast(v + 0.5) == floor(v+0.5) for v >= 0
# (gdalwarpkernel.cpp:1419-1424).
#
# Plan shape: dest grid generated by range, the whole coordinate pipeline
# one codegen projection chain, then FOUR BroadcastHashJoins against the
# source raster (the 2x2 bilinear support) — zero shuffle, zero Python.
# The -te extent maps strictly inside the source interior, so GDAL's
# edge-shift clamping (:2682-2702) is never exercised here (it is pinned
# separately by raster_probe_bilinear / the warp kernel pytest).
# --------------------------------------------------------------------------

_WP_TR = 1.0e5  # -tr (square target pixels, EPSG:3857 meters)
_WP_TE = (-1.0e7, -4.5e6, 2.0e6, 5.5e6)  # -te xmin ymin xmax ymax
_WP_W = int((_WP_TE[2] - _WP_TE[0]) / _WP_TR)  # 120
_WP_H = int((_WP_TE[3] - _WP_TE[1]) / _WP_TR)  # 100
_WP_NODATA = "2.55e2"

# L-shaped (concave) cutline as two axis-aligned rects in source degrees
_WP_CUT = (
    "((lon >= -9.5e1 AND lon <= -2.0e1 AND lat >= -3.5e1 AND lat <= 1.0e1)"
    " OR (lon >= -6.0e1 AND lon <= 1.0e1 AND lat >= -3.5e1 AND lat <= 4.5e1))"
)


def _wp_stages() -> list[tuple[str, str]]:
    st = [
        ("xm", f"(({_sd(_WP_TE[0])}) + (opx + 5.0e-1) * ({_sd(_WP_TR)}))"),
        ("ym", f"(({_sd(_WP_TE[3])}) - (opy + 5.0e-1) * ({_sd(_WP_TR)}))"),
    ]
    inv, lat_e, lon_e = epsg._to_geographic(epsg.lookup(3857), "xm", "ym")
    st += inv
    st += [("lon", f"({lon_e})"), ("lat", f"({lat_e})")]
    st += [
        ("i0", _BL_I0),
        ("j0", _BL_J0),
        ("wx", _BL_FX),
        ("wy", _BL_FY),
    ]
    return st


_WP_BL = (
    "((1.0e0 - wy) * ((1.0e0 - wx) * v00 + wx * v10)"
    " + wy * ((1.0e0 - wx) * v01 + wx * v11))"
)
_WP_OUT = (
    f"CAST(CASE WHEN {_WP_CUT} THEN floor({_WP_BL} + 5.0e-1)"
    f" ELSE {_WP_NODATA} END AS INT)"
)


def _warp_pipeline_oracle() -> str:
    dst = (
        "SELECT CAST(b.i + 1 AS INT) AS band, CAST(x.i AS INT) AS opx,"
        " CAST(y.i AS INT) AS opy"
        f" FROM range(0, {_WP_W}) x(i), range(0, {_WP_H}) y(i),"
        f" range(0, {N_BANDS}) b(i)"
    )
    sql = dst
    for col, expr in _wp_stages():
        sql = f"SELECT *, {expr} AS {col} FROM ({sql})"
    src = (
        "SELECT CAST(b.i + 1 AS INT) AS band, CAST(x.i AS INT) AS px,"
        " CAST(y.i AS INT) AS py,"
        " CAST((x.i * 7 + y.i * 13 + (b.i + 1) * 29) % 256 AS INT) AS value"
        f" FROM range(0, {SRC_W}) x(i), range(0, {SRC_H}) y(i),"
        f" range(0, {N_BANDS}) b(i)"
    )
    return f"""
WITH src AS ({src}),
f AS ({sql}),
j AS (
  SELECT f.*, s00.value AS v00, s10.value AS v10, s01.value AS v01, s11.value AS v11
  FROM f
  JOIN src s00 ON s00.band = f.band AND s00.px = f.i0 AND s00.py = f.j0
  JOIN src s10 ON s10.band = f.band AND s10.px = f.i0 + 1 AND s10.py = f.j0
  JOIN src s01 ON s01.band = f.band AND s01.px = f.i0 AND s01.py = f.j0 + 1
  JOIN src s11 ON s11.band = f.band AND s11.px = f.i0 + 1 AND s11.py = f.j0 + 1
)
SELECT band, opx, opy, {_WP_OUT} AS v FROM j
"""


@register("warp_pipeline", _warp_pipeline_oracle())
def q_warp_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp -t_srs EPSG:3857 -te -tr -r bilinear -cutline -dstnodata
    as one plan: generated dest grid -> codegen coordinate pipeline ->
    four broadcast joins fetching the 2x2 bilinear support from the
    source raster -> masked, rounded Byte output."""
    from gdal_spark.operators.raster import source_grid

    n = _WP_W * _WP_H * N_BANDS
    d = spark.range(n).selectExpr(
        f"CAST(id % {_WP_W} AS INT) AS opx",
        f"CAST(CAST(id / {_WP_W} AS BIGINT) % {_WP_H} AS INT) AS opy",
        f"CAST(id DIV {_WP_W * _WP_H} + 1 AS INT) AS band",
    )
    for col, expr in _wp_stages():
        d = d.selectExpr("*", f"{expr} AS {col}")
    src = source_grid(spark)
    for tag, di, dj in (("00", 0, 0), ("10", 1, 0), ("01", 0, 1), ("11", 1, 1)):
        s = src.selectExpr(
            f"band AS b{tag}", f"px AS x{tag}", f"py AS y{tag}", f"value AS v{tag}"
        )
        d = d.join(
            F.broadcast(s),
            F.expr(f"b{tag} = band AND x{tag} = i0 + {di} AND y{tag} = j0 + {dj}"),
        ).drop(f"b{tag}", f"x{tag}", f"y{tag}")
    return d.selectExpr("band", "opx", "opy", f"{_WP_OUT} AS v")


# --------------------------------------------------------------------------
# MIXED `gdal pipeline` (apps/gdalalg_pipeline.cpp; the unified CLI's
# vector+raster chains): vector layer -> rasterize bridge -> raster
# steps, one declarative chain.  The rasterize stage is the engine's
# oracle-checked burn-attribute kernel (rasterize_attr); the raster
# suffix reuses the SAME dual-rendered step compiler as
# `raster_pipeline`, so the whole mixed oracle is the burn-pixel SQL
# spliced into the identical step program.
# --------------------------------------------------------------------------

_MIX_SPEC = (
    "read zones:rect ! rasterize 2 ! resize 2 ! scale 1,255,0,100 ! write stream"
)


def _mixed_pipeline_oracle() -> str:
    from gdal_spark.pipeline import render_mixed_pipeline_sql

    burn = f"""{_RAST_PX_CTE}
SELECT CAST(1 AS INT) AS band, CAST(tx * 256 + ci AS INT) AS px,
       CAST({(1 << _RZOOM) * 256 - 1} - (ty * 256 + rj) AS INT) AS py,
       CAST(max(zone_id) % 255 + 1 AS INT) AS value
FROM hit GROUP BY tx, ty, ci, rj"""
    return render_mixed_pipeline_sql(_MIX_SPEC, burn)


@register("mixed_pipeline", _mixed_pipeline_oracle())
def q_mixed_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`gdal pipeline read zones ! rasterize 2 ! resize 2 ! scale !
    write` — the vector->raster bridge in the step-chain API."""
    from gdal_spark.pipeline import run_mixed_pipeline

    return run_mixed_pipeline(spark, _MIX_SPEC)


# The REVERSE bridge: raster -> polygonize -> vector steps.  Filter and
# select text is shared verbatim between the runner and this oracle
# wrapper over the closed-form polygonize oracle.
_PGP_FILTER = "value IN (1, 2) AND n_pixels >= 1"
_PGP_FIELDS = "label,value,n_pixels,pxmin,pymin,pxmax,pymax"
_PGP_SPEC = (
    "read raster:pgfix ! polygonize"
    f" ! filter {_PGP_FILTER} ! select {_PGP_FIELDS} ! write stream"
)

_PGP_ORACLE = (
    f"SELECT {_PGP_FIELDS.replace(',', ', ')} FROM ({_POLYGONIZE_ORACLE}) p"
    f" WHERE {_PGP_FILTER}"
)


@register("polygonize_pipeline", _PGP_ORACLE)
def q_polygonize_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`gdal pipeline read <raster> ! polygonize ! filter ! select !
    write` — connected components become vector features mid-chain."""
    from gdal_spark.pipeline import run_raster_vector_pipeline

    px_df = spark.range(_PG_W * _PG_H).select(
        (F.col("id") % _PG_W).cast("int").alias("px"),
        ((F.col("id") - (F.col("id") % _PG_W)) / _PG_W).cast("int").alias("py"),
    )
    px_df = px_df.withColumn("value", F.expr(_PG_VALUE_SQL).cast("long"))
    return run_raster_vector_pipeline(spark, _PGP_SPEC, px_df, _PG_W, _PG_H)


# --------------------------------------------------------------------------
# Temporal joins (driver-mandated custom operators the reference lacks:
# as-of join, range join — event-attribution primitives).  asof_join is
# the UNION-MERGE construction (one shuffle+sort per key, running
# last-IGNORE-NULLS window), the scalable shape of DuckDB's native
# ASOF JOIN, which the oracle uses directly — a true cross-
# implementation check.  range_join_time is the bucketed range join
# (explode to 2 candidate buckets, equi-join, exact filter) vs the
# oracle's plain inequality join.
# --------------------------------------------------------------------------

_ASOF_ORACLE = """
WITH v AS (
  SELECT user_id, ts, max(event_id) AS ref_id
  FROM events WHERE event_type = 'view' GROUP BY user_id, ts
),
c AS (SELECT event_id AS probe_id, user_id, ts FROM events WHERE event_type = 'click')
SELECT c.probe_id, c.user_id, epoch_us(c.ts) AS ts_us, v.ref_id
FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.ts >= v.ts
"""


@register("asof_join", _ASOF_ORACLE)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest 'view' at or before each 'click' per user — the as-of
    attribution join."""
    from gdal_spark.operators.temporal import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.filter("event_type = 'click'").select(
        F.col("event_id").alias("probe_id"), "user_id", "ts"
    )
    views = ev.filter("event_type = 'view'").select(
        "user_id", "ts", F.col("event_id").alias("ref_id")
    )
    out = asof_join(clicks, views)
    return out.select(
        "probe_id", "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "ref_id",
    )


_RANGE_TIME_ORACLE = """
WITH e AS (SELECT event_id AS probe_id, user_id, ts FROM events WHERE event_type = 'error'),
v AS (SELECT user_id, ts FROM events WHERE event_type = 'view')
SELECT e.probe_id, e.user_id, epoch_us(e.ts) AS ts_us,
       CAST(count(v.ts) AS BIGINT) AS n_in_window
FROM e LEFT JOIN v ON e.user_id = v.user_id
  AND epoch_us(v.ts) > epoch_us(e.ts) - 86400000000
  AND epoch_us(v.ts) <= epoch_us(e.ts)
GROUP BY e.probe_id, e.user_id, e.ts
"""


@register("range_join_time", _RANGE_TIME_ORACLE)
def q_range_join_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per 'error' event, count of same-user 'view' events in the
    preceding day (half-open window] — bucketed range join; the fixture
    window is chosen so ~36% of probes have hits (max 5)."""
    from gdal_spark.operators.temporal import range_join_time

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    errs = ev.filter("event_type = 'error'").select(
        F.col("event_id").alias("probe_id"), "user_id", "ts"
    )
    views = ev.filter("event_type = 'view'").select("user_id", "ts")
    out = range_join_time(errs, views, window_s=86400)
    return out.select(
        "probe_id", "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "n_in_window",
    )


# --------------------------------------------------------------------------
# Hypertable-style cascading time rollup (the TimescaleDB continuous-
# aggregate shape, driver-mandated): the DAY level aggregates FROM the
# HOUR rollup, never re-reading the raw corpus — at 100 TB the second
# level reads |users|x|hours| rows, not events.  Value sums run on
# centi-quantized BIGINTs so every aggregate is order-proof (the same
# rule as kmeans_embed/local_supplier_volume).  Epoch-aligned buckets:
# day = hour DIV 24 exactly.
# --------------------------------------------------------------------------

_ROLLUP_ORACLE = """
WITH h AS (
  SELECT user_id,
         CAST(floor(epoch_us(ts) / 3600000000.0) AS BIGINT) AS bucket,
         count(*) AS n_events,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c
  FROM events GROUP BY 1, 2
)
SELECT 'hour' AS level, user_id, bucket, n_events, sum_value_c FROM h
UNION ALL
SELECT 'day' AS level, user_id,
       CAST(floor(bucket / 24.0) AS BIGINT) AS bucket,
       CAST(sum(n_events) AS BIGINT) AS n_events,
       CAST(sum(sum_value_c) AS BIGINT) AS sum_value_c
FROM h GROUP BY 2, 3
"""


@register("time_rollup", _ROLLUP_ORACLE)
def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cascading (user, hour) -> (user, day) rollup; the day level
    consumes the persisted hour rollup, one shuffle each."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    hour = (
        ev.groupBy(
            "user_id",
            F.expr(
                "CAST(floor(unix_micros(CAST(ts AS TIMESTAMP)) / 3600000000.0) AS BIGINT)"
            ).alias("bucket"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("sum_value_c"),
        )
        .persist()
    )
    day = hour.groupBy(
        "user_id",
        F.expr("CAST(floor(bucket / 24.0) AS BIGINT)").alias("bucket"),
    ).agg(
        F.sum("n_events").alias("n_events"),
        F.sum("sum_value_c").alias("sum_value_c"),
    )
    return hour.select(
        F.lit("hour").alias("level"), "user_id", "bucket", "n_events", "sum_value_c"
    ).unionByName(
        day.select(
            F.lit("day").alias("level"), "user_id", "bucket", "n_events", "sum_value_c"
        )
    )


# --------------------------------------------------------------------------
# ogrtindex / `gdal vector index` (apps/gdalalg_vector_index.cpp:706-715):
# one feature per source layer — LOCATION = "dataset,layerIdx"
# (:521-524 CPLOPrintf("%s,%d")) and geometry = the layer extent as the
# OGRPolygon(envelope) 5-point ring (ogrpolygon.cpp:40-48 vertex order
# (x1,y1)(x1,y2)(x2,y2)(x2,y1)(x1,y1)).  Each extent is one partial-agg
# reduction over its layer (map-side combine, no wide shuffle); WKT
# coordinates printed '%.4f' — identical text from Java's format_string
# and DuckDB's printf on the corpus's 1e-3 lattice (never a half-ulp tie
# at the 4th decimal).
# --------------------------------------------------------------------------


def _tindex_wkt(fmt: str) -> str:
    def p(x: str, y: str) -> str:
        return f"{fmt}('%.4f', {x}) || ' ' || {fmt}('%.4f', {y})"

    ring = " || ',' || ".join(
        [
            p("minx", "miny"),
            p("minx", "maxy"),
            p("maxx", "maxy"),
            p("maxx", "miny"),
            p("minx", "miny"),
        ]
    )
    return f"'POLYGON ((' || {ring} || '))'"


_TINDEX_LAYERS = [
    ("documents.parquet,0", "pd", "xmin", "ymin", "xmax", "ymax"),
    ("documents.parquet,1", "dd", "lon", "lat", "lon", "lat"),
    ("zones://rect,0", "zz", "zxmin", "zymin", "zxmax", "zymax"),
]


def _ogr_tindex_oracle() -> str:
    parts = []
    for loc, src, x0, y0, x1, y1 in _TINDEX_LAYERS:
        ext = (
            f"SELECT min({x0}) AS minx, min({y0}) AS miny,"
            f" max({x1}) AS maxx, max({y1}) AS maxy FROM {src}"
        )
        parts.append(
            f"SELECT '{loc}' AS location, {_tindex_wkt('printf')} AS wkt"
            f" FROM ({ext}) e"
        )
    return (
        f"WITH pd AS ({corpus.duckdb_polydocs_cte()}),\n"
        f"dd AS ({_DOCS_CTE}),\n"
        f"zz AS ({zones.duckdb_zones_cte()})\n" + "\nUNION ALL\n".join(parts)
    )


@register("ogr_tindex", _ogr_tindex_oracle())
def q_ogr_tindex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector tile index: one (LOCATION, extent-polygon WKT) feature per
    source layer; each layer's extent is one map-side-combined min/max
    aggregation."""
    from functools import reduce

    srcs = {
        "pd": corpus.load_polydocs(spark, sf_dir),
        "dd": corpus.load_docs(spark, sf_dir),
        "zz": zones.rect_zones(spark),
    }
    parts = []
    for loc, src, x0, y0, x1, y1 in _TINDEX_LAYERS:
        ext = srcs[src].selectExpr(
            f"{x0} AS _x0", f"{y0} AS _y0", f"{x1} AS _x1", f"{y1} AS _y1"
        ).agg(
            F.min("_x0").alias("minx"),
            F.min("_y0").alias("miny"),
            F.max("_x1").alias("maxx"),
            F.max("_y1").alias("maxy"),
        )
        parts.append(
            ext.selectExpr(
                f"'{loc}' AS location",
                f"{_tindex_wkt('format_string')} AS wkt",
            )
        )
    return reduce(DataFrame.unionAll, parts)


# --------------------------------------------------------------------------
# gdal raster unscale / gdal_translate -unscale
# (apps/gdalalg_raster_unscale.cpp; gdal_translate_lib.cpp:2253-2254
# reads per-band GetScale()/GetOffset()): unscaled = value*scale + offset.
# Scale/offset are per-band METADATA, modeled as a broadcast dim table
# (the mapping is data, like `reclassify`); constants are exact binary
# fractions so the product is IEEE-exact and the floor-quantized output
# hash-stable.
# --------------------------------------------------------------------------

_UNSCALE_BANDS = "(1, 2.0e0, 1.0e1), (2, 5.0e-1, -3.0e0), (3, 2.5e-1, 0.0e0)"

_RASTER_UNSCALE_ORACLE = f"""
WITH src AS (
  SELECT CAST(b.i + 1 AS INT) AS band, CAST(x.i AS INT) AS px, CAST(y.i AS INT) AS py,
         CAST((x.i * 7 + y.i * 13 + (b.i + 1) * 29) % 256 AS INT) AS value
  FROM range(0, {SRC_W}) x(i), range(0, {SRC_H}) y(i), range(0, {N_BANDS}) b(i)
),
so AS (SELECT * FROM (VALUES {_UNSCALE_BANDS}) t(sband, bscale, boff))
SELECT band, px, py,
       CAST(floor((value * bscale + boff) * 1.0e4) AS BIGINT) AS v4
FROM src JOIN so ON so.sband = src.band
WHERE px < 40 AND py < 25
"""


@register("raster_unscale", _RASTER_UNSCALE_ORACLE)
def q_raster_unscale(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.raster import source_grid

    so = spark.createDataFrame(
        [(1, 2.0, 10.0), (2, 0.5, -3.0), (3, 0.25, 0.0)],
        "sband int, bscale double, boff double",
    )
    src = source_grid(spark).where("px < 40 AND py < 25")
    return src.join(F.broadcast(so), F.expr("sband = band")).selectExpr(
        "band",
        "px",
        "py",
        "CAST(floor((value * bscale + boff) * 1.0e4) AS BIGINT) AS v4",
    )


# --------------------------------------------------------------------------
# `gdal raster pipeline` step-chain API (gdal_raster_pipeline.rst:35-195)
# — the raster twin of `vector_pipeline`.  The step compiler in
# gdal_spark/pipeline.py emits ONE op list consumed by BOTH the Spark
# runner and the DuckDB SQL renderer, so the oracle below is literally
# the same program: -srcwin clip, band select (renumbered), unscale,
# -scale to Byte, integer-factor NN resize, all fused into one codegen
# projection chain over the source scan.
# --------------------------------------------------------------------------

_RP_SPEC = (
    "read raster:source ! clip 50,30,250,130 ! select 2,3"
    " ! unscale 5.0e-1,-3.0e0 ! scale 7,107,0,255 ! resize 2"
    " ! calc value * 2 - value % 3 ! set-type int ! write stream"
)


def _raster_pipeline_oracle() -> str:
    from gdal_spark.pipeline import render_raster_pipeline_sql

    src = (
        f"SELECT band, px, py, CAST({_SRC_VAL} AS INT) AS value"
        f" FROM ({_SRC_GRID_CTE}) s"
    )
    return render_raster_pipeline_sql(_RP_SPEC, src)


@register("raster_pipeline", _raster_pipeline_oracle())
def q_raster_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`gdal raster pipeline read ! clip ! select ! unscale ! scale !
    resize ! write` — every step a lazy per-pixel transform, the chain
    one whole-stage-codegen plan over the source scan."""
    from gdal_spark.pipeline import run_raster_pipeline

    return run_raster_pipeline(spark, _RP_SPEC)


# Non-linear -exponent scaling (gdal_translate -scale -exponent /
# `gdal raster scale --exponent`, VRTComplexSource power path,
# vrtsources.cpp:3623-3636): ratio clipped to [0,1], ^p, affine to the
# dst range.  Integer p unrolls to repeated multiplication in the
# compiler — no libm pow(), so the engines stay bit-identical.
# src values span 0..255, so smin=20/smax=235 makes BOTH clip branches
# of the ratio (the reference's m_bClip) fire on real pixels
_RP_EXP_SPEC = (
    "read raster:source ! clip 40,20,240,120 ! select 1,3"
    " ! scale-exp 20,235,10,240,2 ! resize 2 ! write stream"
)


def _raster_pipeline_exp_oracle() -> str:
    from gdal_spark.pipeline import render_raster_pipeline_sql

    src = (
        f"SELECT band, px, py, CAST({_SRC_VAL} AS INT) AS value"
        f" FROM ({_SRC_GRID_CTE}) s"
    )
    return render_raster_pipeline_sql(_RP_EXP_SPEC, src)


@register("raster_pipeline_exp", _raster_pipeline_exp_oracle())
def q_raster_pipeline_exp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.pipeline import run_raster_pipeline

    return run_raster_pipeline(spark, _RP_EXP_SPEC)


# Duplicate band selection (gdal_translate -b 3 -b 2 -b 2 — one source
# band feeding several output bands, the gray→RGB expansion shape): the
# renumbering CASE cannot express it, so the compiler emits a UNION ALL
# fan-out (one branch per OUTPUT band) in both the runner and the SQL
# renderer; a calc step after the expand proves the chain continues.
_RP_BANDS_SPEC = (
    "read raster:source ! clip 60,40,200,120 ! select 3,2,2"
    " ! calc value * 3 % 251 ! write stream"
)


def _raster_pipeline_bands_oracle() -> str:
    from gdal_spark.pipeline import render_raster_pipeline_sql

    src = (
        f"SELECT band, px, py, CAST({_SRC_VAL} AS INT) AS value"
        f" FROM ({_SRC_GRID_CTE}) s"
    )
    return render_raster_pipeline_sql(_RP_BANDS_SPEC, src)


@register("raster_pipeline_bands", _raster_pipeline_bands_oracle())
def q_raster_pipeline_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.pipeline import run_raster_pipeline

    return run_raster_pipeline(spark, _RP_BANDS_SPEC)


# -r average resize (gdal_translate -outsize 50% -r average; the proven
# overview floor(mean+0.5) rounding, partial edge blocks averaging
# their ACTUAL contributors): the compiler's one aggregating step.  The
# odd 201x101 clip makes the right/bottom partial-block (count < k²)
# path run for real; a calc step after proves the chain continues past
# the aggregation.
_RP_AVG_SPEC = (
    "read raster:source ! clip 40,20,241,121 ! select 2"
    " ! resize-avg 2 ! calc value * 5 % 247 ! write stream"
)


def _raster_pipeline_avg_oracle() -> str:
    from gdal_spark.pipeline import render_raster_pipeline_sql

    src = (
        f"SELECT band, px, py, CAST({_SRC_VAL} AS INT) AS value"
        f" FROM ({_SRC_GRID_CTE}) s"
    )
    return render_raster_pipeline_sql(_RP_AVG_SPEC, src)


@register("raster_pipeline_avg", _raster_pipeline_avg_oracle())
def q_raster_pipeline_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.pipeline import run_raster_pipeline

    return run_raster_pipeline(spark, _RP_AVG_SPEC)


# --------------------------------------------------------------------------
# gdalbuildvrt heterogeneous-grid composite
# (apps/gdalbuildvrt_lib.cpp): union extent across sources,
# -resolution highest = min(we_res) / max(ns_res) (:1014-1018), each
# source placed on the target grid as a VRT SimpleSource (nearest
# lookup), sources composited IN LIST ORDER with the LAST one on top in
# overlap areas (doc/source/programs/gdalbuildvrt.rst:73,162) and
# -srcnodata pixels transparent.  Three generated sources with different
# origins AND resolutions (1.0 / 0.5 / 2.0 deg px); every coordinate is
# an exact binary fraction, so the center->source-index floor math is
# IEEE-exact in both engines.  Plan: dest grid from range, index math in
# codegen, three LEFT BroadcastHashJoins, coalesce — zero shuffle.
# --------------------------------------------------------------------------

# (name, x0, y0_top, res, W, H, value formula coefs (a,b,c), nodata)
_BV_SOURCES = [
    ("s1", 0.0, 40.0, 1.0, 60, 40, (3, 5, 17), None),
    ("s2", 30.0, 40.0, 0.5, 80, 60, (7, 11, 29), 0),
    ("s3", -20.0, 40.0, 2.0, 30, 25, (13, 3, 41), None),
]
_BV_X0, _BV_Y1, _BV_RES = -20.0, 40.0, 0.5  # union extent + highest res
_BV_W, _BV_H = 180, 100


def _bv_src_sql(name: str) -> str:
    _, x0, y1, r, w, h, (a, b, c), _nd = next(
        s for s in _BV_SOURCES if s[0] == name
    )
    return (
        f"SELECT CAST(x.i AS INT) AS px, CAST(y.i AS INT) AS py,"
        f" CAST((x.i * {a} + y.i * {b} + {c}) % 256 AS INT) AS value"
        f" FROM range(0, {w}) x(i), range(0, {h}) y(i)"
    )


def _bv_dest_stages() -> list[tuple[str, str]]:
    st = [
        ("xc", f"({_sd(_BV_X0)} + (opx + 5.0e-1) * {_sd(_BV_RES)})"),
        ("yc", f"({_sd(_BV_Y1)} - (opy + 5.0e-1) * {_sd(_BV_RES)})"),
    ]
    for name, x0, y1, r, w, h, _coefs, _nd in _BV_SOURCES:
        st += [
            (f"{name}x", f"CAST(floor((xc - {_sd(x0)}) / {_sd(r)}) AS BIGINT)"),
            (f"{name}y", f"CAST(floor(({_sd(y1)} - yc) / {_sd(r)}) AS BIGINT)"),
        ]
    return st


# last source on top; srcnodata 0 makes s2's zero pixels transparent
_BV_OUT = "coalesce(v_s3, CASE WHEN v_s2 <> 0 THEN v_s2 END, v_s1)"


def _buildvrt_oracle() -> str:
    dst = (
        f"SELECT CAST(x.i AS INT) AS opx, CAST(y.i AS INT) AS opy"
        f" FROM range(0, {_BV_W}) x(i), range(0, {_BV_H}) y(i)"
    )
    sql = dst
    for col, expr in _bv_dest_stages():
        sql = f"SELECT *, {expr} AS {col} FROM ({sql})"
    joins, withs = "", []
    for name, _x0, _y1, _r, w, h, _coefs, _nd in _BV_SOURCES:
        withs.append(f"{name} AS ({_bv_src_sql(name)})")
        joins += (
            f" LEFT JOIN {name} ON {name}.px = f.{name}x AND {name}.py = f.{name}y"
        )
    sel = ", ".join(f"{s[0]}.value AS v_{s[0]}" for s in _BV_SOURCES)
    return f"""
WITH {', '.join(withs)},
f AS ({sql}),
j AS (SELECT f.opx, f.opy, {sel} FROM f{joins})
SELECT opx, opy, CAST({_BV_OUT} AS INT) AS v FROM j
"""


@register("buildvrt", _buildvrt_oracle())
def q_buildvrt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalbuildvrt -resolution highest over three sources with
    different origins and pixel sizes: union-extent dest grid, nearest
    SimpleSource lookup per source, last-listed-wins composite with
    srcnodata transparency — three LEFT broadcast joins, zero shuffle."""
    d = spark.range(_BV_W * _BV_H).selectExpr(
        f"CAST(id % {_BV_W} AS INT) AS opx",
        f"CAST(id DIV {_BV_W} AS INT) AS opy",
    )
    for col, expr in _bv_dest_stages():
        d = d.selectExpr("*", f"{expr} AS {col}")
    for name, _x0, _y1, _r, w, h, (a, b, c), _nd in _BV_SOURCES:
        s = spark.range(w * h).selectExpr(
            f"CAST(id % {w} AS INT) AS {name}_px",
            f"CAST(id DIV {w} AS INT) AS {name}_py",
            f"CAST(((id % {w}) * {a} + (id DIV {w}) * {b} + {c}) % 256 AS INT)"
            f" AS v_{name}",
        )
        d = d.join(
            F.broadcast(s),
            F.expr(f"{name}_px = {name}x AND {name}_py = {name}y"),
            "left",
        ).drop(f"{name}_px", f"{name}_py")
    return d.selectExpr("opx", "opy", f"CAST({_BV_OUT} AS INT) AS v")


# gdalbuildvrt -separate (gdalbuildvrt_lib.cpp bSeparate; rst: "Place
# each input file into a separate band"): no compositing — band k is
# source k's nearest-lookup on the union grid, NULL outside its extent
# (srcnodata stays band METADATA in this mode, so s2's zeros survive);
# same dest-grid/index-math/broadcast-join machinery as `buildvrt`.
def _buildvrt_separate_oracle() -> str:
    dst = (
        f"SELECT CAST(x.i AS INT) AS opx, CAST(y.i AS INT) AS opy"
        f" FROM range(0, {_BV_W}) x(i), range(0, {_BV_H}) y(i)"
    )
    sql = dst
    for col, expr in _bv_dest_stages():
        sql = f"SELECT *, {expr} AS {col} FROM ({sql})"
    joins, withs = "", []
    for name, _x0, _y1, _r, w, h, _coefs, _nd in _BV_SOURCES:
        withs.append(f"{name} AS ({_bv_src_sql(name)})")
        joins += (
            f" LEFT JOIN {name} ON {name}.px = f.{name}x AND {name}.py = f.{name}y"
        )
    sel = ", ".join(f"{s[0]}.value AS v_{s[0]}" for s in _BV_SOURCES)
    branches = " UNION ALL ".join(
        f"SELECT CAST({i + 1} AS INT) AS band, opx, opy,"
        f" CAST(v_{s[0]} AS INT) AS v FROM j"
        for i, s in enumerate(_BV_SOURCES)
    )
    return f"""
WITH {', '.join(withs)},
f AS ({sql}),
j AS (SELECT f.opx, f.opy, {sel} FROM f{joins})
{branches}
"""


@register("buildvrt_separate", _buildvrt_separate_oracle())
def q_buildvrt_separate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce as _reduce

    d = spark.range(_BV_W * _BV_H).selectExpr(
        f"CAST(id % {_BV_W} AS INT) AS opx",
        f"CAST(id DIV {_BV_W} AS INT) AS opy",
    )
    for col, expr in _bv_dest_stages():
        d = d.selectExpr("*", f"{expr} AS {col}")
    for name, _x0, _y1, _r, w, h, (a, b, c), _nd in _BV_SOURCES:
        s = spark.range(w * h).selectExpr(
            f"CAST(id % {w} AS INT) AS {name}_px",
            f"CAST(id DIV {w} AS INT) AS {name}_py",
            f"CAST(((id % {w}) * {a} + (id DIV {w}) * {b} + {c}) % 256 AS INT)"
            f" AS v_{name}",
        )
        d = d.join(
            F.broadcast(s),
            F.expr(f"{name}_px = {name}x AND {name}_py = {name}y"),
            "left",
        ).drop(f"{name}_px", f"{name}_py")
    outs = [
        d.selectExpr(
            f"CAST({i + 1} AS INT) AS band", "opx", "opy",
            f"CAST(v_{s[0]} AS INT) AS v",
        )
        for i, s in enumerate(_BV_SOURCES)
    ]
    return _reduce(DataFrame.unionByName, outs)


# --------------------------------------------------------------------------
# gdal raster update (apps/gdalalg_raster_update.cpp): warp a source
# raster into an existing destination — dst pixels take the NN source
# sample where the center lies inside the source extent AND the
# clipping geometry (:84-93), srcnodata transparent; then drive a
# PARTIAL overview refresh over the source-extent bbox (:137-188 →
# gdalalg_raster_overview_refresh.cpp:397).  Fixture: half-resolution
# source at a fractional origin over the band-1 grid, concave holed
# rectilinear cutline (closed-form containment — the general ray-cast
# cutline path is covered by cutline_crop).
# --------------------------------------------------------------------------
from gdal_spark.operators.raster import (  # noqa: E402
    UPD_CUTLINE_PRED,
    UPD_KEY_X,
    UPD_KEY_Y,
    UPD_NODATA,
    UPD_OX,
    UPD_OY,
    UPD_RES,
    UPD_H as _UPD_H,
    UPD_W as _UPD_W,
    refresh_window,
)

_UPD_DST_CTE = (
    f"SELECT px, py, CAST({_SRC_VAL} AS int) AS value"
    f" FROM ({_SRC_GRID_CTE}) g WHERE band = 1"
)
_UPD_SRC_CTE = f"""
SELECT CAST(i % {_UPD_W} AS BIGINT) AS sx,
       CAST((i - (i % {_UPD_W})) / {_UPD_W} AS BIGINT) AS sy,
       CAST(((i % {_UPD_W}) * 11
             + CAST((i - (i % {_UPD_W})) / {_UPD_W} AS BIGINT) * 3 + 5) % 256
            AS int) AS value
FROM range(0, {_UPD_W * _UPD_H}) t(i)
"""

_UPDATE_ORACLE = f"""
WITH dst AS ({_UPD_DST_CTE}),
src AS ({_UPD_SRC_CTE}),
k AS (
  SELECT px, py, value, {UPD_KEY_X} AS _sx, {UPD_KEY_Y} AS _sy FROM dst
),
j AS (
  SELECT k.px, k.py, k.value, s.value AS src_value
  FROM k LEFT JOIN src s ON s.sx = k._sx AND s.sy = k._sy
)
SELECT px, py,
       CAST(CASE WHEN {UPD_CUTLINE_PRED}
                  AND src_value IS NOT NULL AND src_value <> {UPD_NODATA}
                 THEN src_value ELSE value END AS int) AS value
FROM j
"""


@register("raster_update", _UPDATE_ORACLE)
def q_raster_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal raster update: NN warp of the patch into the base raster,
    cutline-masked, srcnodata-transparent; ONE broadcast equi-join on
    the computed source key, everything else codegen."""
    from gdal_spark.operators.raster import raster_update, source_grid, update_src

    dst = source_grid(spark).filter(F.col("band") == 1).select("px", "py", "value")
    return raster_update(dst, update_src(spark))


_UPD_WIN = refresh_window(
    UPD_OX, UPD_OY, UPD_OX + _UPD_W * UPD_RES, UPD_OY + _UPD_H * UPD_RES
)
_OVR_HALVE = (
    "SELECT CAST(floor(px / 2.0e0) AS BIGINT) AS opx,"
    " CAST(floor(py / 2.0e0) AS BIGINT) AS opy,"
    " CAST(floor(sum(value) / 4.0e0 + 5.0e-1) AS int) AS value"
    " FROM {src} GROUP BY 1, 2"
)

_OVR_REFRESH_ORACLE = f"""
WITH dst AS ({_UPD_DST_CTE}),
src AS ({_UPD_SRC_CTE}),
k AS (
  SELECT px, py, value, {UPD_KEY_X} AS _sx, {UPD_KEY_Y} AS _sy FROM dst
),
j AS (
  SELECT k.px, k.py, k.value, s.value AS src_value
  FROM k LEFT JOIN src s ON s.sx = k._sx AND s.sy = k._sy
),
upd AS (
  SELECT px, py,
         CAST(CASE WHEN {UPD_CUTLINE_PRED}
                    AND src_value IS NOT NULL AND src_value <> {UPD_NODATA}
                   THEN src_value ELSE value END AS int) AS value
  FROM j
),
old_o AS ({_OVR_HALVE.format(src="dst")}),
new_o AS (
  {_OVR_HALVE.format(
      src=f"(SELECT * FROM upd WHERE px >= {2 * _UPD_WIN[0]} AND px < {2 * _UPD_WIN[1]}"
          f" AND py >= {2 * _UPD_WIN[2]} AND py < {2 * _UPD_WIN[3]}) w"
  )}
)
SELECT opx, opy, value, 0 AS refreshed FROM old_o
WHERE NOT (opx >= {_UPD_WIN[0]} AND opx < {_UPD_WIN[1]}
           AND opy >= {_UPD_WIN[2]} AND opy < {_UPD_WIN[3]})
UNION ALL
SELECT opx, opy, value, 1 AS refreshed FROM new_o
"""


@register("overview_refresh", _OVR_REFRESH_ORACLE)
def q_overview_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial overview refresh after a raster update
    (gdalalg_raster_overview_refresh.cpp:397 block-aligned window):
    only overview blocks under the update bbox are recomputed from the
    updated base; stale rows outside pass through — the recompute scan
    reads only the dirty window."""
    from gdal_spark.operators.raster import (
        overview_grid,
        overview_refresh,
        raster_update,
        source_grid,
        update_src,
    )

    dst = source_grid(spark).filter(F.col("band") == 1).select("px", "py", "value")
    upd = raster_update(dst, update_src(spark))
    return overview_refresh(overview_grid(dst), upd, _UPD_WIN)


# --------------------------------------------------------------------------
# BM25 relevance scoring over the document corpus (Robertson/Sparck
# Jones; the Lucene BM25Similarity formulation with the +1 idf guard) —
# the search-scoring primitive a training-data pipeline uses for
# query-based decontamination and quality slicing.  Everything is one
# token explode + three shrinking aggregates; corpus-level stats
# (n_docs, sum_dl) ride in on a broadcast 1-row dim.  Per-(doc, term)
# scores are ppm-quantized to BIGINT BEFORE the per-doc sum, so the
# final aggregate is order-proof (memory: spark-duckdb-parity).
# --------------------------------------------------------------------------
_BM25_TERMS = ("spark", "merge", "customer", "scan")
_BM25_IN = ", ".join(f"'{t}'" for t in _BM25_TERMS)
# k1 = 1.2, b = 0.75; dl/avgdl expressed as dl*n_docs/sum_dl (one
# division instead of two — identical text both engines)
_BM25_TERM_PPM = (
    "CAST(floor("
    "ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 5.0e-1)"
    " / (CAST(df AS DOUBLE) + 5.0e-1) + 1.0e0)"
    " * (CAST(tf AS DOUBLE) * (1.2e0 + 1.0e0))"
    " / (CAST(tf AS DOUBLE) + 1.2e0 * (1.0e0 - 7.5e-1"
    "    + 7.5e-1 * CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE)"
    "      / CAST(sum_dl AS DOUBLE)))"
    " * 1.0e6 + 5.0e-1) AS BIGINT)"
)

_BM25_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
g AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
tf AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
  FROM toks WHERE w IN ({_BM25_IN}) GROUP BY doc_id, w
),
df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
x AS (
  SELECT tf.doc_id, {_BM25_TERM_PPM} AS term_ppm
  FROM tf JOIN df USING (w) JOIN dl USING (doc_id) CROSS JOIN g
)
SELECT doc_id, CAST(count(*) AS int) AS n_terms,
       CAST(sum(term_ppm) AS BIGINT) AS score_ppm
FROM x GROUP BY doc_id
"""


@register("bm25_score", _BM25_ORACLE)
def q_bm25_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 over documents for a fixed query-term set, in WIDE form:
    because |Q| is a small constant, dl and every per-term tf come out
    of ONE groupBy(doc_id) (tf_i = sum(when(w = t_i))), and the corpus
    stats (n_docs, sum_dl) plus every per-term df collapse into ONE
    broadcast 1-row dim; the scores are then pure codegen.  Exactly one
    corpus-sized shuffle at 100 TB — the long-form tf⋈dl join (an extra
    corpus shuffle + join) is what this shape deletes.  Same math as
    the long-form oracle: per-term ppm quantization, then an exact
    BIGINT sum."""
    toks = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    )
    per = toks.groupBy("doc_id").agg(
        F.count("*").alias("dl"),
        *[
            F.sum(F.when(F.col("w") == t, 1).otherwise(0)).alias(f"tf_{i}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    )
    g = per.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum(F.when(F.col(f"tf_{i}") > 0, 1).otherwise(0)).alias(f"df_{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    term_ppm = [
        _BM25_TERM_PPM.replace("tf", f"tf_{i}").replace("df", f"df_{i}")
        for i in range(len(_BM25_TERMS))
    ]
    score = " + ".join(
        f"(CASE WHEN tf_{i} > 0 THEN {t} ELSE CAST(0 AS BIGINT) END)"
        for i, t in enumerate(term_ppm)
    )
    n_terms = " + ".join(
        f"(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END)"
        for i in range(len(_BM25_TERMS))
    )
    return (
        per.crossJoin(F.broadcast(g))
        .select(
            "doc_id",
            F.expr(n_terms).cast("int").alias("n_terms"),
            F.expr(score).alias("score_ppm"),
        )
        .filter(F.col("n_terms") > 0)
    )


# --------------------------------------------------------------------------
# Hybrid-retrieval reciprocal-rank fusion (RRF, Cormack et al. 2009 —
# the standard lexical+semantic fusion a retrieval-augmented training
# pipeline runs): BM25 ranking over documents fused with cosine ranking
# against a fixed query embedding (vec 0).  100 TB shape: each system
# produces a DISTRIBUTED top-K first (orderBy+limit plans as
# TakeOrderedAndProject — partial per-partition top-K, no global rank
# window over the corpus); ranks, the full-outer fusion join, and the
# final top-N then run over two bounded K-row lists.  The RRF term
# 1/(60+rank) is floor-quantized to BIGINT micro-units so the fused sum
# is an exact integer in both engines.
# --------------------------------------------------------------------------
_RRF_KSYS = 50  # per-system candidate list size
_RRF_TOPN = 20


def _rrf_u(col: str) -> str:
    return f"CAST(floor(1.0e9 / (6.0e1 + CAST({col} AS DOUBLE))) AS BIGINT)"


_RRF_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
g AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
tf AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
  FROM toks WHERE w IN ({_BM25_IN}) GROUP BY doc_id, w
),
df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
x AS (
  SELECT tf.doc_id, {_BM25_TERM_PPM} AS term_ppm
  FROM tf JOIN df USING (w) JOIN dl USING (doc_id) CROSS JOIN g
),
bm AS (SELECT doc_id, CAST(sum(term_ppm) AS BIGINT) AS score_ppm
       FROM x GROUP BY doc_id),
lex AS (
  SELECT doc_id, r FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY score_ppm DESC, doc_id) AS r
    FROM bm
  ) WHERE r <= {_RRF_KSYS}
),
sem0 AS (
  SELECT e.vec_id AS doc_id,
         list_cosine_similarity(
           e.embedding,
           (SELECT embedding FROM embeddings WHERE vec_id = 0)) AS cos
  FROM embeddings e WHERE e.vec_id <> 0
),
sem AS (
  SELECT doc_id, r FROM (
    SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS r
    FROM sem0
  ) WHERE r <= {_RRF_KSYS}
),
fused AS (
  SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
         CAST((CASE WHEN l.doc_id IS NOT NULL THEN 1 ELSE 0 END)
            + (CASE WHEN s.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS int)
           AS n_sys,
         COALESCE({_rrf_u('l.r')}, CAST(0 AS BIGINT))
           + COALESCE({_rrf_u('s.r')}, CAST(0 AS BIGINT)) AS rrf_u
  FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
)
SELECT doc_id, n_sys, rrf_u, CAST(rnk AS int) AS rnk FROM (
  SELECT *, row_number() OVER (ORDER BY rrf_u DESC, doc_id) AS rnk
  FROM fused
) WHERE rnk <= {_RRF_TOPN}
"""


@register("rrf_fusion", _RRF_ORACLE)
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RRF over (BM25 top-K, cosine-vs-vec-0 top-K).  Per-system lists
    come from distributed top-K (TakeOrderedAndProject / the brute-GEMM
    kernel's per-batch top-K); only the two K-row lists see windows."""
    from gdal_spark.operators.similarity import brute_force_topk

    bm = q_bm25_score(spark, sf_dir)
    lex = (
        bm.orderBy(F.desc("score_ppm"), "doc_id")
        .limit(_RRF_KSYS)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("score_ppm"), "doc_id"))
            .alias("r"),
        )
    )
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    sem = brute_force_topk(
        e.filter(F.col("vec_id") == 0), e, k=_RRF_KSYS
    ).select(F.col("neighbor_id").alias("doc_id"), F.col("rnk").alias("r"))
    zero = F.lit(0).cast("bigint")
    fused = (
        lex.alias("l")
        .join(sem.alias("s"), F.expr("l.doc_id = s.doc_id"), "full_outer")
        .select(
            F.coalesce(F.col("l.doc_id"), F.col("s.doc_id")).alias("doc_id"),
            (
                F.when(F.col("l.doc_id").isNotNull(), 1).otherwise(0)
                + F.when(F.col("s.doc_id").isNotNull(), 1).otherwise(0)
            )
            .cast("int")
            .alias("n_sys"),
            (
                F.coalesce(F.expr(_rrf_u("l.r")), zero)
                + F.coalesce(F.expr(_rrf_u("s.r")), zero)
            ).alias("rrf_u"),
        )
    )
    return (
        fused.withColumn(
            "rnk",
            F.row_number()
            .over(Window.orderBy(F.desc("rrf_u"), "doc_id"))
            .cast("int"),
        )
        .filter(F.col("rnk") <= _RRF_TOPN)
    )


# --------------------------------------------------------------------------
# Snapshot-incremental aggregate maintenance (the Iceberg per-snapshot
# checkpoint/resume shape of the north rule): the per-user rollup for
# snapshot 2 is computed by MERGING the persisted snapshot-1 partial
# state with the partial state of the delta rows only — count/sum are
# distributive, so union-of-partials + re-aggregate is exact.  At
# 100 TB the delta job reads the new snapshot's files, never the
# history (here: disjoint ts windows standing in for snapshot file
# sets).  The oracle recomputes from scratch over the full window —
# incremental == full is exactly the property being certified.
# tests/test_checkpoint_incremental.py wires the same merge through
# CheckpointedJob (state persisted once, resume skips it).
# --------------------------------------------------------------------------
_SNAP_T1_US = 1705276800000000  # 2024-01-15 00:00:00 UTC
_SNAP_T2_US = 1706140800000000  # 2024-01-25 00:00:00 UTC

_SNAP_ORACLE = f"""
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c
FROM events WHERE epoch_us(ts) < {_SNAP_T2_US}
GROUP BY user_id
"""


def _snap_state(df: DataFrame) -> DataFrame:
    return df.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("sum_value_c"),
    )


@register("snapshot_delta", _SNAP_ORACLE)
def q_snapshot_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    us = F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
    s1 = _snap_state(ev.filter(us < _SNAP_T1_US))
    delta = _snap_state(ev.filter((us >= _SNAP_T1_US) & (us < _SNAP_T2_US)))
    return (
        s1.unionByName(delta)
        .groupBy("user_id")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value_c").alias("sum_value_c"),
        )
    )


# --------------------------------------------------------------------------
# Snapshot-table changelog scan (gdal_spark/table.py — the Iceberg-
# analog commit/time-travel/incremental layer; reference parity:
# ogr2ogr -append / -overwrite dataset updates,
# apps/ogr2ogr_lib.cpp:2426-2447).  Three append snapshots of the
# orders layer are committed to a real SnapshotTable on disk; the
# query is the files-added-since-snapshot-1 incremental read — at
# 100 TB the delta job opens ONLY the two appended file sets, never
# snapshot 1's history.  The oracle recomputes the same row set from
# the base table.  price_c uses the repo's shared round-to-cents text
# (memory: spark-duckdb-parity).
# --------------------------------------------------------------------------
_TABLE_INC_PRICE = "CAST(round(o_totalprice * 1.0e2) AS BIGINT)"

_TABLE_INC_ORACLE = f"""
SELECT o_orderkey, {_TABLE_INC_PRICE} AS price_c
FROM orders WHERE o_orderkey % 3 IN (1, 2)
"""


@register("table_incremental", _TABLE_INC_ORACLE)
def q_table_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import tempfile

    from gdal_spark.table import SnapshotTable

    root = os.path.join(
        tempfile.gettempdir(),
        "gdal_spark_snaptab_"
        + hashlib.md5(sf_dir.encode()).hexdigest()[:8],
    )
    t = SnapshotTable(spark, root)
    if t.current_snapshot_id() != 3:  # idempotent build, reused across runs
        if t.current_snapshot_id() is not None:  # crashed partial build
            import shutil

            shutil.rmtree(root, ignore_errors=True)
            t = SnapshotTable(spark, root)
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            "o_orderkey", F.expr(_TABLE_INC_PRICE).alias("price_c")
        )
        for r in (0, 1, 2):
            t.append(o.filter(F.expr(f"o_orderkey % 3 = {r}")))
    return t.incremental(1)


# --------------------------------------------------------------------------
# Snapshot-table hidden partitioning (Iceberg partition spec): the table
# is laid out by bucket[8](doc_id) — a TRANSFORM recorded per file in
# the manifest, never a user-visible column — and equality lookups open
# only the files whose partition tuple can match (scan planning from
# metadata; the residual row filter still applies).  The reader names
# source columns only, so a 100 TB table can re-bucket under its
# queries.  tests/test_table_partition.py pins the pruning actually
# skips files and the Spark/Python transform agreement; this query pins
# the end-to-end values at the driver surface.
# --------------------------------------------------------------------------
_TABLE_PART_ORACLE = """
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
FROM documents WHERE doc_id IN (7, 42, 123)
"""


@register("table_partitioned", _TABLE_PART_ORACLE)
def q_table_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import tempfile

    from gdal_spark.table import SnapshotTable

    root = os.path.join(
        tempfile.gettempdir(),
        "gdal_spark_parttab_"
        + hashlib.md5(sf_dir.encode()).hexdigest()[:8],
    )
    t = SnapshotTable(
        spark, root, partition_spec=[("doc_id", "bucket[8]")]
    )
    if t.current_snapshot_id() != 2:  # idempotent build, reused across runs
        if t.current_snapshot_id() is not None:  # crashed partial build
            import shutil

            shutil.rmtree(root, ignore_errors=True)
            t = SnapshotTable(
                spark, root, partition_spec=[("doc_id", "bucket[8]")]
            )
        d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", F.col("n_chars").cast("long").alias("n_chars")
        )
        t.append(d.filter("doc_id % 2 = 0").repartition(4, "doc_id"))
        t.append(d.filter("doc_id % 2 = 1").repartition(4, "doc_id"))
    out = None
    for key in (7, 42, 123):
        part = t.partition_pruned_read({"doc_id": key})
        out = part if out is None else out.unionByName(part)
    return out.select("doc_id", "n_chars")


# --------------------------------------------------------------------------
# Snapshot-table equality deletes (Iceberg v2 merge-on-read): snapshot 1
# appends two thirds of the orders layer, snapshot 2 commits a DELETE
# FILE for keys divisible by 7 (no data file rewritten — the read
# applies a scoped anti-join), snapshot 3 appends the last third, whose
# %7 keys SURVIVE because the delete only covers files added at or
# before its snapshot (the sequence-number rule).  The oracle encodes
# exactly that semantics against the base table.
# --------------------------------------------------------------------------
_TABLE_DEL_ORACLE = f"""
SELECT o_orderkey, {_TABLE_INC_PRICE} AS price_c
FROM orders
WHERE (o_orderkey % 3 IN (0, 1) AND o_orderkey % 7 <> 0)
   OR o_orderkey % 3 = 2
"""


@register("table_deletes", _TABLE_DEL_ORACLE)
def q_table_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import tempfile

    from gdal_spark.table import SnapshotTable

    root = os.path.join(
        tempfile.gettempdir(),
        "gdal_spark_deltab_"
        + hashlib.md5(sf_dir.encode()).hexdigest()[:8],
    )
    t = SnapshotTable(spark, root)
    if t.current_snapshot_id() != 3:
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            "o_orderkey", F.expr(_TABLE_INC_PRICE).alias("price_c")
        )
        t.append(o.filter(F.expr("o_orderkey % 3 IN (0, 1)")))
        t.delete_where("o_orderkey % 7 = 0", ["o_orderkey"])
        t.append(o.filter(F.expr("o_orderkey % 3 = 2")))
    return t.read()


# --------------------------------------------------------------------------
# Snapshot-table MERGE INTO (upsert — the table-level twin of
# `vector_upsert`'s ogr2ogr -upsert / UpsertFeature semantics,
# apps/ogr2ogr_lib.cpp:7254): snapshot 1 appends the full orders layer,
# snapshot 2 merges a source that re-prices every %7 key (+11 cents).
# ONE snapshot carries the matched-keys delete file plus the source
# rows, so the read shows updated prices for matched keys and original
# rows for the rest — which is exactly what the oracle recomputes.
# --------------------------------------------------------------------------
_TABLE_MERGE_ORACLE = f"""
SELECT o_orderkey,
       CASE WHEN o_orderkey % 7 = 0
            THEN {_TABLE_INC_PRICE} + 11
            ELSE {_TABLE_INC_PRICE} END AS price_c
FROM orders
"""


@register("table_merge", _TABLE_MERGE_ORACLE)
def q_table_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import tempfile

    from gdal_spark.table import SnapshotTable

    root = os.path.join(
        tempfile.gettempdir(),
        "gdal_spark_mrgtab_"
        + hashlib.md5(sf_dir.encode()).hexdigest()[:8],
    )
    t = SnapshotTable(spark, root)
    if t.current_snapshot_id() != 2:
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            "o_orderkey", F.expr(_TABLE_INC_PRICE).alias("price_c")
        )
        t.append(o)
        src = o.filter(F.expr("o_orderkey % 7 = 0")).select(
            "o_orderkey", (F.col("price_c") + F.lit(11)).alias("price_c")
        )
        t.merge(src, ["o_orderkey"])
    return t.read()


# --------------------------------------------------------------------------
# gdal2xyz (swig/python/gdal-utils/osgeo_utils/gdal2xyz.py): raster ->
# XYZ dump with -srcwin, -skip, -b band selection and -skipnodata
# (:188-190 skips a pixel iff the FULL selected-band vector equals the
# per-band srcnodata vector; :196-197 geo = gt corner + (pixel+0.5) *
# step).  Geo coords emitted as micro-degree BIGINTs (floor(x*1e6+0.5),
# shared text) so the hash gate compares integers.
# --------------------------------------------------------------------------
_XYZ_X0, _XYZ_Y0, _XYZ_W, _XYZ_H, _XYZ_SKIP = 40, 20, 120, 80, 2
_XYZ_ND1, _XYZ_ND3 = 77, 135  # srcnodata vector for bands (1, 3)
_XYZ_GX = (
    "CAST(floor((-1.8e2 + (CAST(px AS DOUBLE) + 5.0e-1) * 9.0e-1) * 1.0e6"
    " + 5.0e-1) AS BIGINT)"
)
_XYZ_GY = (
    "CAST(floor((9.0e1 + (CAST(py AS DOUBLE) + 5.0e-1) * (-9.0e-1)) * 1.0e6"
    " + 5.0e-1) AS BIGINT)"
)

_XYZ_ORACLE = f"""
WITH g AS ({_SRC_GRID_CTE}),
v AS (SELECT px, py, band, CAST({_SRC_VAL} AS int) AS value FROM g),
p AS (
  SELECT px, py,
         max(CASE WHEN band = 1 THEN value END) AS b1,
         max(CASE WHEN band = 3 THEN value END) AS b3
  FROM v GROUP BY px, py
)
SELECT {_XYZ_GX} AS geo_x_udeg, {_XYZ_GY} AS geo_y_udeg, b1, b3
FROM p
WHERE px >= {_XYZ_X0} AND px < {_XYZ_X0 + _XYZ_W}
  AND py >= {_XYZ_Y0} AND py < {_XYZ_Y0 + _XYZ_H}
  AND (px - {_XYZ_X0}) % {_XYZ_SKIP} = 0
  AND (py - {_XYZ_Y0}) % {_XYZ_SKIP} = 0
  AND NOT (b1 = {_XYZ_ND1} AND b3 = {_XYZ_ND3})
"""


@register("raster_xyz", _XYZ_ORACLE)
def q_raster_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal2xyz -srcwin 40 20 120 80 -skip 2 -b 1 -b 3 -skipnodata:
    window + stride filters fold into the scan; the band pivot is one
    bounded (px, py) aggregation."""
    from gdal_spark.operators.raster import source_grid

    p = (
        source_grid(spark)
        .filter(F.col("band").isin(1, 3))
        .groupBy("px", "py")
        .agg(
            F.max(F.when(F.col("band") == 1, F.col("value"))).alias("b1"),
            F.max(F.when(F.col("band") == 3, F.col("value"))).alias("b3"),
        )
    )
    return (
        p.filter(
            (F.col("px") >= _XYZ_X0) & (F.col("px") < _XYZ_X0 + _XYZ_W)
            & (F.col("py") >= _XYZ_Y0) & (F.col("py") < _XYZ_Y0 + _XYZ_H)
            & ((F.col("px") - _XYZ_X0) % _XYZ_SKIP == 0)
            & ((F.col("py") - _XYZ_Y0) % _XYZ_SKIP == 0)
            & ~((F.col("b1") == _XYZ_ND1) & (F.col("b3") == _XYZ_ND3))
        )
        .select(
            F.expr(_XYZ_GX).alias("geo_x_udeg"),
            F.expr(_XYZ_GY).alias("geo_y_udeg"),
            "b1",
            "b3",
        )
    )


# --------------------------------------------------------------------------
# gdal_retile (osgeo_utils/gdal_retile.py:87-105, 412-420): re-chunk a
# raster into tileWidth x tileHeight tiles with overlap — tile (xi, yi)
# 1-based starts at offset (xi-1)*(tileWidth-overlap) and is clamped to
# the raster edge; with overlap > 0 a pixel belongs to up to 2 tiles
# per axis.  Emitted as per-tile aggregates (count / sum / actual w+h,
# which proves the edge clamp) rather than exploded pixels.
# --------------------------------------------------------------------------
_RT_TW, _RT_TH, _RT_OV = 96, 64, 16
_RT_SX, _RT_SY = _RT_TW - _RT_OV, _RT_TH - _RT_OV  # strides 80, 48
# countTiles per the reference: 1 + ceil((size - tile) / stride)
_RT_CX = 1 + -(-(SRC_W - _RT_TW) // _RT_SX)
_RT_CY = 1 + -(-(SRC_H - _RT_TH) // _RT_SY)
_RT_XI = (
    f"unnest(generate_series(greatest(1, CAST(floor((px - {_RT_TW}) / {_RT_SX}.0e0) AS BIGINT) + 2),"
    f" least({_RT_CX}, CAST(floor(px / {_RT_SX}.0e0) AS BIGINT) + 1)))"
)
_RT_YI = (
    f"unnest(generate_series(greatest(1, CAST(floor((py - {_RT_TH}) / {_RT_SY}.0e0) AS BIGINT) + 2),"
    f" least({_RT_CY}, CAST(floor(py / {_RT_SY}.0e0) AS BIGINT) + 1)))"
)

_RETILE_ORACLE = f"""
WITH g AS ({_SRC_GRID_CTE}),
v AS (SELECT px, py, band, CAST({_SRC_VAL} AS int) AS value FROM g),
x AS (SELECT *, {_RT_XI} AS xi FROM v),
t AS (SELECT *, {_RT_YI} AS yi FROM x)
SELECT band, xi, yi,
       CAST(count(*) AS BIGINT) AS n_pixels,
       CAST(sum(value) AS BIGINT) AS sum_value,
       CAST(max(px) - min(px) + 1 AS int) AS tile_w,
       CAST(max(py) - min(py) + 1 AS int) AS tile_h
FROM t GROUP BY band, xi, yi
"""


@register("retile", _RETILE_ORACLE)
def q_retile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_retile -ps 96 64 -overlap 16: each pixel fans out to its
    <=2x2 owning tiles via sequence()+explode (Generate in codegen),
    one tile-key aggregation; edge tiles show clamped w/h."""
    from gdal_spark.operators.raster import source_grid

    sx = (
        f"sequence(greatest(1, CAST(floor((px - {_RT_TW}) / {_RT_SX}.0e0) AS BIGINT) + 2),"
        f" least({_RT_CX}, CAST(floor(px / {_RT_SX}.0e0) AS BIGINT) + 1))"
    )
    sy = (
        f"sequence(greatest(1, CAST(floor((py - {_RT_TH}) / {_RT_SY}.0e0) AS BIGINT) + 2),"
        f" least({_RT_CY}, CAST(floor(py / {_RT_SY}.0e0) AS BIGINT) + 1))"
    )
    return (
        source_grid(spark)
        .withColumn("xi", F.explode(F.expr(sx)))
        .withColumn("yi", F.explode(F.expr(sy)))
        .groupBy("band", "xi", "yi")
        .agg(
            F.count("*").alias("n_pixels"),
            F.sum("value").alias("sum_value"),
            (F.max("px") - F.min("px") + 1).cast("int").alias("tile_w"),
            (F.max("py") - F.min("py") + 1).cast("int").alias("tile_h"),
        )
    )


# --------------------------------------------------------------------------
# gdalcompare (osgeo_utils/gdalcompare.py:79-126 compare_image_pixels):
# per-band pixels-differing count + maximum absolute pixel difference
# between a golden and a new dataset.  Fixture: golden = the 3-band
# source; new = the same dataset with band 1 replaced by the
# raster_update output — band 1 differs, bands 2-3 prove the zero path.
# --------------------------------------------------------------------------
_COMPARE_ORACLE = f"""
WITH g3 AS ({_SRC_GRID_CTE}),
golden AS (SELECT band, px, py, CAST({_SRC_VAL} AS int) AS value FROM g3),
upd AS ({_UPDATE_ORACLE}),
new_ds AS (
  SELECT band, px, py, value FROM golden WHERE band <> 1
  UNION ALL
  SELECT 1 AS band, px, py, value FROM upd
)
SELECT g.band,
       CAST(sum(CASE WHEN g.value <> n.value THEN 1 ELSE 0 END) AS BIGINT)
         AS pixels_differing,
       CAST(max(abs(g.value - n.value)) AS BIGINT) AS max_pixel_difference
FROM golden g JOIN new_ds n
  ON g.band = n.band AND g.px = n.px AND g.py = n.py
GROUP BY g.band
"""


@register("raster_compare", _COMPARE_ORACLE)
def q_raster_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalcompare golden-vs-new: one co-keyed equi-join + per-band
    aggregate; at 100 TB both sides shuffle once on (band, px, py) (or
    zero times when both are bucketed on the pixel key)."""
    from gdal_spark.operators.raster import raster_update, source_grid, update_src

    golden = source_grid(spark)
    b1 = golden.filter(F.col("band") == 1).select("px", "py", "value")
    new_b1 = raster_update(b1, update_src(spark)).select(
        F.lit(1).cast("int").alias("band"), "px", "py", "value"
    )
    new_ds = golden.filter(F.col("band") != 1).unionByName(new_b1)
    j = golden.withColumnRenamed("value", "g").join(
        new_ds.withColumnRenamed("value", "n"), ["band", "px", "py"]
    )
    return j.groupBy("band").agg(
        F.sum(F.when(F.col("g") != F.col("n"), 1).otherwise(0)).alias(
            "pixels_differing"
        ),
        F.max(F.abs(F.col("g") - F.col("n"))).cast("long").alias(
            "max_pixel_difference"
        ),
    )


# --------------------------------------------------------------------------
# Character-trigram LM quality scoring (the CCNet/KenLM-style corpus
# quality signal: score each document by the mean log-probability of
# its character trigrams under a model trained on the corpus itself).
# Scale shape: the MODEL is one trigram-count aggregation (map-side
# combine collapses each partition to <= |alphabet|^3 rows before the
# exchange) + a prefix-bigram window over the model table (dim-sized),
# then broadcast back; the doc side re-extracts trigrams and makes ONE
# corpus shuffle for the per-doc mean.  Per-trigram ln P is computed
# once per DISTINCT trigram and micro-quantized to BIGINT in the model,
# so every per-doc aggregate is an exact integer sum (order-proof —
# memory: spark-duckdb-parity).
# --------------------------------------------------------------------------
_LM_LNP_U = (
    "CAST(floor(ln(CAST(tri_cnt AS DOUBLE) / CAST(big_cnt AS DOUBLE)) * 1.0e6)"
    " AS BIGINT)"
)

_LM_ORACLE = f"""
WITH tri AS (
  SELECT doc_id, substr(text, CAST(i AS int), 3) AS t
  FROM documents,
       LATERAL (SELECT unnest(generate_series(1, length(text) - 2)) AS i)
  WHERE length(text) >= 3
),
m0 AS (SELECT t, CAST(count(*) AS BIGINT) AS tri_cnt FROM tri GROUP BY t),
m AS (
  SELECT t, {_LM_LNP_U} AS lnp_u
  FROM (
    SELECT t, tri_cnt,
           CAST(sum(tri_cnt) OVER (PARTITION BY substr(t, 1, 2)) AS BIGINT)
             AS big_cnt
    FROM m0
  )
)
SELECT tri.doc_id,
       CAST(count(*) AS BIGINT) AS n_tri,
       CAST(sum(m.lnp_u) AS BIGINT) AS sum_lnp_u,
       CAST(floor(CAST(sum(m.lnp_u) AS DOUBLE) / count(*)) AS BIGINT)
         AS avg_lnp_u
FROM tri JOIN m USING (t)
GROUP BY tri.doc_id
"""


@register("lm_quality", _LM_ORACLE)
def q_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    tri = (
        docs.filter(F.length("text") >= 3)
        .select(
            "doc_id",
            F.explode(F.expr("sequence(1, length(text) - 2)")).alias("i"),
            "text",
        )
        .select("doc_id", F.expr("substr(text, CAST(i AS int), 3)").alias("t"))
    )
    m0 = tri.groupBy("t").agg(F.count("*").alias("tri_cnt"))
    from pyspark.sql import Window

    big = F.sum("tri_cnt").over(Window.partitionBy(F.expr("substr(t, 1, 2)")))
    model = m0.withColumn("big_cnt", big).select(
        "t", F.expr(_LM_LNP_U).alias("lnp_u")
    )
    return (
        tri.join(F.broadcast(model), "t")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tri"),
            F.sum("lnp_u").alias("sum_lnp_u"),
        )
        .select(
            "doc_id",
            "n_tri",
            "sum_lnp_u",
            F.expr(
                "CAST(floor(CAST(sum_lnp_u AS DOUBLE) / n_tri) AS BIGINT)"
            ).alias("avg_lnp_u"),
        )
    )


# --------------------------------------------------------------------------
# gdalenhance -equalize (apps/gdalenhance.cpp:360-447
# ComputeEqualizationLUTs): per-band histogram -> zero the extreme bins
# (nodata guard, :395-396) -> cumulative histogram with the half-bin
# offset cum[i] = total_before_i + hist[i]/2 (:409-413) -> LUT[v] =
# clamp(cum[v]*256 / total, 0, 255) (:434-439, all integer division) ->
# per-pixel LUT apply.  For Byte data the default histogram is one bin
# per value, so the bin index IS the pixel value.  Divergence: the
# reference allows an APPROXIMATE (sampled) histogram
# (GDALGetDefaultHistogramEx bForce=TRUE); the engine computes the
# exact histogram — deterministic and distributed-friendly.
# Scale shape: ONE map-side-combined histogram aggregation (<= 256 rows
# per band), LUT as a window program over that dim table, broadcast
# back; the raster side never shuffles.
# --------------------------------------------------------------------------
_ENH_X0, _ENH_X1, _ENH_Y0, _ENH_Y1 = 100, 200, 50, 110

_ENH_LUT_CTES = """
hist AS (
  SELECT band, value AS bin,
         CASE WHEN value IN (0, 255) THEN CAST(0 AS BIGINT)
              ELSE CAST(count(*) AS BIGINT) END AS c
  FROM grid GROUP BY band, value
),
cum AS (
  SELECT band, bin,
         CAST(coalesce(sum(c) OVER (PARTITION BY band ORDER BY bin
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              + CAST(floor(c / 2.0e0) AS BIGINT) AS BIGINT) AS ch,
         CAST(sum(c) OVER (PARTITION BY band) AS BIGINT) AS total
  FROM hist
),
lut AS (
  SELECT band, bin,
         CAST(greatest(0, least(255,
              CAST(floor(ch * 256 / CAST(total AS DOUBLE)) AS BIGINT)))
              AS int) AS lut_value
  FROM cum
)
"""

_ENHANCE_ORACLE = f"""
WITH g AS ({_SRC_GRID_CTE}),
grid AS (SELECT band, px, py, CAST({_SRC_VAL} AS int) AS value FROM g),
{_ENH_LUT_CTES}
SELECT grid.band, px, py, lut.lut_value AS value
FROM grid JOIN lut ON grid.band = lut.band AND grid.value = lut.bin
WHERE px >= {_ENH_X0} AND px < {_ENH_X1}
  AND py >= {_ENH_Y0} AND py < {_ENH_Y1}
"""


@register("enhance_equalize", _ENHANCE_ORACLE)
def q_enhance_equalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalenhance -equalize over the 3-band grid, output windowed to
    keep the contract row count bounded; the LUT is trained on the FULL
    grid."""
    from pyspark.sql import Window

    from gdal_spark.operators.raster import source_grid

    grid = source_grid(spark)
    hist = grid.groupBy("band", F.col("value").alias("bin")).agg(
        F.when(F.col("bin").isin(0, 255), F.lit(0).cast("long"))
        .otherwise(F.count("*"))
        .alias("c")
    )
    wcum = (
        Window.partitionBy("band")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wtot = Window.partitionBy("band")
    cum = hist.select(
        "band",
        "bin",
        (
            F.coalesce(F.sum("c").over(wcum), F.lit(0))
            + F.expr("CAST(floor(c / 2.0e0) AS BIGINT)")
        ).alias("ch"),
        F.sum("c").over(wtot).alias("total"),
    )
    lut = cum.select(
        "band",
        "bin",
        F.expr(
            "CAST(greatest(0, least(255,"
            " CAST(floor(ch * 256 / CAST(total AS DOUBLE)) AS BIGINT)))"
            " AS int)"
        ).alias("lut_value"),
    )
    win = grid.filter(
        (F.col("px") >= _ENH_X0) & (F.col("px") < _ENH_X1)
        & (F.col("py") >= _ENH_Y0) & (F.col("py") < _ENH_Y1)
    )
    return (
        win.join(
            F.broadcast(lut),
            (win["band"] == lut["band"]) & (win["value"] == lut["bin"]),
        )
        .select(win["band"], "px", "py", F.col("lut_value").alias("value"))
    )


# --------------------------------------------------------------------------
# Deterministic corpus shuffle / shard assignment (the training-order
# primitive: give every document a reproducible pseudorandom global
# position and a shard id, stable under repartition and resume — the
# same no-RNG-state rule as stratified_sample/source_cap).  Spark
# shape: ONE range-partitioned global sort on the md5 key (Exchange
# rangepartitioning + local sort — the scalable total order); shard =
# hash-bucket of the key, position = global row_number.
# --------------------------------------------------------------------------
_SHUF_SHARDS = 8

_SHUFFLE_ORACLE = f"""
SELECT doc_id,
       CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
            - 1 AS BIGINT) AS pos,
       CAST((row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
            - 1) % {_SHUF_SHARDS} AS int) AS shard
FROM documents
"""


@register("corpus_shuffle", _SHUFFLE_ORACLE)
def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed global rank WITHOUT a single-partition window: range-
    partition on the shuffle key, rank locally within each sorted range
    (window partitioned by spark_partition_id), and add the cumulative
    count of the preceding ranges (a partition-count-sized dim,
    broadcast back).  Correct for ANY contiguous range partitioning, so
    RangePartitioner's sampled boundaries don't affect the output."""
    from pyspark.sql import Window

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("_k")
    )
    # persisted: BOTH the counts dim and the final join consume this
    # stage, and partition offsets must be computed from the exact same
    # range boundaries the join side sees (multiply-referenced-stage
    # rule — lazy persist, CLAUDE.md)
    ranged = (
        d.repartitionByRange(32, "_k", "doc_id")
        .sortWithinPartitions("_k", "doc_id")
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    counts = ranged.groupBy("_pid").agg(F.count("*").alias("_cnt"))
    woff = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )  # tiny dim: one row per partition
    offsets = counts.select(
        "_pid", F.coalesce(F.sum("_cnt").over(woff), F.lit(0)).alias("_off")
    )
    local = F.row_number().over(
        Window.partitionBy("_pid").orderBy("_k", "doc_id")
    )
    pos = F.col("_off") + local - 1
    return (
        ranged.join(F.broadcast(offsets), "_pid")
        .select(
            "doc_id",
            pos.cast("long").alias("pos"),
            (pos % _SHUF_SHARDS).cast("int").alias("shard"),
        )
    )


# --------------------------------------------------------------------------
# Sequence packing (training-data pipeline): concatenate the corpus in a
# deterministic global order and cut fixed-capacity training sequences;
# a document spanning a boundary splits into pieces.  The global token
# offset is the corpus_shuffle distributed-rank pattern applied to SUM
# instead of COUNT (range partition -> per-partition cumulative sums +
# a broadcast partition-offset dim — no single-partition window), so
# the packing plan scales to any corpus size; each doc then fans out to
# its owning sequences with pure integer math (zero extra shuffles).
# --------------------------------------------------------------------------
_PACK_CAP = 512  # tokens per packed training sequence

def _pack_oracle_ctes(rel: str) -> str:
    """CTE chain packing relation ``rel`` (doc_id, n) into fixed-capacity
    sequences; terminal CTE ``packed`` has the 5 output columns."""
    return f"""
pc AS (
  SELECT doc_id, n,
         CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS o
  FROM {rel}
),
ps AS (
  SELECT doc_id, n, o,
         CAST(unnest(generate_series(o // {_PACK_CAP},
                                     (o + n - 1) // {_PACK_CAP}))
              AS BIGINT) AS seq_id
  FROM pc
),
packed AS (
  SELECT doc_id, seq_id,
    CAST(GREATEST(o, seq_id * {_PACK_CAP}) - o AS BIGINT) AS piece_start,
    CAST(LEAST(o + n, (seq_id + 1) * {_PACK_CAP})
         - GREATEST(o, seq_id * {_PACK_CAP}) AS BIGINT) AS n_toks,
    CAST(GREATEST(o, seq_id * {_PACK_CAP}) - seq_id * {_PACK_CAP} AS BIGINT)
      AS seq_off
  FROM ps
)"""


_PACK_ORACLE = f"""
WITH t AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
  FROM documents
),
{_pack_oracle_ctes('t')}
SELECT doc_id, seq_id, piece_start, n_toks, seq_off FROM packed
"""


def _pack_pieces(d: DataFrame) -> DataFrame:
    """Pack (doc_id, n) rows into fixed-capacity training sequences in
    doc_id order: global token offset via the corpus_shuffle
    distributed-rank pattern applied to SUM (range partition ->
    per-partition cumulative sums + broadcast partition-offset dim; no
    single-partition window), then each doc fans out to its owning
    sequences with pure integer math (zero extra shuffles)."""
    from pyspark.sql import Window

    # persisted: the partition-sum dim and the fan-out consume the same
    # range boundaries (multiply-referenced-stage rule, CLAUDE.md)
    ranged = (
        d.repartitionByRange(32, "doc_id")
        .sortWithinPartitions("doc_id")
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    psums = ranged.groupBy("_pid").agg(F.sum("n").alias("_pn"))
    woff = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = psums.select(
        "_pid", F.coalesce(F.sum("_pn").over(woff), F.lit(0)).alias("_poff")
    )
    wloc = Window.partitionBy("_pid").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cap = _PACK_CAP
    return (
        ranged.join(F.broadcast(offsets), "_pid")
        .withColumn(
            "o",
            F.col("_poff") + F.coalesce(F.sum("n").over(wloc), F.lit(0)),
        )
        .select(
            "doc_id", "n", "o",
            F.explode(
                F.expr(f"sequence(o DIV {cap}, (o + n - 1) DIV {cap})")
            ).alias("seq_id"),
        )
        .selectExpr(
            "doc_id",
            "CAST(seq_id AS BIGINT) AS seq_id",
            f"CAST(GREATEST(o, seq_id * {cap}) - o AS BIGINT) AS piece_start",
            f"CAST(LEAST(o + n, (seq_id + 1) * {cap})"
            f" - GREATEST(o, seq_id * {cap}) AS BIGINT) AS n_toks",
            f"CAST(GREATEST(o, seq_id * {cap}) - seq_id * {cap} AS BIGINT)"
            " AS seq_off",
        )
    )


@register("seq_pack", _PACK_ORACLE)
def q_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n")
    )
    return _pack_pieces(d)


# --------------------------------------------------------------------------
# DSIR importance weights (Xie et al. 2023, "Data Selection for Language
# Models via Importance Resampling"): per-doc log importance weight
# log p_target(x) - log p_raw(x) under hashed-bigram bag-of-ngrams
# models with add-one smoothing.  Target distribution = the docs with
# doc_id % 10 = 0 (a stand-in for the curated target domain); raw = the
# whole corpus.  The per-bucket log-ratio is computed ONCE per bucket
# (a <= 256-row dim, broadcast back) and micro-quantized to BIGINT
# before the per-doc sum, so the aggregate is an exact integer sum in
# any aggregation order — the same ln-once-per-distinct-key pattern as
# lm_quality.  Corpus side: one gram explode + one groupBy(doc_id);
# the model aggregations are map-side combined into <= 256 rows.
# --------------------------------------------------------------------------
_DSIR_B = 256  # hashed feature buckets

# shared formula text (both engines): add-one smoothed log-likelihood
# ratio, micro-quantized.  Division shapes identical on both sides so
# the double inputs to ln() are bit-identical.
_DSIR_W_U = (
    "CAST(floor(ln((CAST(COALESCE(t_cnt, 0) + 1 AS DOUBLE)"
    f" / CAST(t_tot + {_DSIR_B} AS DOUBLE))"
    " / (CAST(r_cnt + 1 AS DOUBLE)"
    f" / CAST(r_tot + {_DSIR_B} AS DOUBLE))) * 1.0e6) AS BIGINT)"
)

def _dsir_oracle_ctes(rel: str) -> str:
    """CTE chain scoring relation ``rel`` (doc_id, text); terminal CTE
    ``dw`` holds (doc_id, n_grams, dsir_w_u)."""
    return f"""
w AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM {rel}
),
g AS (
  SELECT doc_id, array_to_string(list_slice(w, st, st + 1), ' ') AS gram
  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS st
        FROM w WHERE len(w) >= 2) sub
),
gb AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5(gram), 1, 7))::BIGINT % {_DSIR_B}
              AS BIGINT) AS b
  FROM g
),
r AS (SELECT b, CAST(count(*) AS BIGINT) AS r_cnt FROM gb GROUP BY b),
t AS (SELECT b, CAST(count(*) AS BIGINT) AS t_cnt
      FROM gb WHERE doc_id % 10 = 0 GROUP BY b),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS r_tot,
         CAST(SUM(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS t_tot
  FROM gb
),
wd AS (
  SELECT r.b, {_DSIR_W_U} AS w_u
  FROM r LEFT JOIN t ON r.b = t.b, tot
),
dw AS (
  SELECT gb.doc_id,
         CAST(count(*) AS BIGINT) AS n_grams,
         CAST(SUM(w_u) AS BIGINT) AS dsir_w_u
  FROM gb JOIN wd ON gb.b = wd.b
  GROUP BY gb.doc_id
)"""


_DSIR_ORACLE = f"""
WITH {_dsir_oracle_ctes('documents')}
SELECT doc_id, n_grams, dsir_w_u FROM dw
"""


def _dsir_weights_df(d: DataFrame) -> DataFrame:
    """Per-doc DSIR importance weight over (doc_id, text) rows."""
    gb = (
        d.select("doc_id", F.split("text", " ").alias("w"))
        .filter(F.size("w") >= 2)
        .select(
            "doc_id",
            F.explode(F.expr("sequence(1, size(w) - 1)")).alias("st"),
            "w",
        )
        .select(
            "doc_id",
            F.expr("array_join(slice(w, st, 2), ' ')").alias("gram"),
        )
        .select(
            "doc_id",
            F.expr(
                "CAST(conv(substring(md5(gram), 1, 7), 16, 10) AS BIGINT)"
                f" % {_DSIR_B}"
            ).alias("b"),
        )
        .persist()  # model aggs + final join share this stage (CLAUDE.md)
    )
    r = gb.groupBy("b").agg(F.count("*").alias("r_cnt"))
    t = (
        gb.filter(F.col("doc_id") % 10 == 0)
        .groupBy("b")
        .agg(F.count("*").alias("t_cnt"))
    )
    tot = gb.agg(
        F.count("*").alias("r_tot"),
        F.sum(
            F.when(F.col("doc_id") % 10 == 0, 1).otherwise(0)
        ).alias("t_tot"),
    )
    wd = (
        r.join(t, "b", "left")
        .crossJoin(F.broadcast(tot))
        .select("b", F.expr(_DSIR_W_U).alias("w_u"))
    )
    return (
        gb.join(F.broadcast(wd), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum("w_u").cast("long").alias("dsir_w_u"),
        )
    )


@register("dsir_weights", _DSIR_ORACLE)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return _dsir_weights_df(d.select("doc_id", "text"))


# --------------------------------------------------------------------------
# fastText-style quality-classifier INFERENCE (Joulin et al. 2016,
# arXiv:1607.01759) — the model-based curation gate of DCLM (Li et al.
# 2024) and FineWeb-Edu: a linear classifier over hashed unigram +
# bigram features (wordNgrams=2) scores every document; docs with
# positive logit pass the filter.  The trained model is stood in by a
# deterministic weight table w_milli[b] = ((b * 2654435761) % 2001) -
# 1000 over 256 buckets — an inline EXPRESSION, not a join: per-feature
# weights are exact BIGINT milli-units, so the per-doc sum is
# order-proof and the keep decision (bias + mean weight > 0) clears
# denominators into pure integer comparison 37*n_feats + sum_w > 0.
# The logit is emitted in numerator form (logit_num_milli, n_feats) —
# the grid_average (count, integer sum) precedent — so no float rides
# the hash.  Plan: one feature explode + one groupBy(doc_id); weights
# in whole-stage codegen; zero model shuffle (contrast: a real model
# swaps the expression for a <=B-row broadcast dim, the dsir_weights
# shape).  At 100 TB this is a map-side-combined single shuffle on
# doc_id.  fastText divides by token count; we divide by feature count
# (documented divergence — monotone-equivalent threshold family).
# --------------------------------------------------------------------------
_FT_B = 256
_FT_BIAS_MILLI = 37
_FT_BUCKET = "('0x' || substring(md5(gram), 1, 7))"  # oracle spelling
_FT_W_MILLI = f"CAST(((b * 2654435761) % 2001) - 1000 AS BIGINT)"

_FASTTEXT_ORACLE = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
g1 AS (SELECT doc_id, unnest(w) AS gram FROM w),
g2 AS (
  SELECT doc_id, array_to_string(list_slice(w, st, st + 1), ' ') AS gram
  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS st
        FROM w WHERE len(w) >= 2) sub
),
g AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2),
gb AS (
  SELECT doc_id,
         CAST({_FT_BUCKET}::BIGINT % {_FT_B} AS BIGINT) AS b
  FROM g
),
dw AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
         CAST(sum({_FT_W_MILLI}) AS BIGINT) AS sum_w
  FROM gb GROUP BY doc_id
)
SELECT doc_id, n_feats,
       CAST({_FT_BIAS_MILLI} * n_feats + sum_w AS BIGINT) AS logit_num_milli,
       CAST(CASE WHEN {_FT_BIAS_MILLI} * n_feats + sum_w > 0
                 THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM dw
"""


@register("fasttext_filter", _FASTTEXT_ORACLE)
def q_fasttext_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    feats = d.select(
        "doc_id",
        F.explode(
            # sequence(1, 0) DESCENDS in Spark (the bpe_train gotcha):
            # single-token docs must take the empty-array branch
            F.expr(
                "concat(w, CASE WHEN size(w) >= 2 THEN"
                " transform(sequence(1, size(w) - 1),"
                " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
                " ELSE array() END)"
            )
        ).alias("gram"),
    )
    gb = feats.select(
        "doc_id",
        F.expr(
            f"CAST(conv(substring(md5(gram), 1, 7), 16, 10) AS BIGINT)"
            f" % {_FT_B}"
        ).alias("b"),
    )
    dw = gb.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_feats"),
        F.expr(f"CAST(sum({_FT_W_MILLI}) AS BIGINT)").alias("sum_w"),
    )
    return dw.select(
        "doc_id",
        "n_feats",
        F.expr(f"CAST({_FT_BIAS_MILLI} * n_feats + sum_w AS BIGINT)").alias(
            "logit_num_milli"
        ),
        F.expr(
            f"CAST(CASE WHEN {_FT_BIAS_MILLI} * n_feats + sum_w > 0"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("keep"),
    )


# --------------------------------------------------------------------------
# End-to-end pretraining-mix pipeline (the realistic 100 TB curation
# job, composed as ONE Catalyst plan): exact-dedup keeper -> DSIR
# importance scoring of the survivors -> per-source top-K selection
# (the quality/domain-mix gate; WindowGroupLimit pushes a partial top-K
# map-side before the per-source shuffle) -> sequence packing of the
# selected subset.  The corpus has no exact duplicates at test scale,
# so the query PLANTS clones of doc_id < 5 (same expression both
# engines — the _PII_AUG precedent) and the keeper stage provably drops
# them.  Selection ties break on doc_id; packing order is doc_id.
# --------------------------------------------------------------------------
_MIX_TOPK = 10  # docs kept per source

_MIX_ORACLE = f"""
WITH aug AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text, source FROM documents WHERE doc_id < 5
),
kd AS (
  SELECT doc_id, text, source
  FROM (SELECT doc_id, text, source,
               ROW_NUMBER() OVER (PARTITION BY md5(text)
                                  ORDER BY doc_id) AS krn
        FROM aug) k
  WHERE krn = 1
),
{_dsir_oracle_ctes('kd')},
ranked AS (
  SELECT kd.doc_id, kd.source, dw.dsir_w_u,
         CAST(len(string_split(kd.text, ' ')) AS BIGINT) AS n,
         ROW_NUMBER() OVER (PARTITION BY kd.source
                            ORDER BY dw.dsir_w_u DESC, kd.doc_id) AS rn
  FROM kd JOIN dw ON kd.doc_id = dw.doc_id
),
sel AS (SELECT doc_id, source, dsir_w_u, n FROM ranked WHERE rn <= {_MIX_TOPK}),
{_pack_oracle_ctes('sel')}
SELECT p.doc_id, sel.source, sel.dsir_w_u,
       p.seq_id, p.piece_start, p.n_toks, p.seq_off
FROM packed p JOIN sel ON p.doc_id = sel.doc_id
"""


@register("pretrain_mix", _MIX_ORACLE)
def q_pretrain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "source"
    )
    clones = d.filter(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text", "source"
    )
    aug = d.unionByName(clones)
    # keeper via one content-hash shuffle (no corpus-sized join side):
    # row_number over md5(text) keeps the min-doc_id row per group
    kd = (
        aug.withColumn(
            "krn",
            F.row_number().over(
                Window.partitionBy(F.md5("text")).orderBy("doc_id")
            ),
        )
        .filter(F.col("krn") == 1)
        .drop("krn")
        .persist()  # dsir grams + the ranked stage both consume kd
    )
    dw = _dsir_weights_df(kd.select("doc_id", "text"))
    ranked = (
        kd.join(dw.select("doc_id", "dsir_w_u"), "doc_id")
        .select(
            "doc_id", "source", "dsir_w_u",
            F.size(F.split("text", " ")).cast("long").alias("n"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("source").orderBy(
                    F.col("dsir_w_u").desc(), "doc_id"
                )
            ),
        )
    )
    sel = ranked.filter(F.col("rn") <= _MIX_TOPK).drop("rn").persist()
    packed = _pack_pieces(sel.select("doc_id", "n"))
    return packed.join(
        F.broadcast(sel.select("doc_id", "source", "dsir_w_u")), "doc_id"
    ).select(
        "doc_id", "source", "dsir_w_u",
        "seq_id", "piece_start", "n_toks", "seq_off",
    )


# --------------------------------------------------------------------------
# Exact global quality deciles (training-data pipeline: CCNet/RedPajama
# head/middle/tail bucketing by a quality signal — here the n_chars
# column as the stand-in score).  Bucket = floor(rank * K / n) over the
# EXACT global rank (deterministic ties via doc_id), computed with the
# distributed-rank pattern (range partition on the sort key, local
# row_number, broadcast partition-count offsets) — the explicit floor
# formula, not NTILE, so both engines share the integer math.
# --------------------------------------------------------------------------
_QB_K = 10

_QB_ORACLE = f"""
WITH r AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
         CAST(ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) - 1
              AS BIGINT) AS rk,
         CAST(COUNT(*) OVER () AS BIGINT) AS n
  FROM documents
)
SELECT doc_id, n_chars, rk,
       CAST((rk * {_QB_K}) // n AS BIGINT) AS decile
FROM r
"""


@register("quality_buckets", _QB_ORACLE)
def q_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars")
    )
    ranged = (
        d.repartitionByRange(32, F.col("n_chars").desc(), F.col("doc_id"))
        .sortWithinPartitions(F.col("n_chars").desc(), "doc_id")
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    counts = ranged.groupBy("_pid").agg(F.count("*").alias("_cnt"))
    woff = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_pid", F.coalesce(F.sum("_cnt").over(woff), F.lit(0)).alias("_off")
    )
    total = counts.agg(F.sum("_cnt").alias("n"))
    local = F.row_number().over(
        Window.partitionBy("_pid").orderBy(F.col("n_chars").desc(), "doc_id")
    )
    return (
        ranged.join(F.broadcast(offsets), "_pid")
        .crossJoin(F.broadcast(total))
        .withColumn("rk", (F.col("_off") + local - 1).cast("long"))
        .selectExpr(
            "doc_id", "n_chars", "rk",
            f"CAST((rk * {_QB_K}) DIV n AS BIGINT) AS decile",
        )
    )


# --------------------------------------------------------------------------
# gdal_minmax_location (osgeo_utils/samples/gdal_minmax_location.py /
# GDALRasterBand::ComputeMinMaxLocation): per band, the min and max
# values with the FIRST pixel location hitting each (the reference's
# scan order = row-major ⇒ deterministic tie-break smallest (py, px)),
# plus the georeferenced center coords gt(px+0.5, py+0.5) (:43-48) as
# micro-degree BIGINTs.  One aggregation per band: lexicographic
# struct-min/max folds value AND location into a single map-side-
# combined pass (the max side negates the location so ties still
# resolve to the first scan-order pixel).
# --------------------------------------------------------------------------
_MML_ORACLE = f"""
WITH g AS ({_SRC_GRID_CTE}),
grid AS (SELECT band, px, py, CAST({_SRC_VAL} AS int) AS value FROM g),
m AS (SELECT band, min(value) AS min_value, max(value) AS max_value
      FROM grid GROUP BY band),
mn AS (
  SELECT grid.band, CAST(min(py * {SRC_W} + px) AS BIGINT) AS k
  FROM grid JOIN m ON grid.band = m.band AND grid.value = m.min_value
  GROUP BY grid.band
),
mx AS (
  SELECT grid.band, CAST(min(py * {SRC_W} + px) AS BIGINT) AS k
  FROM grid JOIN m ON grid.band = m.band AND grid.value = m.max_value
  GROUP BY grid.band
),
loc AS (
  SELECT m.band, m.min_value, m.max_value,
         CAST(mn.k % {SRC_W} AS int) AS min_px,
         CAST(floor(mn.k / {SRC_W}.0e0) AS int) AS min_py,
         CAST(mx.k % {SRC_W} AS int) AS max_px,
         CAST(floor(mx.k / {SRC_W}.0e0) AS int) AS max_py
  FROM m JOIN mn ON m.band = mn.band JOIN mx ON m.band = mx.band
)
SELECT band, min_value, min_px, min_py,
       {_XYZ_GX.replace("px", "min_px")} AS min_gx_udeg,
       {_XYZ_GY.replace("py", "min_py")} AS min_gy_udeg,
       max_value, max_px, max_py,
       {_XYZ_GX.replace("px", "max_px")} AS max_gx_udeg,
       {_XYZ_GY.replace("py", "max_py")} AS max_gy_udeg
FROM loc
"""


@register("minmax_location", _MML_ORACLE)
def q_minmax_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.raster import source_grid

    g = source_grid(spark)
    mn = F.min(F.struct("value", "py", "px")).alias("mn")
    mx = F.max(
        F.struct(
            "value",
            (-F.col("py")).alias("npy"),
            (-F.col("px")).alias("npx"),
        )
    ).alias("mx")
    agg = g.groupBy("band").agg(mn, mx)
    out = agg.select(
        "band",
        F.col("mn.value").alias("min_value"),
        F.col("mn.px").alias("min_px"),
        F.col("mn.py").alias("min_py"),
        F.col("mx.value").alias("max_value"),
        (-F.col("mx.npx")).cast("int").alias("max_px"),
        (-F.col("mx.npy")).cast("int").alias("max_py"),
    )
    return out.select(
        "band",
        "min_value",
        "min_px",
        "min_py",
        F.expr(_XYZ_GX.replace("px", "min_px")).alias("min_gx_udeg"),
        F.expr(_XYZ_GY.replace("py", "min_py")).alias("min_gy_udeg"),
        "max_value",
        "max_px",
        "max_py",
        F.expr(_XYZ_GX.replace("px", "max_px")).alias("max_gx_udeg"),
        F.expr(_XYZ_GY.replace("py", "max_py")).alias("max_gy_udeg"),
    )


# --------------------------------------------------------------------------
# VRT kernel filter (frmts/vrt/vrtfilters.cpp VRTKernelFilteredSource,
# the engine behind <KernelFilteredSource> and the gdalfilter sample):
# normalized 3x3 convolution with the reference's nodata contract —
# center nodata passes nodata through (:530-534), nodata taps drop out
# of BOTH the weighted sum and the kernel sum (:543-551), zero kernel
# sum -> 0 (:562).  Integer 1-2-1 taps keep (num, den) exact, so the
# normalized value is one shared-text division; emitted micro-quantized.
# --------------------------------------------------------------------------
_KF_ND = 13
_KF_VAL_U = (
    f"CAST(CASE WHEN is_nd = 1 THEN {_KF_ND} * 1000000"
    " WHEN den = 0 THEN 0"
    " ELSE CAST(floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1.0e6"
    " + 5.0e-1) AS BIGINT) END AS BIGINT)"
)


def _kf_tap_sql() -> tuple[str, str]:
    from gdal_spark.operators.focal import KF_COEFS

    vals, dens = [], []
    k = 0
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            v = f"(((px + {dx}) * 7 + (py + {dy}) * 13 + 29) % 256)"
            c = KF_COEFS[k]
            vals.append(f"(CASE WHEN {v} <> {_KF_ND} THEN {c} * {v} ELSE 0 END)")
            dens.append(f"(CASE WHEN {v} <> {_KF_ND} THEN {c} ELSE 0 END)")
            k += 1
    return " + ".join(vals), " + ".join(dens)


_KF_NUM_SQL, _KF_DEN_SQL = _kf_tap_sql()

_KFILTER_ORACLE = f"""
WITH g AS ({_SRC_GRID_CTE}),
b1 AS (SELECT px, py FROM g WHERE band = 1
       AND px >= 1 AND px <= {SRC_W - 2} AND py >= 1 AND py <= {SRC_H - 2}),
t AS (
  SELECT px, py,
         CASE WHEN ((px * 7 + py * 13 + 29) % 256) = {_KF_ND}
              THEN 1 ELSE 0 END AS is_nd,
         CAST({_KF_NUM_SQL} AS BIGINT) AS num,
         CAST({_KF_DEN_SQL} AS BIGINT) AS den
  FROM b1
)
SELECT px, py, {_KF_VAL_U} AS filt_u FROM t
"""


@register("vrt_kernel_filter", _KFILTER_ORACLE)
def q_vrt_kernel_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.focal import kernel_filter
    from gdal_spark.operators.raster import SRC_H as _H, SRC_W as _W, source_grid

    b1 = source_grid(spark).filter(F.col("band") == 1).select("px", "py", "value")
    out = kernel_filter(b1, _W, _H, nodata=_KF_ND)
    return out.select("px", "py", F.expr(_KF_VAL_U).alias("filt_u"))


# --------------------------------------------------------------------------
# ogr2ogr -upsert (ogr2ogr_lib.cpp:7254 UpsertFeature instead of
# CreateFeature; ogrlayer.cpp UpsertFeature = update the matching
# feature if one exists, else insert): the MERGE-INTO primitive.
# Fixture: the customer layer upserted with a deterministic patch —
# every c_custkey % 10 == 3 gets acctbal+100 and segment 'PATCHED'
# (update path), plus 5 brand-new keys past max (insert path).  Spark
# shape: patch side broadcast (the typical small-delta case), FULL
# OUTER join on the key, source-wins coalesce — a corpus-sized patch
# degrades to one co-keyed shuffle join.  Money compared in cents
# (BIGINT) per the parity rules.
# --------------------------------------------------------------------------
_UPS_PATCH = """
SELECT c_custkey, c_name, c_nationkey,
       c_acctbal + 1.0e2 AS c_acctbal, 'PATCHED' AS c_mktsegment
FROM customer WHERE c_custkey % 10 = 3
UNION ALL
SELECT mx + k AS c_custkey, concat('NEW#', CAST(mx + k AS STRING)) AS c_name,
       CAST(7 AS int) AS c_nationkey, 1.0e3 AS c_acctbal,
       'INSERTED' AS c_mktsegment
FROM (SELECT max(c_custkey) AS mx FROM customer) m,
     (SELECT CAST(i AS BIGINT) + 1 AS k FROM range(0, 5) t(i)) s
"""

_UPSERT_ORACLE = f"""
WITH patch AS ({_UPS_PATCH})
SELECT coalesce(p.c_custkey, c.c_custkey) AS c_custkey,
       coalesce(p.c_name, c.c_name) AS c_name,
       coalesce(p.c_nationkey, c.c_nationkey) AS c_nationkey,
       CAST(round(coalesce(p.c_acctbal, c.c_acctbal) * 100) AS BIGINT)
         AS acctbal_c,
       coalesce(p.c_mktsegment, c.c_mktsegment) AS c_mktsegment
FROM customer c FULL OUTER JOIN patch p ON c.c_custkey = p.c_custkey
"""


@register("vector_upsert", _UPSERT_ORACLE)
def q_vector_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.read.parquet(f"{sf_dir}/customer.parquet").createOrReplaceTempView(
        "customer"
    )
    patch = spark.sql(_UPS_PATCH)
    c = spark.table("customer")
    p = F.broadcast(patch).alias("p")
    j = c.alias("c").join(p, F.expr("c.c_custkey = p.c_custkey"), "full_outer")
    pick = lambda col: F.coalesce(F.col(f"p.{col}"), F.col(f"c.{col}"))  # noqa: E731
    return j.select(
        pick("c_custkey").alias("c_custkey"),
        pick("c_name").alias("c_name"),
        pick("c_nationkey").alias("c_nationkey"),
        F.expr(
            "CAST(round(coalesce(p.c_acctbal, c.c_acctbal) * 100) AS BIGINT)"
        ).alias("acctbal_c"),
        pick("c_mktsegment").alias("c_mktsegment"),
    )


# --------------------------------------------------------------------------
# GDALSuggestedWarpOutput (alg/gdaltransformer.cpp:342-1130): plan the
# output grid of a warp — sample a (nSteps+1)^2 pixel grid through the
# transform (nSteps = clamp(round(min(W,H)/50), 20, 100), :446-451),
# extent = min/max over SUCCESSFUL samples, pixel size = the distance
# between the first and last sample (both must succeed, else fall back
# to the extent deltas, :1081-1090) divided by the source diagonal
# (:1099-1101), size = floor(extent/ps + 0.5) (:1127-1128).  Two
# fixture configs cover BOTH diagonal branches: 'world' (the ±90°
# source — polar rows fail the mercator transform, so the extent
# fallback fires) and 'window' (an interior srcwin where every sample
# succeeds — the true first/last diagonal).  Outputs micro-quantized.
# --------------------------------------------------------------------------
_SWO_STEPS = 20  # round(min(400,200)/50)=4 -> clamped up to 20
_SWO_LIMIT = mercator.sql_double(85.05112877980659)


def _swo_cte(name: str, x0: int, y0: int, w: int, h: int) -> str:
    """One config: sample grid, projected extent, first/last samples."""
    n = _SWO_STEPS
    lon = f"(-1.8e2 + ({x0} + i % {n + 1} * {w} / {n}.0e0 ) * 9.0e-1)"
    lat = (
        f"(9.0e1 + ({y0} + CAST((i - (i % {n + 1})) / {n + 1} AS BIGINT)"
        f" * {h} / {n}.0e0) * (-9.0e-1))"
    )
    return f"""
{name}_s AS (
  SELECT i, {lon} AS lon, {lat} AS lat
  FROM range(0, {(n + 1) * (n + 1)}) t(i)
),
{name}_p AS (
  SELECT i, {mercator.sql_mx('lon')} AS mx, {mercator.sql_my('lat')} AS my
  FROM {name}_s
  WHERE lat > -{_SWO_LIMIT} AND lat < {_SWO_LIMIT}
),
{name}_e AS (
  SELECT min(mx) AS minx, max(mx) AS maxx, min(my) AS miny, max(my) AS maxy,
         count(*) AS n_ok,
         CAST(min(i) AS BIGINT) AS i0, CAST(max(i) AS BIGINT) AS i1
  FROM {name}_p
),
{name}_d AS (
  SELECT e.*, 
         CASE WHEN e.i0 = 0 AND e.i1 = {(n + 1) * (n + 1) - 1}
              THEN (SELECT mx FROM {name}_p WHERE i = e.i1)
                   - (SELECT mx FROM {name}_p WHERE i = e.i0)
              ELSE e.maxx - e.minx END AS dx,
         CASE WHEN e.i0 = 0 AND e.i1 = {(n + 1) * (n + 1) - 1}
              THEN (SELECT my FROM {name}_p WHERE i = e.i1)
                   - (SELECT my FROM {name}_p WHERE i = e.i0)
              ELSE e.maxy - e.miny END AS dy
  FROM {name}_e e
),
{name}_o AS (
  SELECT '{name}' AS config, n_ok,
         CAST(floor(minx * 1.0e6 + 5.0e-1) AS BIGINT) AS minx_u,
         CAST(floor(maxy * 1.0e6 + 5.0e-1) AS BIGINT) AS maxy_u,
         CAST(floor(sqrt(dx * dx + dy * dy)
              / sqrt({w}.0e0 * {w} + {h}.0e0 * {h}) * 1.0e6 + 5.0e-1)
              AS BIGINT) AS ps_u,
         CAST(floor((maxx - minx) / (sqrt(dx * dx + dy * dy)
              / sqrt({w}.0e0 * {w} + {h}.0e0 * {h})) + 5.0e-1) AS BIGINT)
           AS n_pixels,
         CAST(floor((maxy - miny) / (sqrt(dx * dx + dy * dy)
              / sqrt({w}.0e0 * {w} + {h}.0e0 * {h})) + 5.0e-1) AS BIGINT)
           AS n_lines
  FROM {name}_d
)
"""


_SWO_ORACLE = f"""
WITH {_swo_cte("world", 0, 0, SRC_W, SRC_H)},
{_swo_cte("window", 60, 20, 200, 120)}
SELECT * FROM world_o UNION ALL SELECT * FROM window_o
"""


@register("suggested_warp_output", _SWO_ORACLE)
def q_suggested_warp_output(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warp output-grid planning: the 441-point sample grid, projection,
    extent and size math run as one declarative plan per config (the
    sample grid is dim-sized by construction — the reference caps it at
    101^2 regardless of raster size, so this stays a metadata-cost
    operation at any scale)."""
    sqls = []
    for name, (x0, y0, w, h) in {
        "world": (0, 0, SRC_W, SRC_H),
        "window": (60, 20, 200, 120),
    }.items():
        sqls.append(
            f"WITH {_swo_cte(name, x0, y0, w, h)} SELECT * FROM {name}_o"
        )
    a = spark.sql(sqls[0])
    b = spark.sql(sqls[1])
    return a.unionByName(b)


# --------------------------------------------------------------------------
# Floyd-Steinberg dither (alg/gdaldither.cpp GDALDitherRGB2PCT, the
# public nBits=5 static-cube configuration) — formerly declared out of
# scope for lack of a distributed formulation; the faithful formulation
# is PER-IMAGE parallelism (the recurrence is serial inside one image,
# exactly as the reference's own scanline loop is), which is also the
# realistic 100 TB shape: a corpus of millions of bounded-size images.
# Spark: one applyInPandas group per image (operators/dither.py, a
# direct port of the scanline loop).  Oracle: a DuckDB RECURSIVE CTE
# stepping pixel-by-pixel in scanline order, carrying the (W+2)*3 error
# buffer as an INT[] — a genuinely independent second implementation
# (different state layout, different nearest-color evaluation), matched
# bit-exactly.  All 10 palette entries are exercised by the fixture.
# --------------------------------------------------------------------------
_DI_NIMG, _DI_W, _DI_H = 12, 12, 10
_DI_PAL = [
    (0, 0, 0),
    (255, 0, 0),
    (0, 255, 0),
    (0, 0, 255),
    (255, 255, 0),
    (255, 0, 255),
    (0, 255, 255),
    (255, 255, 255),
    (128, 128, 128),
    (64, 192, 96),
]
_DI_L = (_DI_W + 2) * 3
_DI_ZEROS = "[" + ",".join(["0"] * _DI_L) + "]"
_DI_KIDX = "[" + ",".join(str(k) for k in range(_DI_L)) + "]"
_DI_PIDX = "[" + ",".join(str(j) for j in range(len(_DI_PAL))) + "]"
_DI_PR = "[" + ",".join(str(p[0]) for p in _DI_PAL) + "]"
_DI_PG = "[" + ",".join(str(p[1]) for p in _DI_PAL) + "]"
_DI_PB = "[" + ",".join(str(p[2]) for p in _DI_PAL) + "]"

_DI_PIX_CTE = f"""
SELECT image_id, px, py,
       CAST((image_id * 31 + px * 7 + py * 13) % 256 AS int) AS r,
       CAST((image_id * 17 + px * 11 + py * 5) % 256 AS int) AS g,
       CAST((image_id * 23 + px * 3 + py * 19) % 256 AS int) AS b
FROM (
  SELECT CAST((i - i % {_DI_W * _DI_H}) / {_DI_W * _DI_H} AS int) AS image_id,
         CAST((i % {_DI_W * _DI_H}) % {_DI_W} AS int) AS px,
         CAST(((i % {_DI_W * _DI_H}) - (i % {_DI_W * _DI_H}) % {_DI_W})
              / {_DI_W} AS int) AS py
  FROM range(0, {_DI_NIMG * _DI_W * _DI_H}) t(i)
)
"""

_DITHER_ORACLE = f"""
WITH RECURSIVE
pix AS ({_DI_PIX_CTE}),
st(image_id, pos, lr, lg, lb, prev, cur, idx) AS (
  SELECT image_id, CAST(-1 AS int), 0, 0, 0,
         CAST({_DI_ZEROS} AS INT[]), CAST({_DI_ZEROS} AS INT[]),
         CAST(NULL AS int)
  FROM (SELECT DISTINCT image_id FROM pix)
  UNION ALL
  SELECT image_id, pos, lr2, lg2, lb2,
         CASE WHEN i = {_DI_W - 1} THEN cur2 ELSE prev END,
         CASE WHEN i = {_DI_W - 1} THEN CAST({_DI_ZEROS} AS INT[])
              ELSE cur2 END,
         idx
  FROM (
    SELECT image_id, pos, i, prev, idx,
           CAST(list_transform({_DI_KIDX}, k -> cur[k + 1]
                + CASE k - i * 3
                  WHEN 0 THEN sr WHEN 1 THEN sg WHEN 2 THEN sb
                  WHEN 3 THEN er - 5 * sr WHEN 4 THEN eg - 5 * sg
                  WHEN 5 THEN eb - 5 * sb
                  WHEN 6 THEN sr WHEN 7 THEN sg WHEN 8 THEN sb
                  ELSE 0 END) AS INT[]) AS cur2,
           CASE WHEN i = {_DI_W - 1} THEN 0 ELSE 2 * sr END AS lr2,
           CASE WHEN i = {_DI_W - 1} THEN 0 ELSE 2 * sg END AS lg2,
           CASE WHEN i = {_DI_W - 1} THEN 0 ELSE 2 * sb END AS lb2
    FROM (
      SELECT *, CAST(trunc(er / 6.0) AS int) AS sr,
             CAST(trunc(eg / 6.0) AS int) AS sg,
             CAST(trunc(eb / 6.0) AS int) AS sb
      FROM (
        SELECT *, rr - {_DI_PR}[idx + 1] AS er,
               gg - {_DI_PG}[idx + 1] AS eg, bb - {_DI_PB}[idx + 1] AS eb
        FROM (
          SELECT *, CAST(list_position(dl, list_min(dl)) - 1 AS int) AS idx
          FROM (
            SELECT *,
              list_transform({_DI_PIDX}, j ->
                abs(((rr // 8) * 255) // 31 - {_DI_PR}[j + 1]) +
                abs(((gg // 8) * 255) // 31 - {_DI_PG}[j + 1]) +
                abs(((bb // 8) * 255) // 31 - {_DI_PB}[j + 1])) AS dl
            FROM (
              SELECT st.image_id AS image_id, CAST(st.pos + 1 AS int) AS pos,
                     CAST((st.pos + 1) % {_DI_W} AS int) AS i,
                     st.prev AS prev, st.cur AS cur,
                     greatest(0, least(255,
                       greatest(0, least(255,
                         p.r + st.prev[((st.pos + 1) % {_DI_W}) * 3 + 4]))
                       + st.lr)) AS rr,
                     greatest(0, least(255,
                       greatest(0, least(255,
                         p.g + st.prev[((st.pos + 1) % {_DI_W}) * 3 + 5]))
                       + st.lg)) AS gg,
                     greatest(0, least(255,
                       greatest(0, least(255,
                         p.b + st.prev[((st.pos + 1) % {_DI_W}) * 3 + 6]))
                       + st.lb)) AS bb
              FROM st JOIN pix p
                ON p.image_id = st.image_id
               AND p.py * {_DI_W} + p.px = st.pos + 1
            )
          )
        )
      )
    )
  )
)
SELECT image_id, CAST(pos % {_DI_W} AS int) AS px,
       CAST((pos - pos % {_DI_W}) / {_DI_W} AS int) AS py, idx
FROM st WHERE pos >= 0
"""


@register("rgb_dither", _DITHER_ORACLE)
def q_rgb_dither(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Floyd-Steinberg dither a 12-image corpus to the 10-color palette:
    one shuffle on image_id, each image's serial recurrence inside its
    own Arrow task (see operators/dither.py for the scale contract)."""
    from gdal_spark.operators.dither import dither_rgb

    n = _DI_NIMG * _DI_W * _DI_H
    base = spark.range(n)
    per = _DI_W * _DI_H
    img = (F.col("id") / per).cast("int")
    px = (F.col("id") % per % _DI_W).cast("int")
    py = ((F.col("id") % per) / _DI_W).cast("int")
    pix = base.select(
        img.alias("image_id"), px.alias("px"), py.alias("py")
    ).select(
        "image_id",
        "px",
        "py",
        ((F.col("image_id") * 31 + F.col("px") * 7 + F.col("py") * 13) % 256)
        .cast("int")
        .alias("r"),
        ((F.col("image_id") * 17 + F.col("px") * 11 + F.col("py") * 5) % 256)
        .cast("int")
        .alias("g"),
        ((F.col("image_id") * 23 + F.col("px") * 3 + F.col("py") * 19) % 256)
        .cast("int")
        .alias("b"),
    )
    return dither_rgb(pix, _DI_PAL)


# --------------------------------------------------------------------------
# Multidimensional datasets (gcore/gdalmultidim.cpp GDALMDArray;
# apps/gdalmdimtranslate_lib.cpp, gdalmdiminfo_lib.cpp) — formerly
# declared out of scope; the tabular re-expression (one INT index
# column per dimension + value, operators/mdim.py) covers the model's
# query surface with zero-shuffle codegen plans.
#
# mdim_translate = GetView "[1:5,8::-2,::-1]" (positive-step slice,
# negative-step slice with explicit start, full reversal — NumPy basic
# slicing, gdalmultidim.cpp:5678) -> GetTransposed [0,2,1] ->
# GetUnscaled (value*0.25 + 10, exact binary fractions) -> row-major
# linearization in the NEW axis order (what mdimtranslate writes).
# The oracle INVERTS the composition: it generates the output index
# space directly and maps each output cell back to its source value —
# a genuinely different formulation from the engine's filter+remap.
# --------------------------------------------------------------------------
_MD_T, _MD_Y, _MD_X = 6, 10, 12
_MD_RAW = "((t * 37 + y * 11 + x * 7) % 100)"

_MDIM_TRANSLATE_ORACLE = f"""
WITH o AS (
  SELECT CAST((i - i % 60) / 60 AS int) AS tt,
         CAST(((i % 60) - (i % 60) % 5) / 5 AS int) AS xx,
         CAST((i % 60) % 5 AS int) AS yy
  FROM range(0, 240) t(i)
),
src AS (
  SELECT tt, xx, yy, (1 + tt) AS t, (8 - 2 * yy) AS y, (11 - xx) AS x
  FROM o
)
SELECT tt AS time, xx AS x, yy AS y,
       CAST((tt * 12 + xx) * 5 + yy AS BIGINT) AS pos,
       CAST({_MD_RAW} * 250000 + 10000000 AS BIGINT) AS val_u
FROM src
"""


def _mdim_base(spark: SparkSession) -> DataFrame:
    n = _MD_T * _MD_Y * _MD_X
    per = _MD_Y * _MD_X
    df = spark.range(n)
    t = (F.col("id") / per).cast("int")
    y = ((F.col("id") % per) / _MD_X).cast("int")
    x = (F.col("id") % per % _MD_X).cast("int")
    return df.select(t.alias("time"), y.alias("y"), x.alias("x")).select(
        "time",
        "y",
        "x",
        (
            (F.col("time") * 37 + F.col("y") * 11 + F.col("x") * 7) % 100
        ).cast("int").alias("value"),
    )


@register("mdim_translate", _MDIM_TRANSLATE_ORACLE)
def q_mdim_translate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mdimtranslate composition: slice -> transpose -> unscale ->
    linearize, all pure codegen (zero Exchange)."""
    from gdal_spark.operators.mdim import (
        MDim,
        linearize,
        mdim_transpose,
        mdim_unscale,
        mdim_view,
    )

    dims = [MDim("time", _MD_T), MDim("y", _MD_Y), MDim("x", _MD_X)]
    df, dims = mdim_view(_mdim_base(spark), dims, "[1:5,8::-2,::-1]")
    df, dims = mdim_transpose(df, dims, [0, 2, 1])
    df = mdim_unscale(df, 0.25, 10.0)
    df = linearize(df, dims)
    return df.select(
        "time",
        "x",
        "y",
        "pos",
        F.expr("CAST(floor(value * 1.0e6 + 5.0e-1) AS BIGINT)").alias("val_u"),
    )


# mdiminfo statistics (GDALMDArray::GetStatistics over valid samples)
# for two arrays — the 3-D array above plus a 2-D array with a planted
# nodata pattern — emitted as EXACT BIGINT partials (n, min, max, sum,
# sum of squares): distributive and aggregation-order-proof, which is
# what makes distributed array statistics reproducible.
_MD_B_RAW = "CASE WHEN (y * 5 + x) % 37 = 0 THEN 255 ELSE (y * 13 + x * 3) % 200 END"

_MDIM_INFO_ORACLE = f"""
WITH a AS (
  SELECT CAST({_MD_RAW} AS BIGINT) AS v
  FROM (
    SELECT CAST((i - i % 120) / 120 AS int) AS t,
           CAST(((i % 120) - (i % 120) % 12) / 12 AS int) AS y,
           CAST((i % 120) % 12 AS int) AS x
    FROM range(0, 720) s(i)
  )
),
b AS (
  SELECT CAST({_MD_B_RAW} AS BIGINT) AS v
  FROM (
    SELECT CAST((i - i % 20) / 20 AS int) AS y, CAST(i % 20 AS int) AS x
    FROM range(0, 320) s(i)
  )
  -- GetStatistics skips nodata samples
),
stats AS (
  SELECT 'a3d' AS array_name, count(*) AS n_valid, min(v) AS vmin,
         max(v) AS vmax, CAST(sum(v) AS BIGINT) AS vsum,
         CAST(sum(v * v) AS BIGINT) AS vsumsq
  FROM a
  UNION ALL
  SELECT 'b2d', count(*), min(v), max(v), CAST(sum(v) AS BIGINT),
         CAST(sum(v * v) AS BIGINT)
  FROM b WHERE v <> 255
)
SELECT array_name, CAST(n_valid AS BIGINT) AS n_valid, vmin, vmax,
       vsum, vsumsq
FROM stats
"""


@register("mdim_info", _MDIM_INFO_ORACLE)
def q_mdim_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mdiminfo statistics for two arrays (one with nodata): a single
    map-side-combined aggregate per array, exact integer partials."""
    from gdal_spark.operators.mdim import mdim_stats

    a = _mdim_base(spark)
    nb = 16 * 20
    b = (
        spark.range(nb)
        .select(
            (F.col("id") / 20).cast("int").alias("y"),
            (F.col("id") % 20).cast("int").alias("x"),
        )
        .select(F.expr(_MD_B_RAW).cast("int").alias("value"))
    )
    return mdim_stats(a, "a3d").unionByName(mdim_stats(b, "b2d", nodata=255))


# --------------------------------------------------------------------------
# Coverage simplification (gdal vector simplify-coverage,
# apps/gdalalg_vector_simplify_coverage.cpp — a GEOS>=3.12 pass-through
# in the reference, version-gated at :46-47; re-implemented here as arc
# extraction + per-arc Visvalingam-Whyatt, operators/coverage_simplify.py).
# Fixture: a 3-polygon coverage — A|B share a unit staircase arc, A|C
# and B|C share straight arcs, C's outer boundary carries a small bump.
# Area tolerance 3.5 is chosen so EVERY VW removal order converges to
# the same result (every intermediate effective area on the staircase
# stays < 3.5 until it is a chord; all exterior corners are >= 4.5), so
# the literal oracle is robust to tie-break details.  preserve=true
# keeps C's bump (outer boundary untouched); preserve=false removes it.
# Shared boundaries stay IDENTICAL in both owners by construction (the
# coverage guarantee); pytest additionally pins topology preservation
# and the closed-loop (donut/island) arc case.
# --------------------------------------------------------------------------
_COV_A = "POLYGON ((0 0,4 0,5 1,4 2,5 3,4 4,5 5,4 6,0 6,0 0))"
_COV_B = "POLYGON ((4 0,8 0,8 6,4 6,5 5,4 4,5 3,4 2,5 1,4 0))"
_COV_C = "POLYGON ((0 6,4 6,8 6,8 9,5 9,4 10,3 9,0 9,0 6))"

_COVERAGE_SIMPLIFY_ORACLE = """
SELECT * FROM (VALUES
  ('preserve', 1, 'POLYGON ((0 0,4 0,4 6,0 6,0 0))'),
  ('preserve', 2, 'POLYGON ((4 0,8 0,8 6,4 6,4 0))'),
  ('preserve', 3, 'POLYGON ((0 6,4 6,8 6,8 9,5 9,4 10,3 9,0 9,0 6))'),
  ('full', 1, 'POLYGON ((0 0,4 0,4 6,0 6,0 0))'),
  ('full', 2, 'POLYGON ((4 0,8 0,8 6,4 6,4 0))'),
  ('full', 3, 'POLYGON ((0 6,4 6,8 6,8 9,0 9,0 6))')
) t(config, fid, wkt)
"""


@register("coverage_simplify", _COVERAGE_SIMPLIFY_ORACLE)
def q_coverage_simplify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplify the 3-polygon coverage under both boundary policies:
    shared arcs collapse identically in both owners (no gaps/overlaps),
    the outer boundary simplifies only when preserve_boundary=False."""
    from gdal_spark.operators.coverage_simplify import simplify_coverage

    feats = spark.createDataFrame(
        [(1, _COV_A), (2, _COV_B), (3, _COV_C)], "fid int, geom_wkt string"
    )
    a = simplify_coverage(feats, 3.5, preserve_boundary=True).select(
        F.lit("preserve").alias("config"), "fid", "wkt"
    )
    b = simplify_coverage(feats, 3.5, preserve_boundary=False).select(
        F.lit("full").alias("config"), "fid", "wkt"
    )
    return a.unionByName(b)


# --------------------------------------------------------------------------
# SimpleSURF feature detection + matching — alg/gdal_octave.cpp +
# alg/gdal_simplesurf.cpp + alg/gdalmatching.cpp at the reference
# defaults (octave 2, INTERVALS 4, SURF_THRESHOLD 0.001,
# MATCHING_THRESHOLD 0.015).  Engine: operators/surf.py — exact-integer
# luminosity units end-to-end (see its docstring for the float->int
# strengthening and the IEEE-deterministic Hessian), one applyInPandas
# group per image / per pair.  Oracle: an INDEPENDENT pure-SQL
# formulation — integral image via two window cumsums, every
# GetRectangleSum as four decorrelated integral lookups with the
# reference's corner clamps, 26-neighbor extremum join, descriptor
# quadrants via a generated (kp x quad x subquad) grid, and the
# matcher's quirky 2nd-nearest tracker reproduced with window prefix
# minima.  The oracle omits the greedy alreadyMatched exclusion
# (sequential state); tests/test_surf.py pins greedy == order-free on
# this fixture (each keypoint's nearest partner is unique and exact).
#
# Fixture (both engines render the SAME integer-arithmetic SQL): two
# 208x144 images of quadratic integer blobs; image 2 = image 1
# translated by (5, 3) with one blob amplitude-modified (220 -> 218)
# and the isolated top-right blob present in image 1 only.  Planted
# outcomes, all reference-faithful: 5 exact matches (3 blob centers +
# 2 saddles, dist2 = 0), the first-scanned saddle pair self-rejected
# by the matcher's best2 quirk (nearest scanned first => ratio 1,
# gdal_simplesurf.cpp:424-447), the modified pair accepted by the 0.8
# ratio test then pruned by the 0.015 normalized gate, the image-1-only
# blob unmatched (and, being the first -1-sign keypoint, anchoring
# every best2 scan > 0 — what makes greedy == order-free provable
# here).  Image-2 keypoint count < image-1 count exercises the
# collection swap (:389-402).
# --------------------------------------------------------------------------
_SURF_W, _SURF_H = 208, 144
_SURF_BLOBS = """
  SELECT 1 AS img, 185 AS bx, 40 AS bcy, 240 AS amp, 3 AS coef
  UNION ALL SELECT 1, 55, 50, 240, 3
  UNION ALL SELECT 1, 55, 75, 200, 2
  UNION ALL SELECT 1, 55, 100, 180, 3
  UNION ALL SELECT 1, 120, 70, 220, 5
  UNION ALL SELECT 2, 60, 53, 240, 3
  UNION ALL SELECT 2, 60, 78, 200, 2
  UNION ALL SELECT 2, 60, 103, 180, 3
  UNION ALL SELECT 2, 125, 73, 218, 5
"""

# {rng} = dialect row source: DuckDB "SELECT range AS {a} FROM range(N)",
# Spark "SELECT id AS {a} FROM range(N)"
_SURF_PIX_FMT = f"""
blobs AS ({_SURF_BLOBS}),
grid AS (
  SELECT i.img, x.px, y.py
  FROM (SELECT 1 AS img UNION ALL SELECT 2) i,
       (SELECT {{idc}} AS px FROM range({_SURF_W})) x,
       (SELECT {{idc}} AS py FROM range({_SURF_H})) y
),
pix AS (
  SELECT g.img, g.px, g.py,
         100 * least(coalesce(sum(greatest(
             b.amp - b.coef * ((g.px - b.bx) * (g.px - b.bx)
                               + (g.py - b.bcy) * (g.py - b.bcy)), 0)), 0),
           255) AS lum
  FROM grid g LEFT JOIN blobs b ON b.img = g.img
  GROUP BY g.img, g.px, g.py
)"""

_SURF_PIX_SPARK = (
    "WITH "
    + _SURF_PIX_FMT.format(idc="id")
    + " SELECT img AS image_id, px, py, lum FROM pix"
)


def _surf_gv(img: str, r: str, c: str) -> str:
    """GetValue(r, c) as a decorrelated integral lookup (0 outside)."""
    return (
        f"coalesce((SELECT s FROM ii WHERE ii.img = {img}"
        f" AND ii.r = ({r}) AND ii.c = ({c})), 0)"
    )


def _surf_rect(img: str, row: str, col: str, w: str, h: str) -> str:
    """GetRectangleSum (gdal_octave.cpp:82-119) with the reference's
    corner clamps, over exact-integer prefix sums."""
    ltr = f"(CASE WHEN ({row}) <= {_SURF_H} THEN ({row}) - 1 ELSE -1 END)"
    ltc = f"(CASE WHEN ({col}) <= {_SURF_W} THEN ({col}) - 1 ELSE -1 END)"
    rbr = f"(least(({row}) + ({h}) - 1, {_SURF_H} - 1))"
    rbc = f"(least(({col}) + ({w}) - 1, {_SURF_W} - 1))"
    return (
        f"greatest({_surf_gv(img, ltr, ltc)} + {_surf_gv(img, rbr, rbc)}"
        f" - {_surf_gv(img, ltr, rbc)} - {_surf_gv(img, rbr, ltc)}, 0)"
    )


def _surf_haar_x(img: str, row: str, col: str, size: int) -> str:
    return (
        _surf_rect(img, row, f"({col}) + {size // 2}", str(size // 2), str(size))
        + " - "
        + _surf_rect(img, row, col, str(size // 2), str(size))
    )


def _surf_haar_y(img: str, row: str, col: str, size: int) -> str:
    return (
        _surf_rect(img, f"({row}) + {size // 2}", col, str(size), str(size // 2))
        + " - "
        + _surf_rect(img, row, col, str(size), str(size // 2))
    )


# Hessian box responses (gdal_octave.cpp:184-199, incl. the asymmetric
# `c - lobe - 1` / `c - (lobe - 1) / 2` quirks) — lay params are grid
# columns (fs, lobe, lpart, rad).
_SURF_DXX = (
    _surf_rect("hg.img", "hg.r - hg.lobe + 1", "hg.c - hg.rad", "hg.fs", "hg.lpart")
    + " - 3 * "
    + _surf_rect(
        "hg.img",
        "hg.r - hg.lobe + 1",
        "hg.c - ((hg.lobe - 1) // 2)",
        "hg.lobe",
        "hg.lpart",
    )
)
_SURF_DYY = (
    _surf_rect("hg.img", "hg.r - hg.rad", "hg.c - hg.lobe - 1", "hg.lpart", "hg.fs")
    + " - 3 * "
    + _surf_rect(
        "hg.img", "hg.r - hg.lobe + 1", "hg.c - hg.lobe + 1", "hg.lpart", "hg.lobe"
    )
)
_SURF_DXY = (
    _surf_rect("hg.img", "hg.r - hg.lobe", "hg.c - hg.lobe", "hg.lobe", "hg.lobe")
    + " + "
    + _surf_rect("hg.img", "hg.r + 1", "hg.c + 1", "hg.lobe", "hg.lobe")
    + " - "
    + _surf_rect("hg.img", "hg.r - hg.lobe", "hg.c + 1", "hg.lobe", "hg.lobe")
    + " - "
    + _surf_rect("hg.img", "hg.r + 1", "hg.c - hg.lobe", "hg.lobe", "hg.lobe")
)

# descriptor grid: scale 4 (octave 2) -> haar 8, descSide 80, quad 20,
# sub 4 (gdal_simplesurf.cpp:301-358); cur = kp - 40 + q*20 + s*4 + 2 - 4
_SURF_CUR_R = "k.y - 40 + dq.qr * 20 + ds.sr * 4 - 2"
_SURF_CUR_C = "k.x - 40 + dq.qc * 20 + ds.sc * 4 - 2"

# Keypoints + long-format descriptors, shared by both SURF oracles.
_SURF_KP_CTES = f"""
lum AS (SELECT img, py AS r, px AS c, lum FROM pix),
rowc AS (
  SELECT img, r, c,
         sum(lum) OVER (PARTITION BY img, r ORDER BY c
                        ROWS UNBOUNDED PRECEDING) AS rs
  FROM lum
),
ii AS MATERIALIZED (
  SELECT img, r, c,
         sum(rs) OVER (PARTITION BY img, c ORDER BY r
                       ROWS UNBOUNDED PRECEDING) AS s
  FROM rowc
),
lay AS (
  SELECT CAST(t.lay AS INT) AS lay,
         3 * 4 * CAST(t.lay AS INT) + 1 AS fs
  FROM (SELECT range + 1 AS lay FROM range(4)) t
),
lay2 AS (
  SELECT lay, fs, (fs - 1) // 2 AS rad, fs // 3 AS lobe,
         2 * (fs // 3) - 1 AS lpart
  FROM lay
),
hg AS (
  SELECT i.img, l.lay, l.fs, l.rad, l.lobe, l.lpart, rr.r, cc.c
  FROM (SELECT 1 AS img UNION ALL SELECT 2) i
  CROSS JOIN lay2 l
  JOIN (SELECT range AS r FROM range({_SURF_H})) rr
    ON rr.r >= l.rad AND rr.r <= {_SURF_H} - l.rad
  JOIN (SELECT range AS c FROM range({_SURF_W})) cc
    ON cc.c >= l.rad AND cc.c <= {_SURF_W} - l.rad
),
hraw AS MATERIALIZED (
  SELECT hg.img, hg.lay, hg.r, hg.c, hg.fs,
         {_SURF_DXX} AS ixx, {_SURF_DYY} AS iyy, {_SURF_DXY} AS ixy
  FROM hg
),
hes AS MATERIALIZED (
  SELECT img, lay, r, c,
         (CAST(ixx AS DOUBLE) / CAST(fs * fs * 25500 AS DOUBLE))
           * (CAST(iyy AS DOUBLE) / CAST(fs * fs * 25500 AS DOUBLE))
         - 9.0e-1 * 9.0e-1
           * (CAST(ixy AS DOUBLE) / CAST(fs * fs * 25500 AS DOUBLE))
           * (CAST(ixy AS DOUBLE) / CAST(fs * fs * 25500 AS DOUBLE)) AS det,
         CASE WHEN CAST(ixx AS DOUBLE) / CAST(fs * fs * 25500 AS DOUBLE)
                   + CAST(iyy AS DOUBLE) / CAST(fs * fs * 25500 AS DOUBLE)
                   >= 0.0e0 THEN 1 ELSE -1 END AS sgn
  FROM hraw
),
tri AS (
  SELECT 0 AS k, 1 AS bot, 2 AS mid, 3 AS top, 18 AS trad, 12 AS mrad
  UNION ALL SELECT 1, 2, 3, 4, 24, 18
),
kp0 AS MATERIALIZED (
  SELECT m.img, t.k, m.r, m.c, m.sgn, t.mrad
  FROM hes m
  JOIN tri t ON m.lay = t.mid
  JOIN hes n ON n.img = m.img AND n.lay BETWEEN t.bot AND t.top
     AND n.r BETWEEN m.r - 1 AND m.r + 1
     AND n.c BETWEEN m.c - 1 AND m.c + 1
     AND NOT (n.lay = m.lay AND n.r = m.r AND n.c = m.c)
  WHERE m.det >= 1.0e-3
    AND m.r > t.trad AND m.c > t.trad
    AND m.r + t.trad < {_SURF_H} AND m.c + t.trad < {_SURF_W}
  GROUP BY m.img, t.k, m.r, m.c, m.sgn, t.mrad, m.det
  HAVING count(*) = 26 AND bool_and(n.det < m.det)
),
kp AS (
  SELECT img, CAST(row_number() OVER (PARTITION BY img ORDER BY k, r, c)
                   - 1 AS INT) AS kp,
         c AS x, r AS y, 4 AS scale, mrad AS radius, sgn
  FROM kp0
),
dgrid AS (
  SELECT k.img, k.kp, k.x, k.y, k.scale, k.radius, k.sgn,
         CAST(dq.qr * 4 + dq.qc AS INT) AS quad,
         {_surf_haar_x("k.img", _SURF_CUR_R, _SURF_CUR_C, 8)} AS hx,
         {_surf_haar_y("k.img", _SURF_CUR_R, _SURF_CUR_C, 8)} AS hy
  FROM kp k
  CROSS JOIN (SELECT a.range AS qr, b.range AS qc
              FROM range(4) a, range(4) b) dq
  CROSS JOIN (SELECT a.range AS sr, b.range AS sc
              FROM range(5) a, range(5) b) ds
),
dsc AS MATERIALIZED (
  SELECT img, kp, x, y, scale, radius, sgn, quad,
         CAST(sum(hx) AS BIGINT) AS dx, CAST(sum(hy) AS BIGINT) AS dy,
         CAST(sum(abs(hx)) AS BIGINT) AS adx,
         CAST(sum(abs(hy)) AS BIGINT) AS ady
  FROM dgrid
  GROUP BY img, kp, x, y, scale, radius, sgn, quad
)"""

_SURF_FEAT_ORACLE = (
    "WITH "
    + _SURF_PIX_FMT.format(idc="range")
    + ",\n"
    + _SURF_KP_CTES
    + """
SELECT CAST(img AS INT) AS image_id, kp, CAST(x AS INT) AS x,
       CAST(y AS INT) AS y, CAST(scale AS INT) AS scale,
       CAST(radius AS INT) AS radius, CAST(sgn AS INT) AS sign,
       quad, dx, dy, adx, ady
FROM dsc
"""
)

# Matching (gdal_simplesurf.cpp:364-480): image 2 has fewer keypoints
# -> the reference swaps so the scan iterates image-2 keypoints (i)
# against image-1 candidates (j) in keypoint-index order.  best2 is
# the quirky tracker: min over the first candidate's distance and
# every non-prefix-min distance.  alreadyMatched omitted (pinned
# equivalent on this fixture, tests/test_surf.py).
_SURF_MATCH_ORACLE = (
    "WITH "
    + _SURF_PIX_FMT.format(idc="range")
    + ",\n"
    + _SURF_KP_CTES
    + """,
d2 AS MATERIALIZED (
  SELECT a.kp AS i, b.kp AS j, a.sgn,
         a.x AS x2, a.y AS y2, a.scale AS scale2,
         b.x AS x1, b.y AS y1, b.scale AS scale1,
         CAST(sum((a.dx - b.dx) * (a.dx - b.dx)
                  + (a.dy - b.dy) * (a.dy - b.dy)
                  + (a.adx - b.adx) * (a.adx - b.adx)
                  + (a.ady - b.ady) * (a.ady - b.ady)) AS BIGINT) AS d
  FROM dsc a JOIN dsc b
    ON a.img = 2 AND b.img = 1 AND a.sgn = b.sgn AND a.quad = b.quad
  GROUP BY a.kp, b.kp, a.sgn, a.x, a.y, a.scale, b.x, b.y, b.scale
),
scan AS (
  SELECT *,
         row_number() OVER (PARTITION BY i ORDER BY j) AS rn,
         min(d) OVER (PARTITION BY i ORDER BY j
                      ROWS UNBOUNDED PRECEDING) AS runmin
  FROM d2
),
agg AS (
  SELECT i,
         min(d) AS best,
         arg_min(j, d) AS bi,
         min(CASE WHEN rn = 1 OR d > runmin THEN d END) AS best2,
         arg_min(x1, d) AS x1, arg_min(y1, d) AS y1,
         arg_min(scale1, d) AS scale1,
         any_value(x2) AS x2, any_value(y2) AS y2,
         any_value(scale2) AS scale2, any_value(sgn) AS sgn
  FROM scan GROUP BY i
),
acc AS (
  SELECT * FROM agg
  WHERE best2 > 0 AND best >= 0
    AND 25 * CAST(best AS HUGEINT) < 16 * CAST(best2 AS HUGEINT)
),
mx AS (SELECT coalesce(max(best), 0) AS m FROM acc)
SELECT 1 AS pair_id,
       CAST(row_number() OVER (ORDER BY i) - 1 AS INT) AS match_idx,
       CAST(x1 AS INT) AS x1, CAST(y1 AS INT) AS y1,
       CAST(x2 AS INT) AS x2, CAST(y2 AS INT) AS y2,
       CAST(scale1 AS INT) AS scale1, CAST(scale2 AS INT) AS scale2,
       CAST(sgn AS INT) AS sign, best AS dist2
FROM acc, mx
WHERE 40000 * CAST(best AS HUGEINT) <= 9 * CAST(mx.m AS HUGEINT)
"""
)


@register("surf_features", _SURF_FEAT_ORACLE)
def q_surf_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURF keypoints + exact-integer descriptors for both fixture
    images, one row per (keypoint, quadrant); one applyInPandas group
    per image (the multimodal corpus contract)."""
    from gdal_spark.operators.surf import surf_features

    return surf_features(spark.sql(_SURF_PIX_SPARK))


@register("surf_match", _SURF_MATCH_ORACLE)
def q_surf_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end GDALComputeMatchingPoints: detect on both images,
    greedy-match descriptors, ratio + normalized-distance pruning;
    one applyInPandas group per image pair."""
    from gdal_spark.operators.surf import surf_match

    pix = spark.sql(_SURF_PIX_SPARK).selectExpr(
        "1 AS pair_id", "image_id", "px", "py", "lum"
    )
    return surf_match(pix)


# --------------------------------------------------------------------------
# Exact duplicated-substring REMOVAL (training-data pipeline): the
# ExactSubstr operation of Lee et al. 2022 ("Deduplicating Training
# Data Makes Language Models Better", arXiv:2107.06499) — every word
# position covered by a K-gram that occurs in MORE THAN ONE document is
# cut from the text, except in the gram's canonical keeper document
# (MIN doc_id), which keeps its copy.  Complements `dup_spans` (the
# diagnostic fraction): this emits the CLEANED corpus.  Documented
# divergence from the suffix-array tool: keeper = min doc_id instead of
# first byte offset in a concatenated corpus (a deterministic
# canonicalization; the reference's order depends on shard layout).
# Scale shape: one gram-key shuffle with map-side combine (count
# distinct docs + min doc per gram), the g⋈c join reuses the gram
# exchange, one doc-key groupBy collects each doc's duplicated starts,
# and the rebuild is pure JVM lambdas over the un-exploded word array
# (position-indexed `filter(w, (x, i) -> ...)`) — the corpus text
# itself never word-explodes on the rebuild path.  The DuckDB oracle is
# an INDEPENDENT formulation (word-position explode + anti-join against
# the covered-position set + ordered string_agg), not shared text.
# --------------------------------------------------------------------------
_SSD_K = 5

_SSD_ORACLE = f"""
WITH s AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
g AS (
  SELECT doc_id, st,
         array_to_string(list_slice(w, st, st + {_SSD_K - 1}), ' ') AS gram
  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - {_SSD_K - 1})) AS st
        FROM s WHERE len(w) >= {_SSD_K})
),
c AS (SELECT gram, COUNT(DISTINCT doc_id) AS ndocs, MIN(doc_id) AS keeper
      FROM g GROUP BY gram),
d AS (SELECT g.doc_id, g.st FROM g JOIN c USING (gram)
      WHERE c.ndocs > 1 AND g.doc_id <> c.keeper),
cov AS (SELECT DISTINCT doc_id, st + k AS pos
        FROM (SELECT doc_id, st, unnest(generate_series(0, {_SSD_K - 1})) AS k
              FROM d)),
wp AS (SELECT doc_id, pos, w[pos] AS word
       FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS pos
             FROM s)),
kept AS (SELECT wp.doc_id, wp.pos, wp.word
         FROM wp LEFT JOIN cov ON wp.doc_id = cov.doc_id AND wp.pos = cov.pos
         WHERE cov.doc_id IS NULL),
agg AS (SELECT doc_id, COUNT(*) AS n_kept,
               string_agg(word, ' ' ORDER BY pos) AS cleaned
        FROM kept GROUP BY doc_id)
SELECT s.doc_id,
       CAST(len(s.w) AS BIGINT) AS n_words,
       CAST(len(s.w) - COALESCE(agg.n_kept, 0) AS BIGINT) AS n_removed,
       COALESCE(agg.cleaned, '') AS cleaned_text
FROM s LEFT JOIN agg USING (doc_id)
"""


def _apply_span_removal(docs_w: DataFrame, dup: DataFrame, k: int) -> DataFrame:
    """Cut every word position covered by a flagged K-gram start.

    ``docs_w``: (doc_id, w array<string>); ``dup``: (doc_id, st) with st
    the 1-based start of a flagged gram.  The rebuild stays on the
    un-exploded array: per-doc flagged starts are collected once
    (bounded by the doc's own gram count), joined back on doc_id, and
    the cut is a position-indexed JVM lambda — no word-level explode,
    no Python."""
    starts = dup.groupBy("doc_id").agg(F.collect_set("st").alias("starts"))
    return (
        docs_w.join(starts, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "CAST(size(w) AS BIGINT) AS n_words",
            f"""CASE WHEN starts IS NULL THEN w
                 ELSE filter(w, (x, i) -> NOT exists(starts,
                      s -> s <= i + 1 AND i + 1 < s + {k})) END AS kept""",
        )
        .selectExpr(
            "doc_id",
            "n_words",
            "CAST(n_words - size(kept) AS BIGINT) AS n_removed",
            "array_join(kept, ' ') AS cleaned_text",
        )
    )


@register("substring_dedup", _SSD_ORACLE)
def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-doc ExactSubstr removal: K=5 word-gram spans occurring in
    >1 document are cut everywhere except the MIN-doc_id keeper.

    The gram's shuffle identity is its md5 as two BIGINTs (the
    dedup_exact md5-identity contract), computed map-side so the
    gram-key exchange carries 16-byte keys instead of ~50-byte salted
    strings — measured ~25% faster at the 500k-doc capacity point, and
    the win grows with gram length.  The explicit repartition on
    (h1, h2) is consumed by BOTH the count aggregate and the join probe
    (one corpus shuffle, Spark reuses the exchange)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    s = d.select("doc_id", F.split("text", " ").alias("w"))
    gram = f"md5(array_join(slice(w, st, {_SSD_K}), ' '))"
    g = (
        s.filter(F.size("w") >= _SSD_K)
        .select(
            "doc_id", "w",
            F.explode(F.expr(f"sequence(1, size(w) - {_SSD_K - 1})")).alias("st"),
        )
        .selectExpr(
            "doc_id", "st",
            f"CAST(conv(substring({gram}, 1, 15), 16, 10) AS BIGINT) AS h1",
            f"CAST(conv(substring({gram}, 17, 15), 16, 10) AS BIGINT) AS h2",
        )
        .repartition("h1", "h2")
    )
    c = g.groupBy("h1", "h2").agg(
        F.countDistinct("doc_id").alias("ndocs"), F.min("doc_id").alias("keeper")
    )
    dup = (
        g.join(c, ["h1", "h2"])
        .filter((F.col("ndocs") > 1) & (F.col("doc_id") != F.col("keeper")))
        .select("doc_id", "st")
    )
    return _apply_span_removal(s, dup, _SSD_K)


# --------------------------------------------------------------------------
# Within-doc repeated-span removal (training-data pipeline): the Dolma/
# RefinedWeb in-document repetition cut — any K-gram occurrence whose
# start is strictly after the gram's FIRST occurrence in the SAME doc
# is flagged, and flagged spans are cut (first occurrence survives;
# positions only covered by first-occurrence grams stay).  The synthetic
# texts rarely self-repeat, so repeats are planted in-query (docs with
# doc_id % 7 == 0 re-append their own first 8 words — the house
# planted-clone pattern), proving the removal path is non-vacuous.
# Same scale shape as substring_dedup but the gram reduce keys on
# (doc_id, gram) — skew-free by construction.  Oracle: the independent
# word-position formulation again.
# --------------------------------------------------------------------------
_RR_ORACLE = f"""
WITH s0 AS (SELECT doc_id, string_split(text, ' ') AS v FROM documents),
s AS (SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN list_concat(v, list_slice(v, 1, 8))
                  ELSE v END AS w
      FROM s0),
g AS (
  SELECT doc_id, st,
         array_to_string(list_slice(w, st, st + {_SSD_K - 1}), ' ') AS gram
  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - {_SSD_K - 1})) AS st
        FROM s WHERE len(w) >= {_SSD_K})
),
f AS (SELECT doc_id, gram, MIN(st) AS st0 FROM g GROUP BY doc_id, gram),
d AS (SELECT g.doc_id, g.st FROM g JOIN f
        ON g.doc_id = f.doc_id AND g.gram = f.gram
      WHERE g.st > f.st0),
cov AS (SELECT DISTINCT doc_id, st + k AS pos
        FROM (SELECT doc_id, st, unnest(generate_series(0, {_SSD_K - 1})) AS k
              FROM d)),
wp AS (SELECT doc_id, pos, w[pos] AS word
       FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS pos
             FROM s)),
kept AS (SELECT wp.doc_id, wp.pos, wp.word
         FROM wp LEFT JOIN cov ON wp.doc_id = cov.doc_id AND wp.pos = cov.pos
         WHERE cov.doc_id IS NULL),
agg AS (SELECT doc_id, COUNT(*) AS n_kept,
               string_agg(word, ' ' ORDER BY pos) AS cleaned
        FROM kept GROUP BY doc_id)
SELECT s.doc_id,
       CAST(len(s.w) AS BIGINT) AS n_words,
       CAST(len(s.w) - COALESCE(agg.n_kept, 0) AS BIGINT) AS n_removed,
       COALESCE(agg.cleaned, '') AS cleaned_text
FROM s LEFT JOIN agg USING (doc_id)
"""


@register("repeat_removal", _RR_ORACLE)
def q_repeat_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc repeated K-gram removal; first occurrence survives."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    s = d.selectExpr(
        "doc_id",
        "CASE WHEN doc_id % 7 = 0"
        " THEN concat(split(text, ' '), slice(split(text, ' '), 1, 8))"
        " ELSE split(text, ' ') END AS w",
    )
    gram = f"md5(array_join(slice(w, st, {_SSD_K}), ' '))"
    g = (
        s.filter(F.size("w") >= _SSD_K)
        .select(
            "doc_id", "w",
            F.explode(F.expr(f"sequence(1, size(w) - {_SSD_K - 1})")).alias("st"),
        )
        .selectExpr(
            "doc_id", "st",
            f"CAST(conv(substring({gram}, 1, 15), 16, 10) AS BIGINT) AS h1",
            f"CAST(conv(substring({gram}, 17, 15), 16, 10) AS BIGINT) AS h2",
        )
        .repartition("doc_id")
    )
    firsts = g.groupBy("doc_id", "h1", "h2").agg(F.min("st").alias("st0"))
    dup = (
        g.join(firsts, ["doc_id", "h1", "h2"])
        .filter(F.col("st") > F.col("st0"))
        .select("doc_id", "st")
    )
    return _apply_span_removal(s, dup, _SSD_K)


# --------------------------------------------------------------------------
# Count-min-sketch heavy hitters (Cormode & Muthukrishnan 2005): the
# second mergeable-sketch family next to `hll_cardinality` — word
# BIGRAM corpus frequencies (~10^3 distinct items, so the 4x64 grid
# genuinely collides and the estimate is a real overestimate, not a
# lookup) summarized into a d=4 x w=64 counter grid whose cells are
# plain SUMs (distributive => map-side combine, mergeable across
# partitions/snapshots/streams), then the top-10 bigrams by exact
# count scored with their CMS estimate and the overestimate the sketch
# guarantees to be >= 0 (pytest-pinned together with the eps*N bound).
# Scale shape: the corpus reduces ONCE (groupBy word, map-side
# combined); the sketch build folds over the per-word partial counts
# (identical counters by distributivity — the raw stream is never
# re-scanned), so everything past `cnt` is vocabulary-dim-sized.  The
# md5 row hashes are SQL-reproducible, so DuckDB rebuilds every counter
# bit-identically; all math stays BIGINT.  Spark runs the chain through
# _run_cte_chain (cnt/wh multiply-referenced — WITH would re-execute
# the corpus scan per reference).
# --------------------------------------------------------------------------
_CMS_D = 4
_CMS_W = 64
_CMS_TOPK = 10


def _cms_ctes(slice_sql: str, gen_st: str, len_fn: str, j_gen: str, vch: str,
              hx_open: str, hx_close: str) -> tuple[list[tuple[str, str]], str]:
    ctes = [
        ("s", "SELECT {split}(text, ' ') AS w FROM documents".format(
            split="string_split" if vch == "VARCHAR" else "split")),
        ("words",
         f"SELECT {slice_sql} AS word "
         f"FROM (SELECT w, {gen_st} AS st FROM s WHERE {len_fn}(w) >= 2)"),
        ("cnt",
         "SELECT word, CAST(COUNT(*) AS BIGINT) AS c FROM words GROUP BY word"),
        ("wh",
         f"SELECT word, c, j, "
         f"{hx_open}substring(md5(word || '#' || CAST(j AS {vch})), 1, 7)"
         f"{hx_close} % {_CMS_W} AS bucket FROM cnt{j_gen}"),
        ("counters",
         "SELECT j, bucket, CAST(SUM(c) AS BIGINT) AS n "
         "FROM wh GROUP BY j, bucket"),
        ("est",
         "SELECT word, CAST(MIN(n) AS BIGINT) AS cms "
         "FROM wh JOIN counters USING (j, bucket) GROUP BY word"),
    ]
    final = (
        "SELECT word, c AS exact_count, cms AS cms_estimate, "
        "CAST(cms - c AS BIGINT) AS overestimate "
        f"FROM cnt JOIN est USING (word) ORDER BY c DESC, word LIMIT {_CMS_TOPK}"
    )
    return ctes, final


_CMS_ORACLE = _with_chain(*_cms_ctes(
    "array_to_string(list_slice(w, st, st + 1), ' ')",
    "unnest(generate_series(1, len(w) - 1))", "len",
    f", range(0, {_CMS_D}) t(j)", "VARCHAR",
    "CAST(('0x' || ", ")::BIGINT AS BIGINT)",
))


@register("heavy_hitters", _CMS_ORACLE)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d.createOrReplaceTempView("documents")
    ctes, final = _cms_ctes(
        "array_join(slice(w, st, 2), ' ')",
        "explode(sequence(1, size(w) - 1))", "size",
        f" LATERAL VIEW explode(sequence(0, {_CMS_D - 1})) t AS j",
        "STRING", "CAST(conv(", ", 16, 10) AS BIGINT)",
    )
    return _run_cte_chain(spark, ctes, final, materialize={"cnt", "wh"})


# --------------------------------------------------------------------------
# Deterministic weighted sampling without replacement (Efraimidis &
# Spirakis 2006 exponential race): sample the 50 docs minimizing
# -ln(u)/weight with u a 53-bit md5 uniform per doc — selection
# probability proportional to n_chars, reproducible under repartition/
# resume (no RNG state, the same property stratified_sample pins for
# the uniform case).  Exactness: -ln(u) is floor-quantized ONCE per doc
# to BIGINT micro-units (the dsir_weights ln pattern; grid-distance
# audit in tests/test_textclean.py), and the race key is the exact
# integer floor-division (lnu_micro * 1e9) DIV weight — ordering needs
# no doubles, ties break on doc_id.  Scale shape: pure codegen
# projection + distributed top-K (TakeOrderedAndProject) — no global
# sort, no shuffle beyond the K-row reduction.
# --------------------------------------------------------------------------
_WS_K = 50
_TWO53 = "9.007199254740992e15"


def _weighted_sample_sql(vch: str, hx_open: str, hx_close: str,
                         dv: str) -> str:
    return f"""
WITH h AS (
  SELECT doc_id, n_chars,
         {hx_open}substring(md5(CAST(doc_id AS {vch})), 1, 13){hx_close} AS hv
  FROM documents
),
k AS (
  SELECT doc_id, n_chars,
         CAST(floor((0.0e0 - ln((CAST(hv AS DOUBLE) * 2.0e0 + 1.0e0)
               / {_TWO53})) * 1.0e6) AS BIGINT) AS lnu_micro
  FROM h
)
SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
       CAST((lnu_micro * 1000000000) {dv} n_chars AS BIGINT) AS race_key
FROM k
ORDER BY race_key ASC, doc_id ASC
LIMIT {_WS_K}
"""


_WS_ORACLE = _weighted_sample_sql(
    "VARCHAR", "CAST(('0x' || ", ")::BIGINT AS BIGINT)", "//")


@register("weighted_sample", _WS_ORACLE)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d.createOrReplaceTempView("documents")
    return spark.sql(_weighted_sample_sql(
        "STRING", "CAST(conv(", ", 16, 10) AS BIGINT)", "DIV"))


# --------------------------------------------------------------------------
# Per-doc gram novelty vs the preceding corpus (training-data
# pipeline): for each document, the fraction of its word 5-grams whose
# FIRST corpus occurrence (min doc_id — the same deterministic order
# corpus_shuffle/dedup keepers use) is an earlier document.  The
# memorization-risk / dataset-freshness diagnostic: novelty_ppm near 0
# means the doc is assembled from already-seen phrases.  One gram-key
# shuffle (min + count distinct fold map-side), join reuses the gram
# exchange, one doc-key reduce; identical text both engines.
# --------------------------------------------------------------------------
def _gram_novelty_sql(split_fn: str, len_fn: str, slice_sql: str) -> str:
    return f"""
WITH s AS (SELECT doc_id, {split_fn}(text, ' ') AS w FROM documents),
g AS (
  SELECT doc_id, {slice_sql} AS gram
  FROM (SELECT doc_id, w, unnest(generate_series(1, {len_fn}(w) - {_SSD_K - 1})) AS st
        FROM s WHERE {len_fn}(w) >= {_SSD_K})
),
m AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram)
SELECT g.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN m.first_doc < g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_seen_before,
       CAST(floor(1.0e6 * (COUNT(*) - SUM(CASE WHEN m.first_doc < g.doc_id
                                              THEN 1 ELSE 0 END))
                  / COUNT(*)) AS BIGINT) AS novelty_ppm
FROM g JOIN m USING (gram)
GROUP BY g.doc_id
"""


_GN_ORACLE = _gram_novelty_sql(
    "string_split", "len",
    f"array_to_string(list_slice(w, st, st + {_SSD_K - 1}), ' ')",
)


@register("gram_novelty", _GN_ORACLE)
def q_gram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d.createOrReplaceTempView("documents")
    return spark.sql(_gram_novelty_sql(
        "split", "size", f"array_join(slice(w, st, {_SSD_K}), ' ')",
    ).replace("unnest(generate_series(1,", "explode(sequence(1,"))


# --------------------------------------------------------------------------
# Language-mix entropy per source (curation diagnostic): the Shannon
# entropy of each source's language distribution, the signal crawl
# pipelines use to flag mixed-language hosts.  The per-(source, lang)
# term -p·ln(p) is computed ONCE per pair and floor-quantized to BIGINT
# micro-nats (the dsir/bm25 ln pattern: the per-source sum is then an
# exact integer aggregate in any order); p itself is one IEEE division
# of two BIGINTs — identical bits both engines.  Two tiny reduces: the
# corpus folds to the (source, lang) dim map-side, everything after is
# dim-sized.
# --------------------------------------------------------------------------
_LANG_ENT_SQL = """
WITH sl AS (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents GROUP BY source, lang
),
n AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_docs,
             CAST(COUNT(*) AS BIGINT) AS n_langs
      FROM sl GROUP BY source),
t AS (
  SELECT sl.source, sl.c, n.n_docs, n.n_langs,
         CAST(floor(0.0e0 - 1.0e6 * (CAST(sl.c AS DOUBLE) / CAST(n.n_docs AS DOUBLE))
              * ln(CAST(sl.c AS DOUBLE) / CAST(n.n_docs AS DOUBLE))) AS BIGINT)
           AS term_micro
  FROM sl JOIN n USING (source)
)
SELECT source,
       MIN(n_docs) AS n_docs,
       MIN(n_langs) AS n_langs,
       CAST(SUM(term_micro) AS BIGINT) AS entropy_micronats
FROM t
GROUP BY source
"""


@register("lang_entropy", _LANG_ENT_SQL)
def q_lang_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d.createOrReplaceTempView("documents")
    return spark.sql(_LANG_ENT_SQL)


# --------------------------------------------------------------------------
# BPE tokenization (training-data pipeline): real byte-pair-encoding
# merge application (Sennrich et al. 2016; the GPT-2 apply loop) —
# per doc, the token count under a fixed 12-merge table, plus the
# visible tokenization of the doc's first word.  The merge table is a
# tokenizer artifact (frozen literals incl. cascaded merges pa+r, m+er,
# sc+a, so rank priority is exercised); see operators/bpe.py for the
# one-at-a-time = batch equivalence argument.  Scale shape: two corpus
# reduces (vocab pass + doc-scoring pass — inherent to word-cached
# BPE); the Python loop runs ONLY on the distinct-word dim inside one
# mapInPandas, and the (word -> n_toks) dim broadcasts back, so the
# corpus side stays JVM.  Oracle: a DuckDB RECURSIVE CTE stepping the
# SAME min-rank/leftmost/one-per-step program over list-of-token
# states; each step shrinks the list by one, so the terminal state per
# word is the min-length row.
# --------------------------------------------------------------------------
_BPE_MERGES_VALUES = ", ".join(
    f"({rank}, '{left}', '{right}')"
    for rank, (left, right) in enumerate([
        ("e", "r"), ("o", "r"), ("i", "n"), ("o", "w"),
        ("s", "t"), ("l", "u"), ("p", "a"), ("pa", "r"),
        ("m", "er"), ("a", "t"), ("s", "c"), ("sc", "a"),
    ])
)

# The merges/vocab/rec/term/tok chain is shared by bpe_encode and
# token_fertility (one formula text, composed — the _dsir_oracle_ctes
# pattern).
_BPE_TOK_CTES = f"""WITH RECURSIVE
merges(rank, l, r) AS (SELECT * FROM (VALUES {_BPE_MERGES_VALUES})),
vocab AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS word FROM documents),
rec(word, toks) AS (
  SELECT word,
         list_transform(generate_series(1, length(word)),
                        i -> substring(word, i, 1)) AS toks
  FROM vocab
  UNION ALL
  SELECT word,
         list_slice(toks, 1, pos - 1) || [pair]
           || list_slice(toks, pos + 2, len(toks)) AS toks
  FROM (
    SELECT word, toks, pos, pair,
           ROW_NUMBER() OVER (PARTITION BY word ORDER BY rank, pos) AS rn
    FROM (
      SELECT r.word, r.toks, r.i AS pos, m.rank, m.l || m.r AS pair
      FROM (SELECT word, toks, unnest(generate_series(1, len(toks) - 1)) AS i
            FROM rec) r
      JOIN merges m ON r.toks[r.i] = m.l AND r.toks[r.i + 1] = m.r
    )
  ) WHERE rn = 1
),
term AS (
  SELECT word, toks FROM (
    SELECT word, toks,
           ROW_NUMBER() OVER (PARTITION BY word ORDER BY len(toks)) AS rn
    FROM rec
  ) WHERE rn = 1
),
tok AS (SELECT word, CAST(len(toks) AS BIGINT) AS n_toks,
               array_to_string(toks, '|') AS toks_pipe
        FROM term)"""

_BPE_ORACLE = f"""{_BPE_TOK_CTES},
occ AS (SELECT doc_id, string_split(text, ' ')[1] AS w0,
               unnest(string_split(text, ' ')) AS word
        FROM documents),
agg AS (
  SELECT o.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(t.n_toks) AS BIGINT) AS n_tokens,
         MIN(o.w0) AS w0
  FROM occ o JOIN tok t USING (word)
  GROUP BY o.doc_id
)
SELECT agg.doc_id, agg.n_words, agg.n_tokens,
       tok.toks_pipe AS first_word_toks
FROM agg JOIN tok ON agg.w0 = tok.word
"""


@register("bpe_encode", _BPE_ORACLE)
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.bpe import encode_vocab

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    occ = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word")
    )
    tok = encode_vocab(occ.select("word").distinct())
    agg = (
        occ.join(F.broadcast(tok), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
            F.expr("min_by(word, pos)").alias("w0"),
        )
    )
    first = tok.selectExpr("word AS w0", "toks_pipe AS first_word_toks")
    return agg.join(F.broadcast(first), "w0").select(
        "doc_id", "n_words", "n_tokens", "first_word_toks"
    )


# --------------------------------------------------------------------------
# Clean collar, FLOODFILL mode (apps/nearblack_lib_floodfill.cpp):
# closes the scanline `nearblack` query's documented divergence — the
# collar is everything near-black 4-CONNECTED to the border, so the
# fixture's concave bay (entered vertically through a channel, guarded
# horizontally by bright pixels — the prefix/suffix scan provably
# cannot trim it) blanks, while the interior near-black lake (not
# border-connected) survives.  Engine: the polygonize tile-CC kernel
# over the near-black mask + border-label semi-join (operators/
# raster.py:nearblack_floodfill).  Oracle: a DuckDB RECURSIVE-UNION
# breadth-first closure seeded from every border mask pixel — an
# independent formulation of connectivity, additionally cross-checked
# by a numpy BFS in tests/test_floodfill.py.
# --------------------------------------------------------------------------
_NBF_VAL = (
    "CASE WHEN px < 4 OR px > 395 OR py < 3 OR py > 196 THEN (px + py) % 3"
    " WHEN px BETWEEN 20 AND 23 AND py BETWEEN 3 AND 20 THEN (px * py) % 3"
    " WHEN px BETWEEN 24 AND 60 AND py BETWEEN 18 AND 20 THEN 1"
    " WHEN px BETWEEN 100 AND 110 AND py BETWEEN 50 AND 60 THEN 2"
    " ELSE 3 + (px * 7 + py * 13) % 250 END"
)

_NBF_ORACLE = f"""
WITH RECURSIVE g AS ({_SRC_GRID_CTE}),
v AS (SELECT px, py, CAST({_NBF_VAL} AS int) AS value FROM g WHERE band = 1),
m AS (SELECT px, py FROM v WHERE value <= 2),
reach AS (
  SELECT px, py FROM m WHERE px = 0 OR px = 399 OR py = 0 OR py = 199
  UNION
  SELECT m.px, m.py
  FROM reach r JOIN m ON (m.px = r.px AND abs(m.py - r.py) = 1)
                      OR (m.py = r.py AND abs(m.px - r.px) = 1)
)
SELECT v.px, v.py,
       CAST(CASE WHEN r.px IS NOT NULL THEN 0 ELSE v.value END AS int) AS value
FROM v LEFT JOIN reach r ON v.px = r.px AND v.py = r.py
"""


@register("nearblack_floodfill", _NBF_ORACLE)
def q_nearblack_floodfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Floodfill clean-collar on the bay-and-lake fixture."""
    from gdal_spark.operators.raster import (
        SRC_H, SRC_W, nearblack_floodfill, source_grid,
    )

    g = source_grid(spark).filter(F.col("band") == 1)
    pix = g.select("px", "py", F.expr(_NBF_VAL).cast("int").alias("value"))
    return nearblack_floodfill(pix, SRC_W, SRC_H, near_dist=2)


# --------------------------------------------------------------------------
# BPE merge LEARNING (tokenizer training, Sennrich et al. 2016 learn
# loop): discover the top-R merges from the corpus — per round, count
# corpus-weighted adjacent symbol pairs over the current tokenization,
# take the argmax (ties: lexicographically smallest pair — a
# deterministic canonicalization), and re-tokenize by merging ALL
# occurrences.  Self-pairs (l == r) are EXCLUDED from candidates
# (documented contract): for l <> r every occurrence is provably
# disjoint (an overlap at i, i+1 forces r == l), so the simultaneous
# merge is well-defined in one pass of pure list lambdas — no
# sequential scan, no Python anywhere (unlike bpe_encode's word-dim
# apply loop, the LEARNER is a single Catalyst plan of JVM
# higher-order functions).  Scale shape: the corpus reduces ONCE to
# the (word, freq) dim (map-side combined); each of the R=6 rounds is
# two dim-sized reduces + a 1-row broadcast of the winning pair — the
# standard distributed tokenizer-train shape.  Spark runs the chain
# through _run_cte_chain (each tk stage feeds its pair count AND the
# next round); output = the learned merge table itself (rank, pair,
# corpus count).  Note: bpe_train's tie-break (smallest pair) is
# intentionally independent of bpe_encode's frozen artifact (learned
# offline with a largest-pair tie-break); the pytest recompute pins
# THESE semantics.
# --------------------------------------------------------------------------
_BPT_R = 6


def _bpt_ctes(vch: str) -> tuple[list[tuple[str, str]], str]:
    duck = vch == "VARCHAR"
    len_fn = "len" if duck else "size"
    if duck:
        def chars(w):
            return (f"list_transform(generate_series(1, length({w})),"
                    f" i -> substring({w}, i, 1))")
        unnest_w = "unnest(string_split(text, ' '))"
        pos_gen = "unnest(generate_series(1, len(toks) - 1))"

        def ms_expr():
            return ("list_filter(generate_series(1, len(toks) - 1),"
                    " i -> toks[i] = l0 AND toks[i + 1] = r0)")

        def apply_expr():
            return ("list_transform("
                    "list_filter(generate_series(1, len(toks)),"
                    " p -> NOT list_contains(ms, p - 1)),"
                    " p -> CASE WHEN list_contains(ms, p) THEN l0 || r0"
                    " ELSE toks[p] END)")
        elem_l, elem_r = "toks[i]", "toks[i + 1]"
    else:
        def chars(w):
            return (f"transform(sequence(1, length({w})),"
                    f" i -> substring({w}, i, 1))")
        unnest_w = "explode(split(text, ' '))"
        pos_gen = "explode(sequence(1, size(toks) - 1))"

        def ms_expr():
            # sequence over the FULL index range (sequence(1, 0) would
            # descend) with try_element_at guarding the i+1 lookup
            return ("filter(sequence(1, size(toks)),"
                    " i -> element_at(toks, i) = l0"
                    " AND try_element_at(toks, i + 1) = r0)")

        def apply_expr():
            return ("transform("
                    "filter(sequence(1, size(toks)),"
                    " p -> NOT array_contains(ms, p - 1)),"
                    " p -> CASE WHEN array_contains(ms, p) THEN concat(l0, r0)"
                    " ELSE element_at(toks, p) END)")
        elem_l, elem_r = "element_at(toks, i)", "element_at(toks, i + 1)"

    ctes: list[tuple[str, str]] = [
        ("w0", f"SELECT {unnest_w} AS word FROM documents"),
        ("tk0",
         f"SELECT word, CAST(COUNT(*) AS BIGINT) AS f, {chars('word')} AS toks "
         "FROM w0 GROUP BY word"),
    ]
    for r in range(_BPT_R):
        ctes.append((
            f"pairs{r}",
            # the len >= 2 guard matters on the Spark side: sequence(1, 0)
            # yields [1, 0] (descending), not [] — single-token words would
            # index past the array
            f"SELECT {elem_l} AS l, {elem_r} AS r, CAST(SUM(f) AS BIGINT) AS cnt "
            f"FROM (SELECT f, toks, {pos_gen} AS i FROM tk{r} "
            f"      WHERE {len_fn}(toks) >= 2) t "
            f"WHERE {elem_l} <> {elem_r} GROUP BY 1, 2",
        ))
        ctes.append((
            f"best{r}",
            f"SELECT l AS l0, r AS r0, cnt FROM pairs{r} "
            "ORDER BY cnt DESC, l, r LIMIT 1",
        ))
        ctes.append((
            f"tk{r + 1}",
            f"SELECT word, f, {apply_expr()} AS toks "
            f"FROM (SELECT word, f, toks, l0, r0, {ms_expr()} AS ms "
            f"      FROM tk{r} CROSS JOIN best{r}) t",
        ))
    final = " UNION ALL ".join(
        f"SELECT {r} AS rank, l0 AS left_sym, r0 AS right_sym, cnt AS pair_count "
        f"FROM best{r}"
        for r in range(_BPT_R)
    )
    return ctes, final


_BPT_ORACLE = _with_chain(*_bpt_ctes("VARCHAR"))


@register("bpe_train", _BPT_ORACLE)
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d.createOrReplaceTempView("documents")
    ctes, final = _bpt_ctes("STRING")
    return _run_cte_chain(
        spark, ctes, final,
        materialize={f"tk{r}" for r in range(_BPT_R)} | {"tk0"},
    )


# --------------------------------------------------------------------------
# gdal vector set-geom-type (apps/gdalalg_vector_set_geom_type.cpp) —
# the last computable gdalalg_vector_* verb: per-feature geometry-type
# coercion.  Two variants in one output:
#   * 'multi_xy' = --multi --dim XY: flatten (OGR_GT_Flatten drops
#     Z/M) then promote to the MULTI container; a geometry already a
#     subclass of GeometryCollection passes through unchanged (the
#     :171 OGR_GT_IsSubClassOf rule — GC is NOT rewrapped);
#   * 'mls_skip' = --geometry-type MULTILINESTRING --skip: forceTo the
#     explicit target, dropping features whose conversion cannot reach
#     the target type (TranslateFeature's skip test :246-252) — only
#     the LINESTRING case survives on this layer.
# Fixture layer: MULTIPOINT / GEOMETRYCOLLECTION / POINT Z / LINESTRING
# by doc_id % 4, so every coercion rule fires (Z-flatten, promote,
# GC-passthrough, explicit-target skip).  Oracle reconstructs every
# output literal from doc_id arithmetic.
# --------------------------------------------------------------------------
_SGT_WKT = (
    "CASE CAST(doc_id % 4 AS INT)"
    " WHEN 0 THEN 'MULTIPOINT ((' || c || ' ' || d || '),(' || a || ' ' || b || '))'"
    " WHEN 1 THEN 'GEOMETRYCOLLECTION (POINT (' || a || ' ' || b ||"
    " '),LINESTRING (0 0,' || c || ' ' || d || '))'"
    " WHEN 2 THEN 'POINT Z (' || a || ' ' || b || ' 5)'"
    " ELSE 'LINESTRING (0 0,' || c || ' ' || d || ')' END"
)

_SGT_ORACLE = f"""
WITH docs AS ({{docs}}),
c AS (
  SELECT doc_id,
         CAST({_CA} AS VARCHAR) AS a, CAST({_CB} AS VARCHAR) AS b,
         CAST({_CC} AS VARCHAR) AS c, CAST({_CD} AS VARCHAR) AS d
  FROM docs
)
SELECT doc_id, 'multi_xy' AS variant,
       -- the engine codec emits the reference's LEGACY MULTIPOINT
       -- spelling (no per-member parens), matching ogrmultipoint.cpp
       CASE CAST(doc_id % 4 AS INT)
         WHEN 0 THEN 'MULTIPOINT (' || c || ' ' || d || ',' || a || ' ' || b || ')'
         WHEN 1 THEN 'GEOMETRYCOLLECTION (POINT (' || a || ' ' || b ||
                     '),LINESTRING (0 0,' || c || ' ' || d || '))'
         WHEN 2 THEN 'MULTIPOINT (' || a || ' ' || b || ')'
         ELSE 'MULTILINESTRING ((0 0,' || c || ' ' || d || '))' END AS out_wkt
FROM c
UNION ALL
SELECT doc_id, 'mls_skip' AS variant,
       'MULTILINESTRING ((0 0,' || c || ' ' || d || '))' AS out_wkt
FROM c WHERE doc_id % 4 = 3
"""


@register("set_geom_type", _SGT_ORACLE.format(docs=_DOCS_CTE))
def q_set_geom_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.functions.collections import st_geometrytype, st_multi
    from gdal_spark.functions.zgeom import st_force2d

    layer = corpus.load_docs(spark, sf_dir).selectExpr(
        "doc_id",
        f"CAST({_CA} AS STRING) AS a", f"CAST({_CB} AS STRING) AS b",
        f"CAST({_CC} AS STRING) AS c", f"CAST({_CD} AS STRING) AS d",
    ).selectExpr("doc_id", f"{_SGT_WKT} AS wkt")
    multi_xy = layer.select(
        "doc_id",
        F.lit("multi_xy").alias("variant"),
        st_multi(st_force2d(F.col("wkt"))).alias("out_wkt"),
    )
    flat = layer.select("doc_id", st_force2d(F.col("wkt")).alias("g"))
    mls_skip = (
        flat.withColumn("gtype", st_geometrytype(F.col("g")))
        .filter(F.col("gtype") == "LINESTRING")  # forceTo target reachable
        .select(
            "doc_id",
            F.lit("mls_skip").alias("variant"),
            st_multi(F.col("g")).alias("out_wkt"),
        )
    )
    return multi_xy.unionByName(mls_skip)


# --------------------------------------------------------------------------
# gdal raster set-type — the faithful GDALCopyWord conversion matrix
# (gdalalg_raster_set_type.cpp routes through GDALTranslate -ot; the
# per-word rule lives in gcore/gdal_priv_templates.hpp): NaN -> 0
# (:443-450), signed targets shift half AWAY from zero (double->short
# :660 uses `> 0`, double->int :694 uses `>= 0` — identical at v=0),
# unsigned targets shift +0.5 unconditionally (:465), then clamp to the
# type limits and truncate toward zero; integer->integer narrowing
# clamps WITHOUT the half shift (the generic non-float template).  The
# fixture plants every branch: NaN rows (doc_id%23), x.5 halves
# ((doc_id%4)*0.25), negatives (away-from-zero rounding), and a x100
# scale band (doc_id%17) that trips the int16/byte clamps on both ends.
# One shared SQL text — all arithmetic IEEE-exact (quarter-unit lattice),
# zero shuffle, pure whole-stage codegen.
# --------------------------------------------------------------------------
from gdal_spark.pipeline import gdal_copyword_sql  # noqa: E402

_STT_V = (
    "(CASE WHEN doc_id % 23 = 0 THEN CAST('NaN' AS DOUBLE) "
    "ELSE ((doc_id * 53) % 1300 - 400 + (doc_id % 4) * 2.5e-1) "
    "* (CASE WHEN doc_id % 17 = 0 THEN 1.0e2 ELSE 1.0e0 END) END)"
)
_STT_IV = "((doc_id * 53) % 1300 - 400)"

_SET_TYPE_SQL = f"""
WITH v AS (SELECT doc_id, {_STT_V} AS x, {_STT_IV} AS ix FROM documents)
SELECT doc_id,
       {gdal_copyword_sql('x', 'byte')} AS as_byte,
       {gdal_copyword_sql('x', 'uint16')} AS as_uint16,
       {gdal_copyword_sql('x', 'int16')} AS as_int16,
       {gdal_copyword_sql('x', 'int32')} AS as_int32,
       CAST(least(greatest(ix, 0), 255) AS BIGINT) AS as_byte_from_int
FROM v
"""


@register("raster_set_type", _SET_TYPE_SQL)
def q_raster_set_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d.createOrReplaceTempView("documents")
    return spark.sql(_SET_TYPE_SQL)


# The same conversion as a pipeline step: unscale leaves fractional
# doubles in [-20, 43.75], so `set-type byte` exercises the clamp-at-0
# and half-up branches through the step compiler (one op list feeds both
# the Spark runner and the DuckDB renderer — shared program).
_RP_STT_SPEC = (
    "read raster:source ! clip 0,0,120,80 ! unscale 2.5e-1,-2.0e1"
    " ! set-type byte ! write stream"
)


def _raster_pipeline_settype_oracle() -> str:
    from gdal_spark.pipeline import render_raster_pipeline_sql

    src = (
        f"SELECT band, px, py, CAST({_SRC_VAL} AS INT) AS value"
        f" FROM ({_SRC_GRID_CTE}) s"
    )
    return render_raster_pipeline_sql(_RP_STT_SPEC, src)


@register("raster_pipeline_settype", _raster_pipeline_settype_oracle())
def q_raster_pipeline_settype(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.pipeline import run_raster_pipeline

    return run_raster_pipeline(spark, _RP_STT_SPEC)


# --------------------------------------------------------------------------
# Paragraph-level exact dedup (the Dolma/CCNet dedupe unit — Soldaini et
# al. 2024 run exact dedup per PARAGRAPH, between doc-level and
# substring-level): documents chunk into fixed 10-word paragraphs, and a
# paragraph instance survives only if it is the FIRST occurrence corpus-
# wide (min doc_id, then min chunk index within that doc — same
# canonical keeper rule as `dedup_exact`/`substring_dedup`).  A shared
# 10-word boilerplate paragraph is planted on ~28% of docs (doc_id%7<2)
# so cross-doc paragraph duplication is dense.  Scale shape: one
# paragraph-key shuffle (MIN + COUNT fold map-side — the hot boilerplate
# key partial-aggregates before the exchange), the keeper join carries
# ONE build row per paragraph key (no pair blow-up on hot keys), one
# doc-key reduce.  The rebuilt text uses each engine's ordered string
# aggregate (DuckDB string_agg ORDER BY vs Spark listagg WITHIN GROUP) —
# deliberately different formulations of the same spec, both ignoring
# the NULLed removed paragraphs.
# --------------------------------------------------------------------------
_PD_P = 10
_PD_BOILER = "the quick brown fox jumps over the lazy dog again"


def _para_dedup_sql(split_fn: str, len_fn: str, slice_sql: str,
                    gen_sql: str, agg_sql: str) -> str:
    return f"""
WITH s AS (
  SELECT doc_id,
         {split_fn}(CASE WHEN doc_id % 7 < 2
                         THEN '{_PD_BOILER} ' || text ELSE text END, ' ') AS w
  FROM documents
),
c AS (SELECT doc_id, w, {len_fn}(w) AS nw FROM s),
g AS (
  SELECT doc_id, k, {slice_sql} AS para
  FROM (SELECT doc_id, w, {gen_sql} AS k FROM c)
),
m AS (SELECT para, MIN(doc_id) AS kd FROM g GROUP BY para),
m2 AS (
  SELECT g.para AS para, g.doc_id AS doc_id, MIN(g.k) AS kk
  FROM g JOIN m ON g.para = m.para AND g.doc_id = m.kd
  GROUP BY g.para, g.doc_id
),
f AS (
  SELECT g.doc_id, g.k, g.para,
         CASE WHEN m2.para IS NOT NULL THEN 1 ELSE 0 END AS kept
  FROM g LEFT JOIN m2
    ON g.para = m2.para AND g.doc_id = m2.doc_id AND g.k = m2.kk
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_paras,
       CAST(SUM(kept) AS BIGINT) AS n_kept,
       {agg_sql} AS kept_text
FROM f GROUP BY doc_id
"""


_PD_NP = "CAST(((nw + 9) - ((nw + 9) % 10)) / 10 AS BIGINT)"

_PARA_DEDUP_ORACLE = _para_dedup_sql(
    "string_split", "len",
    f"array_to_string(list_slice(w, k * {_PD_P} + 1, k * {_PD_P} + {_PD_P}), ' ')",
    f"unnest(generate_series(0, {_PD_NP} - 1))",
    "string_agg(CASE WHEN kept = 1 THEN para END, ' ' ORDER BY k)",
)


@register("paragraph_dedup", _PARA_DEDUP_ORACLE)
def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d.createOrReplaceTempView("documents")
    return spark.sql(_para_dedup_sql(
        "split", "size",
        f"array_join(slice(w, CAST(k * {_PD_P} + 1 AS INT), {_PD_P}), ' ')",
        f"explode(sequence(0, {_PD_NP} - 1))",
        "listagg(CASE WHEN kept = 1 THEN para END, ' ')"
        " WITHIN GROUP (ORDER BY k)",
    ))


# --------------------------------------------------------------------------
# UniMax language sampling (Chung et al. 2023, arXiv:2304.09151): given a
# character budget and a per-language epoch cap, allocate the budget as
# uniformly as possible across languages — each language capped at
# cap_l = epochs * chars_l, the remainder water-filled evenly.  The
# sequential greedy of the paper (ascending by capacity, each language
# takes min(cap, remaining/remaining_langs)) has the classic closed
# form: languages below the water line take their full capacity, the
# rest split the leftover evenly — computed here with window functions
# over the LANGUAGE DIM (5 rows; the corpus folds to it in one map-side-
# combined reduce, so the OVER () windows never see corpus-sized input).
# Budget = floor(1.25 * total_chars) with epoch cap 1.6 (capacity =
# floor(1.6 * chars_l)), which puts the binding threshold strictly
# inside the lang set at the test corpus's language mix (small langs
# capped at capacity, big langs water-filled — both CASE arms pinned in
# tests/test_round4h.py).  All arithmetic exact BIGINT; divisions use
# the (x - x%y)/y exact-quotient form.
# --------------------------------------------------------------------------
_UNIMAX_SQL = """
WITH ls AS (
  SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS s FROM documents GROUP BY lang
),
tot AS (SELECT CAST(SUM(s) AS BIGINT) AS ts, CAST(COUNT(*) AS BIGINT) AS nl
        FROM ls),
r AS (
  SELECT lang, s,
         CAST(((s * 8) - ((s * 8) % 5)) / 5 AS BIGINT) AS c,
         CAST(ROW_NUMBER() OVER (
              ORDER BY ((s * 8) - ((s * 8) % 5)) / 5, lang) AS BIGINT) AS i,
         CAST(SUM(((s * 8) - ((s * 8) % 5)) / 5) OVER (
              ORDER BY ((s * 8) - ((s * 8) % 5)) / 5, lang
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pc
  FROM ls
),
b AS (
  SELECT r.lang, r.s, r.c, r.i, r.pc, t.nl,
         CAST(((t.ts * 5) - ((t.ts * 5) % 4)) / 4 AS BIGINT) AS bud
  FROM r, tot t
),
w AS (
  SELECT b.*,
         MIN(CASE WHEN c * (nl - i + 1) > bud - (pc - c) THEN i END)
           OVER () AS istar
  FROM b
),
w2 AS (
  SELECT w.*, MAX(CASE WHEN i = istar THEN pc - c END) OVER () AS prevsum
  FROM w
),
a AS (
  SELECT lang, s, c,
         CASE WHEN istar IS NULL OR i < istar THEN c
              ELSE CAST(((bud - prevsum) - ((bud - prevsum)
                         % (nl - istar + 1))) / (nl - istar + 1) AS BIGINT)
         END AS alloc
  FROM w2
)
SELECT lang, s AS n_chars, CAST(c AS BIGINT) AS capacity,
       CAST(alloc AS BIGINT) AS alloc_chars,
       CAST(((alloc * 10000) - ((alloc * 10000) % s)) / s AS BIGINT)
         AS epochs_bp
FROM a
"""


@register("unimax_sample", _UNIMAX_SQL)
def q_unimax_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d.createOrReplaceTempView("documents")
    return spark.sql(_UNIMAX_SQL)


# --------------------------------------------------------------------------
# Temperature-scaled language mixing (mT5 / XLM-R style, Xue et al. 2021
# §3.1): sampling weight ∝ p_l^(1/T) with T = 2, i.e. sqrt(p_l) — sqrt
# and division are IEEE-correctly-rounded, so both engines compute the
# SAME double before the single floor-quantization to micro-units; the
# normalization then runs in exact BIGINT (floor division via the
# (x - x%y)/y form).  Corpus folds map-side to the 5-row lang dim;
# everything after is dim-sized.
# --------------------------------------------------------------------------
_TEMP_MIX_SQL = """
WITH ls AS (
  SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS s FROM documents GROUP BY lang
),
tot AS (SELECT CAST(SUM(s) AS BIGINT) AS ts FROM ls),
w AS (
  SELECT lang, s,
         CAST(floor(1.0e6 * sqrt(CAST(s AS DOUBLE) / CAST(t.ts AS DOUBLE)))
              AS BIGINT) AS w_micro
  FROM ls, tot t
),
d AS (SELECT CAST(SUM(w_micro) AS BIGINT) AS dw FROM w)
SELECT lang, s AS n_chars, w_micro,
       CAST(((w_micro * 1000000) - ((w_micro * 1000000) % d.dw)) / d.dw
            AS BIGINT) AS weight_ppm
FROM w, d
"""


@register("temperature_mix", _TEMP_MIX_SQL)
def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d.createOrReplaceTempView("documents")
    return spark.sql(_TEMP_MIX_SQL)


# --------------------------------------------------------------------------
# URL canonicalization + dedup (the CCNet/Dolma crawl-dedup key): each
# doc carries a synthesized URL variant (8 variants per logical site,
# keyed doc_id%8) and canonicalization must merge exactly the
# equivalent ones — lowercase scheme+authority ONLY (path case is
# significant and preserved: '/D/'), strip the scheme's DEFAULT port
# (:80 http / :443 https — the non-default :8080 variant must survive
# as its own URL), strip fragments, strip utm_* tracking params (the
# '?id=7' real param survives), strip one trailing slash.  All string
# ops are shared text: anchored single-occurrence regexes (no global-
# flag divergence), LIKE + substr for the port (no backreference
# dialect), one groupBy(canon_url) with map-side MIN/COUNT.
# --------------------------------------------------------------------------
_URL_DEDUP_SQL = """
WITH u AS (
  SELECT doc_id,
         CAST((doc_id - (doc_id % 8)) / 8 AS BIGINT) AS gid,
         CAST(doc_id % 8 AS BIGINT) AS v
  FROM documents
),
raw AS (
  SELECT doc_id,
    (CASE WHEN v < 4 THEN (CASE WHEN v % 2 = 0 THEN 'http' ELSE 'HTTP' END)
          ELSE (CASE WHEN v % 2 = 0 THEN 'https' ELSE 'HTTPS' END) END)
    || '://'
    || (CASE WHEN v % 3 = 0 THEN 'Site' ELSE 'site' END)
    || CAST(gid AS STRING)
    || (CASE WHEN v % 2 = 1 THEN '.Example.com' ELSE '.example.com' END)
    || (CASE WHEN v = 1 THEN ':80' WHEN v = 5 THEN ':443'
             WHEN v = 3 THEN ':8080' ELSE '' END)
    || '/D/' || CAST(gid AS STRING)
    || (CASE WHEN v = 2 THEN '/' ELSE '' END)
    || (CASE WHEN v = 6 THEN '?utm_source=feed'
             WHEN v = 7 THEN '?id=7' ELSE '' END)
    || (CASE WHEN v = 4 THEN '#frag' ELSE '' END) AS url
  FROM u
),
c1 AS (
  SELECT doc_id, url,
         regexp_extract(url, '^[A-Za-z]+://[^/]+', 0) AS auth0
  FROM raw
),
c2 AS (
  SELECT doc_id,
    (CASE WHEN lower(auth0) LIKE 'http://%:80'
          THEN substr(lower(auth0), 1, length(auth0) - 3)
          WHEN lower(auth0) LIKE 'https://%:443'
          THEN substr(lower(auth0), 1, length(auth0) - 4)
          ELSE lower(auth0) END)
    || regexp_replace(regexp_replace(regexp_replace(
         substr(url, length(auth0) + 1),
         '#[A-Za-z]*$', ''),
         '[?]utm_[a-z]+=[a-z]+$', ''),
         '/$', '') AS canon_url
  FROM c1
)
SELECT canon_url,
       CAST(COUNT(*) AS BIGINT) AS n_variants,
       CAST(MIN(doc_id) AS BIGINT) AS keeper_doc
FROM c2 GROUP BY canon_url
"""


@register("url_dedup", _URL_DEDUP_SQL)
def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d.createOrReplaceTempView("documents")
    return spark.sql(_URL_DEDUP_SQL)


# --------------------------------------------------------------------------
# DoReMi domain reweighting (Xie et al. 2023, arXiv:2305.10429,
# Algorithm 1 — one multiplicative-weights step): per training domain
# (the `source` column), excess loss λ_d = max(proxy_loss_d − ref_loss_d,
# 0), update α'_d ∝ α_d · exp(η·λ_d) from the token-share prior, then
# smooth with the uniform distribution (c = 1/100).  Losses are
# synthesized deterministically: the proxy loss is the per-domain MEAN
# of a per-doc hash formula (so domains genuinely differ), the reference
# loss a per-domain literal formula off the source's numeric suffix —
# both arms of the max() fire.  exp() is libm (1-ulp cross-engine risk),
# so it is computed ONCE per domain (20-row dim) and floor-quantized to
# BIGINT micro-units with a knife-edge grid audit in tests/test_round4h
# (the dsir_weights ln pattern); everything downstream — the α·e product,
# both normalizations, the 99:1 smoothing — is exact integer arithmetic
# via the (x − x%y)/y floor-division form.  Corpus folds map-side to the
# source dim; the OVER () windows only ever see 20 rows.
# --------------------------------------------------------------------------
_DOREMI_SQL = """
WITH d AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS toks,
         CAST(SUM((doc_id * 2654435761 + 7) % 1000) AS BIGINT) AS losssum
  FROM documents GROUP BY source
),
t AS (SELECT CAST(SUM(toks) AS BIGINT) AS tt FROM d),
e AS (
  SELECT source, n_docs, toks,
         CAST(floor(1.0e6 * (CAST(losssum AS DOUBLE) / CAST(n_docs AS DOUBLE)
                             / 1.0e3 + 2.0e0)) AS BIGINT) AS proxy_micro,
         CAST(floor(1.0e6 * (2.2e0 + (CAST(substr(source, 4) AS BIGINT) % 7)
                             * 5.0e-2)) AS BIGINT) AS ref_micro
  FROM d
),
x AS (
  SELECT source, n_docs, toks, proxy_micro, ref_micro,
         greatest(proxy_micro - ref_micro, 0) AS excess_micro
  FROM e
),
u AS (
  SELECT x.*, t.tt,
         CAST(floor(1.0e6 * exp(CAST(excess_micro AS DOUBLE) / 1.0e6))
              AS BIGINT) AS emul_micro,
         CAST(floor(1.0e6 * CAST(toks AS DOUBLE) / CAST(t.tt AS DOUBLE))
              AS BIGINT) AS alpha_micro
  FROM x, t
),
n AS (
  SELECT u.*, alpha_micro * emul_micro AS num,
         CAST(SUM(alpha_micro * emul_micro) OVER () AS BIGINT) AS den,
         CAST(COUNT(*) OVER () AS BIGINT) AS nd
  FROM u
),
w AS (
  SELECT source, n_docs, proxy_micro, excess_micro, nd,
         CAST(((num * 1000000) - ((num * 1000000) % den)) / den AS BIGINT)
           AS w_ppm
  FROM n
)
SELECT source, n_docs, proxy_micro, excess_micro, w_ppm,
       CAST(((w_ppm * 99 + ((1000000 - (1000000 % nd)) / nd))
             - ((w_ppm * 99 + ((1000000 - (1000000 % nd)) / nd)) % 100))
            / 100 AS BIGINT) AS smoothed_ppm
FROM w
"""


@register("doremi_weights", _DOREMI_SQL)
def q_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d.createOrReplaceTempView("documents")
    return spark.sql(_DOREMI_SQL)


# --------------------------------------------------------------------------
# Write-audit-publish on the snapshot table (gdal_spark/table.py refs —
# the Iceberg "Snapshot References" branch/tag model): the production
# pattern for a 100 TB curation pipeline where unaudited data must
# never reach readers.  Staged appends land on an `audit` BRANCH (main
# readers cannot see them), an in-code audit validates the branch read
# (non-empty, no NULL keys), a TAG pins the pre-publish state, and
# fast_forward atomically publishes the branch to main (ancestry-
# checked, so a diverged main can never be silently clobbered).  The
# query emits BOTH refs' reads — published main (base + the two audited
# batches) and the immutable pre-publish tag (base only); the oracle
# reconstructs both from the source table, certifying that publish
# moved exactly the audited rows and that the tag still reads the
# original snapshot afterward.
# --------------------------------------------------------------------------
_TABLE_WAP_ORACLE = f"""
SELECT 'main' AS ref, o_orderkey, {_TABLE_INC_PRICE} AS price_c
FROM orders WHERE o_orderkey % 4 IN (0, 1, 2)
UNION ALL
SELECT 'pre_publish' AS ref, o_orderkey, {_TABLE_INC_PRICE} AS price_c
FROM orders WHERE o_orderkey % 4 = 0
"""


@register("table_wap", _TABLE_WAP_ORACLE)
def q_table_wap(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import tempfile

    from gdal_spark.table import SnapshotTable

    root = os.path.join(
        tempfile.gettempdir(),
        "gdal_spark_wap_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8],
    )
    t = SnapshotTable(spark, root)
    if t.current_snapshot_id() != 3:  # idempotent build, reused across runs
        # crash recovery: a partial table (crashed mid-build, e.g. after
        # create_branch but before sid 3 committed) would otherwise make
        # every rerun fail with "ref exists" — rebuild from scratch
        # instead of assuming the root is fresh
        if t.current_snapshot_id() is not None or t._refs():
            import shutil

            shutil.rmtree(root, ignore_errors=True)
            t = SnapshotTable(spark, root)
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            "o_orderkey", F.expr(_TABLE_INC_PRICE).alias("price_c")
        )
        t.append(o.filter("o_orderkey % 4 = 0"))        # sid 1 (main)
        t.create_branch("audit")
        t.create_tag("pre_publish")
        t.append_to(o.filter("o_orderkey % 4 = 1"), "audit")  # sid 2
        t.append_to(o.filter("o_orderkey % 4 = 2"), "audit")  # sid 3
        # audit gate: the branch read must be non-empty with no NULL keys
        staged = t.read_ref("audit")
        assert staged.filter("o_orderkey IS NULL").count() == 0
        assert staged.count() > 0
        t.fast_forward("audit")  # publish
    return (
        t.read().select(F.lit("main").alias("ref"), "o_orderkey", "price_c")
        .unionByName(
            t.read_ref("pre_publish").select(
                F.lit("pre_publish").alias("ref"), "o_orderkey", "price_c"
            )
        )
    )


# --------------------------------------------------------------------------
# Tokenizer fertility per language (the standard multilingual-tokenizer
# diagnostic — tokens per word and bytes per token under the frozen BPE
# merge table; high fertility = the tokenizer fragments that language,
# the signal behind vocabulary-budget decisions in mT5/BLOOM-style
# practice — and the metric reported as "fertility" in tokenizer
# papers, e.g. Rust et al. 2021, arXiv:2012.15613).  Composes the
# SHARED BPE tok chain (_BPE_TOK_CTES — the bpe_encode program, one
# formula text) with a per-lang rollup: word occurrences join the
# distinct-word token dim (broadcast; Python only inside the word-dim
# mapInPandas), then ONE map-side-combined groupBy(lang).  Ratios are
# exact integer micro-units via the (x - x%y)/y floor-division form.
# --------------------------------------------------------------------------
_FERT_TAIL = """,
occ AS ({occ_sql}),
agg AS (
  SELECT o.lang,
         CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(t.n_toks) AS BIGINT) AS n_tokens,
         CAST(SUM(length(o.word)) AS BIGINT) AS n_word_chars
  FROM occ o JOIN tok t {using_sql}
  GROUP BY o.lang
)
SELECT lang, n_words, n_tokens, n_word_chars,
       CAST(((n_tokens * 1000000) - ((n_tokens * 1000000) % n_words))
            / n_words AS BIGINT) AS fertility_ppm,
       CAST(((n_word_chars * 1000) - ((n_word_chars * 1000) % n_tokens))
            / n_tokens AS BIGINT) AS chars_per_token_milli
FROM agg
"""

_FERT_ORACLE = _BPE_TOK_CTES + _FERT_TAIL.format(
    occ_sql="SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word"
            " FROM documents",
    using_sql="USING (word)",
)


@register("token_fertility", _FERT_ORACLE)
def q_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.bpe import encode_vocab

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    occ = d.select("lang", F.explode(F.split("text", " ")).alias("word"))
    tok = encode_vocab(occ.select("word").distinct())
    agg = (
        occ.join(F.broadcast(tok), "word")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
            F.sum(F.length("word")).cast("long").alias("n_word_chars"),
        )
    )
    return agg.selectExpr(
        "lang", "n_words", "n_tokens", "n_word_chars",
        "CAST(((n_tokens * 1000000) - ((n_tokens * 1000000) % n_words))"
        " / n_words AS BIGINT) AS fertility_ppm",
        "CAST(((n_word_chars * 1000) - ((n_word_chars * 1000) % n_tokens))"
        " / n_tokens AS BIGINT) AS chars_per_token_milli",
    )


# --------------------------------------------------------------------------
# PageRank over the GNM road network (gnm/gnmgraph.cpp holds the graph;
# PageRank itself is the canonical iterative-linear-algebra workload a
# Spark graph engine must run — Page et al. 1999, d = 0.85).  Exact
# INTEGER fixed-point power iteration (operators/graph.py
# pagerank_integer): per-edge contribution (rank·85) // (100·deg) and
# teleport 15·scale // 100 are exact floor divisions, so every round's
# aggregate is an integer SUM — associative, hence bit-identical at any
# cluster size (classic float PageRank is partition-order-dependent;
# the ≤deg-ulp/round floor leak is the documented, deterministic
# trade).  Engine = 10 DataFrame rounds with eager localCheckpoint (the
# iterative-lineage rule); oracle = the SAME integer program unrolled
# as 10 MATERIALIZED CTE rounds; a plain-Python port pins the values in
# tests/test_round4h.py.  Scale shape per round: one co-keyed join +
# one map-side-combined reduce — the standard Pregel superstep.
# --------------------------------------------------------------------------
_PR_ROUNDS = 10
_PR_SCALE = 10**10


def _pagerank_oracle() -> str:
    t = ((100 - 85) * _PR_SCALE) // 100
    ctes = [
        f"rc AS (SELECT CAST(t.i AS BIGINT) % {_GNM_N} AS c,"
        f" CAST((t.i - t.i % {_GNM_N}) / {_GNM_N} AS BIGINT) AS r"
        f" FROM range(0, {_GNM_N * _GNM_N}) t(i))",
        f"fwd AS ({_GNM_EDGES})",
        "edges AS (SELECT u AS src, v AS dst FROM fwd"
        " UNION ALL SELECT v AS src, u AS dst FROM fwd)",
        "deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg"
        " FROM edges GROUP BY src)",
        "ed AS (SELECT e.src, e.dst, d.deg FROM edges e"
        " JOIN deg d ON e.src = d.src)",
        f"r0 AS (SELECT src AS node_id, CAST({_PR_SCALE} AS BIGINT) AS rank"
        " FROM deg)",
    ]
    for i in range(1, _PR_ROUNDS + 1):
        ctes.append(
            f"r{i} AS MATERIALIZED ("
            f"SELECT ed.dst AS node_id, CAST({t} + SUM("
            f"(r.rank * 85 - ((r.rank * 85) % (100 * ed.deg)))"
            f" / (100 * ed.deg)) AS BIGINT) AS rank"
            f" FROM r{i - 1} r JOIN ed ON r.node_id = ed.src"
            f" GROUP BY ed.dst)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node_id, rank FROM r{_PR_ROUNDS}"
    )


@register("gnm_pagerank", _pagerank_oracle())
def q_gnm_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.graph import pagerank_integer

    n = _GNM_N
    rc = spark.range(n * n).selectExpr(
        f"id % {n} AS c", f"CAST((id - id % {n}) / {n} AS BIGINT) AS r"
    )
    rc.createOrReplaceTempView("rc")
    fwd = spark.sql(f"SELECT u, v, {_GNM_W} AS w FROM (" + f"""
        SELECT r * {n} + c AS u, r * {n} + c + 1 AS v FROM rc WHERE c + 1 < {n}
        UNION ALL
        SELECT r * {n} + c AS u, (r + 1) * {n} + c AS v FROM rc WHERE r + 1 < {n}
    """ + ") fwd")
    edges = fwd.selectExpr("u AS src", "v AS dst").unionByName(
        fwd.selectExpr("v AS src", "u AS dst")
    )
    return pagerank_integer(
        edges, rounds=_PR_ROUNDS, scale=_PR_SCALE
    )


# --------------------------------------------------------------------------
# Triangle counting over the road network + cell diagonals (the GNM
# graph again; triangle counting is the canonical one-round distributed
# graph-join workload — Suri & Vassilvitskii 2011 / Cohen 2009).  The
# pure grid is bipartite (zero triangles), so the fixture adds the
# (r,c)->(r+1,c+1) diagonal per cell: exactly 2 triangles per cell =
# 2·11·11 = 242.  Algorithm = DEGREE-ORDERED ORIENTATION, the published
# skew bound: each undirected edge orients from the (degree, id)-lesser
# endpoint, so every triangle is counted exactly once at its minimum
# node and the wedge join's fan-out is bounded by the ORIENTED
# out-degree (<= sqrt(2m) on any graph — the reason this survives
# power-law degree skew at 100 TB, where the naive all-wedges join
# explodes on hubs).  Two self-equi-joins + one map-side-combined
# reduce, pure JVM, shared text both engines.
# --------------------------------------------------------------------------
_TRI_SQL = f"""
WITH rc AS (
  SELECT CAST(t.i AS BIGINT) % {_GNM_N} AS c,
         CAST((t.i - t.i % {_GNM_N}) / {_GNM_N} AS BIGINT) AS r
  FROM range(0, {_GNM_N * _GNM_N}) t(i)
),
und AS (
  SELECT r * {_GNM_N} + c AS u, r * {_GNM_N} + c + 1 AS v
  FROM rc WHERE c + 1 < {_GNM_N}
  UNION ALL
  SELECT r * {_GNM_N} + c AS u, (r + 1) * {_GNM_N} + c AS v
  FROM rc WHERE r + 1 < {_GNM_N}
  UNION ALL
  SELECT r * {_GNM_N} + c AS u, (r + 1) * {_GNM_N} + c + 1 AS v
  FROM rc WHERE r + 1 < {_GNM_N} AND c + 1 < {_GNM_N}
),
sym AS (
  SELECT u, v FROM und UNION ALL SELECT v AS u, u AS v FROM und
),
deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY u),
ork AS (SELECT u, d * 1000 + u AS k FROM deg),
ore AS (
  SELECT s.u AS src, s.v AS dst, ku.k AS ks, kv.k AS kd
  FROM sym s JOIN ork ku ON s.u = ku.u JOIN ork kv ON s.v = kv.u
  WHERE ku.k < kv.k
),
tri AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM ore e1
  JOIN ore e2 ON e1.src = e2.src AND e1.kd < e2.kd
  JOIN ore e3 ON e3.src = e1.dst AND e3.dst = e2.dst
),
mem AS (
  SELECT a AS node_id FROM tri
  UNION ALL SELECT b AS node_id FROM tri
  UNION ALL SELECT c AS node_id FROM tri
)
SELECT node_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM mem GROUP BY node_id
"""


@register("gnm_triangles", _TRI_SQL)
def q_gnm_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_TRI_SQL)


# --------------------------------------------------------------------------
# Exact per-source percentiles (nearest-rank definition) — Spark's
# percentile_approx is a sketch; curation thresholds (length caps,
# quality cutoffs) want EXACT order statistics.  p50/p90/p99 of n_chars
# per source via rank selection: one window rank per (source) partition
# + the per-source count dim, target rank = ceil(p·n/100) (the
# classical nearest-rank spec), pivoted to columns with MAX(CASE).
# Everything integer; ceil via (x + 99 - ((x + 99) % 100)) / 100.
# Scale note: the window partitions by source (bounded partitions at
# any corpus size — the 20-source dim), and rank selection reads each
# partition once; for a single GLOBAL percentile the distributed-rank
# pattern (corpus_shuffle/quality_buckets) replaces the window.
# --------------------------------------------------------------------------
_PCTL_SQL = """
WITH r AS (
  SELECT source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM documents
),
t AS (
  SELECT source, n_chars, rn, n,
         CAST(((n * 50 + 99) - ((n * 50 + 99) % 100)) / 100 AS BIGINT) AS k50,
         CAST(((n * 90 + 99) - ((n * 90 + 99) % 100)) / 100 AS BIGINT) AS k90,
         CAST(((n * 99 + 99) - ((n * 99 + 99) % 100)) / 100 AS BIGINT) AS k99
  FROM r
)
SELECT source,
       CAST(MIN(n) AS BIGINT) AS n_docs,
       CAST(MAX(CASE WHEN rn = k50 THEN n_chars END) AS BIGINT) AS p50,
       CAST(MAX(CASE WHEN rn = k90 THEN n_chars END) AS BIGINT) AS p90,
       CAST(MAX(CASE WHEN rn = k99 THEN n_chars END) AS BIGINT) AS p99
FROM t GROUP BY source
"""


@register("exact_percentiles", _PCTL_SQL)
def q_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d.createOrReplaceTempView("documents")
    return spark.sql(_PCTL_SQL)


# --------------------------------------------------------------------------
# Perceptual-hash image dedup (the multimodal dedup stage: dHash —
# Krawetz 2013 — + banded hamming LSH, the image analog of
# simhash_pairs): doc media refs are grouped doc_id−doc_id%5 so five
# docs share each asset (planted exact-dup clusters); the 56-bit dHash
# is computed ONCE per DISTINCT ref in one Arrow mapInPandas over the
# asset dim (payloads never transit the driver — the media plumbing
# contract).  SCALE SHAPE (reworked after the 2M-doc capacity probe,
# BASELINE.md round-4h: the first cut banded at the DOC level, which
# multiplies every LSH bucket by the asset's doc-cluster size and makes
# candidate volume quadratic in cluster size — 430 s at 2M docs):
#   * banded 4x14-bit LSH + bit_count verify run on the DISTINCT-ASSET
#     dim only (near-dup ASSET pairs, folded to a per-asset count);
#   * docs never pair — they fold into phash CLUSTERS (min-doc keeper +
#     size) through one map-side-combined groupBy, the dedup_keeper
#     pattern.  Output is per-doc scalar rows, no pair explosion.
# The oracle reproduces everything arithmetically: the rich stub
# payload is md5(ref||':'||block) per 16-byte block (non-periodic by
# construction), so DuckDB rebuilds the byte grid from per-block md5
# HEX (instr nibble decode), the block sums, the 56 comparison bits,
# the asset banding, the hamming verify and the cluster fold — a
# genuinely independent second implementation of the whole pipeline.
# --------------------------------------------------------------------------
_PH_REF = "'media://' || CAST(doc_id - (doc_id % 5) AS STRING) || '/2'"
_PH_HEXB = (
    "((instr('0123456789abcdef', substr(hx, 2 * ({j}) + 1, 1)) - 1) * 16"
    " + (instr('0123456789abcdef', substr(hx, 2 * ({j}) + 2, 1)) - 1))"
)

_MEDIA_PHASH_ORACLE = f"""
WITH docs AS (SELECT doc_id, {_PH_REF} AS ref FROM documents),
h AS (SELECT DISTINCT ref FROM docs),
blocks AS (
  SELECT ref, bb.b AS b, md5(ref || ':' || CAST(bb.b AS STRING)) AS hx
  FROM h, range(0, 16) bb(b)
),
cells AS (
  SELECT g.ref, g.i AS i, SUM({_PH_HEXB.format(j="g.gb % 16")}) AS cv
  FROM (
    SELECT h.ref, ci.i, 4 * ci.i + kk.k AS gb
    FROM h, range(0, 63) ci(i), range(0, 4) kk(k)
  ) g
  JOIN blocks bl
    ON g.ref = bl.ref AND bl.b = (g.gb - (g.gb % 16)) / 16
  GROUP BY g.ref, g.i
),
bits AS (
  SELECT a.ref, CAST((a.i // 9) * 8 + (a.i % 9) AS INT) AS p
  FROM cells a JOIN cells b ON a.ref = b.ref AND b.i = a.i + 1
  WHERE a.i % 9 < 8 AND a.cv > b.cv
),
ph AS (
  SELECT h.ref,
         CAST(COALESCE(SUM(CAST(1 AS BIGINT) << b.p), 0) AS BIGINT) AS phash
  FROM h LEFT JOIN bits b ON h.ref = b.ref
  GROUP BY h.ref
),
bnd AS (
  SELECT ref, phash, bb.band AS band,
         CAST((phash // (CAST(1 AS BIGINT) << CAST(14 * bb.band AS INT)))
              % 16384 AS INT) AS bits
  FROM ph, range(0, 4) bb(band)
),
apair AS (
  SELECT DISTINCT a.ref AS ra, b2.ref AS rb
  FROM bnd a JOIN bnd b2
    ON a.band = b2.band AND a.bits = b2.bits AND a.ref < b2.ref
),
nd AS (
  SELECT ap.ra, ap.rb
  FROM apair ap
  JOIN ph pa ON ap.ra = pa.ref JOIN ph pb ON ap.rb = pb.ref
  WHERE bit_count(xor(pa.phash, pb.phash)) <= 6
),
na AS (
  SELECT ref, CAST(COUNT(*) AS BIGINT) AS n_neardup_assets FROM (
    SELECT ra AS ref FROM nd UNION ALL SELECT rb AS ref FROM nd
  ) GROUP BY ref
),
dph AS (SELECT d.doc_id, d.ref, p.phash
        FROM docs d JOIN ph p ON d.ref = p.ref),
grp AS (
  SELECT phash, CAST(MIN(doc_id) AS BIGINT) AS keeper_doc,
         CAST(COUNT(*) AS BIGINT) AS n_cluster
  FROM dph GROUP BY phash
)
SELECT d.doc_id, d.phash, g.keeper_doc, g.n_cluster,
       COALESCE(na.n_neardup_assets, 0) AS n_neardup_assets
FROM dph d
JOIN grp g ON d.phash = g.phash
LEFT JOIN na ON d.ref = na.ref
"""


@register("media_phash", _MEDIA_PHASH_ORACLE)
def q_media_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.media import fetch_media, perceptual_hash

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs = d.selectExpr("doc_id", f"{_PH_REF} AS ref")
    assets = docs.selectExpr(
        "CAST(0 AS LONG) AS doc_id", "ref AS media_ref"
    ).distinct()
    # ph is referenced by the banding, BOTH verify sides and the doc
    # join — without a persist the whole distinct+fetch+hash Arrow
    # subtree re-executes per reference (the spark.sql-CTE-inlining
    # failure mode; measured 143 s -> ~30 s at the 2M-doc probe).  LAZY
    # persist per the _run_cte_chain rule; the asset dim is tiny.
    ph = perceptual_hash(fetch_media(assets, rich=True)).selectExpr(
        "media_ref AS ref", "phash"
    ).persist()
    # asset-level LSH: band/verify the DISTINCT hashes only
    bnd = ph.select(
        "ref", "phash",
        F.explode(F.expr("sequence(0, 3)")).alias("band"),
    ).selectExpr(
        "ref", "phash", "band",
        "CAST((phash DIV shiftleft(CAST(1 AS BIGINT), 14 * band)) % 16384"
        " AS INT) AS bits",
    )
    apair = (
        bnd.alias("a")
        .join(
            bnd.alias("b"),
            F.expr("a.band = b.band AND a.bits = b.bits AND a.ref < b.ref"),
        )
        .selectExpr("a.ref AS ra", "b.ref AS rb")
        .distinct()
    )
    pa = ph.selectExpr("ref AS ra", "phash AS ph_a")
    pb = ph.selectExpr("ref AS rb", "phash AS ph_b")
    nd = (
        apair.join(pa, "ra").join(pb, "rb")
        .filter("bit_count(ph_a ^ ph_b) <= 6")
        .select("ra", "rb")
    )
    na = (
        nd.selectExpr("ra AS ref")
        .unionByName(nd.selectExpr("rb AS ref"))
        .groupBy("ref")
        .agg(F.count("*").cast("long").alias("n_neardup_assets"))
    )
    # docs fold into phash clusters — keeper + size, never doc pairs
    dph = docs.join(F.broadcast(ph), "ref").select("doc_id", "ref", "phash")
    grp = dph.groupBy("phash").agg(
        F.min("doc_id").cast("long").alias("keeper_doc"),
        F.count("*").cast("long").alias("n_cluster"),
    )
    return (
        dph.join(grp, "phash")
        .join(F.broadcast(na), "ref", "left")
        .selectExpr(
            "doc_id", "phash", "keeper_doc", "n_cluster",
            "CAST(COALESCE(n_neardup_assets, 0) AS BIGINT)"
            " AS n_neardup_assets",
        )
    )


# --------------------------------------------------------------------------
# Audio + video span analysis (the remaining two modalities of the
# interleaved-payload contract, same plumbing rules as media_phash:
# Arrow kernels over payloads that never transit the driver, oracle
# rebuilding every byte from the per-block md5 arithmetic).
#   media_audio_energy — payload as centered 8-bit PCM, per-32-sample
#     window sum-of-squares energy + silence flag (the VAD primitive);
#     refs come from the SPAN SEQUENCE (media_refs over kind='media'),
#     so the query also exercises span extraction.
#   media_scene_cuts — payload as 8 fixed 32-byte frames, per-frame L1
#     distance to the previous frame + cut flag (shot-boundary
#     primitive).  Exact integers end to end; one Arrow stage each.
# --------------------------------------------------------------------------
_MA_REF = "'media://' || CAST(doc_id AS STRING) || '/2'"
_MA_BYTES = f"""
h AS (SELECT doc_id, {_MA_REF} AS ref FROM documents),
blocks AS (
  SELECT doc_id, bb.b AS b, md5(ref || ':' || CAST(bb.b AS STRING)) AS hx
  FROM h, range(0, 16) bb(b)
),
bytes AS (
  SELECT g.doc_id, g.g AS g,
         {_PH_HEXB.format(j="g.g % 16")} AS bv
  FROM (SELECT doc_id, gg.g FROM h, range(0, 256) gg(g)) g
  JOIN blocks bl
    ON g.doc_id = bl.doc_id AND bl.b = (g.g - (g.g % 16)) / 16
)
"""

_AUDIO_SILENCE_T = 170000

_MEDIA_AUDIO_ORACLE = f"""
WITH {_MA_BYTES}
SELECT doc_id,
       CAST((g - (g % 32)) / 32 AS INT) AS win,
       CAST(SUM((bv - 128) * (bv - 128)) AS BIGINT) AS energy,
       CAST(CASE WHEN SUM((bv - 128) * (bv - 128)) < {_AUDIO_SILENCE_T}
                 THEN 1 ELSE 0 END AS INT) AS is_silence
FROM bytes
GROUP BY doc_id, (g - (g % 32)) / 32
"""


@register("media_audio_energy", _MEDIA_AUDIO_ORACLE)
def q_media_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.media import (
        audio_energy,
        fetch_media,
        media_refs,
    )

    docs = corpus.load_docs(spark, sf_dir)
    refs = media_refs(docs)
    e = audio_energy(fetch_media(refs, rich=True))
    return e.selectExpr(
        "doc_id", "win", "energy",
        f"CAST(CASE WHEN energy < {_AUDIO_SILENCE_T} THEN 1 ELSE 0 END"
        " AS INT) AS is_silence",
    )


_SCENE_CUT_T = 2730

_MEDIA_SCENE_ORACLE = f"""
WITH {_MA_BYTES}
SELECT a.doc_id,
       CAST((a.g - (a.g % 32)) / 32 AS INT) AS frame_idx,
       CAST(SUM(CASE WHEN a.bv > p.bv THEN a.bv - p.bv ELSE p.bv - a.bv END)
            AS BIGINT) AS l1_diff,
       CAST(CASE WHEN SUM(CASE WHEN a.bv > p.bv THEN a.bv - p.bv
                              ELSE p.bv - a.bv END) > {_SCENE_CUT_T}
                 THEN 1 ELSE 0 END AS INT) AS is_cut
FROM bytes a JOIN bytes p ON a.doc_id = p.doc_id AND p.g = a.g - 32
GROUP BY a.doc_id, (a.g - (a.g % 32)) / 32
"""


@register("media_scene_cuts", _MEDIA_SCENE_ORACLE)
def q_media_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.media import (
        fetch_media,
        media_refs,
        scene_diffs,
    )

    docs = corpus.load_docs(spark, sf_dir)
    refs = media_refs(docs)
    d = scene_diffs(fetch_media(refs, rich=True))
    return d.selectExpr(
        "doc_id", "frame_idx", "l1_diff",
        f"CAST(CASE WHEN l1_diff > {_SCENE_CUT_T} THEN 1 ELSE 0 END"
        " AS INT) AS is_cut",
    )


# --------------------------------------------------------------------------
# k-core decomposition over the road network (Seidman 1983 — the last
# classic of the distributed-graph family next to SSSP/CC/PageRank/
# triangles): iteratively peel nodes of degree < k until fixpoint.
# Fixture = the diagonal grid with ANTI-diagonals added in the central
# 6x6 block, so k=4 peeling cascades inward for 10 rounds from the
# corners yet the reinforced 45-node center survives (both the cascade
# and the non-empty fixpoint are structurally non-trivial — plain
# k=4 dissolves the whole graph, k=3 stops after 2 rounds).  Engine =
# operators/graph.py k_core: per round one semi-join + one map-side-
# combined degree reduce, eager localCheckpoint, fixpoint by edge-count
# equality.  Oracle = 12 UNROLLED MATERIALIZED CTE rounds (each round
# references the previous THREE times — AS MATERIALIZED prevents the
# 3^12 inlining blow-up, the SQL flavor of the lineage rule); rounds
# past the fixpoint are no-ops.  Python peeling recompute pins.
# --------------------------------------------------------------------------
_KC_K = 4
_KC_ROUNDS = 12
_KC_EDGES_UND = f"""
  SELECT r * {_GNM_N} + c AS u, r * {_GNM_N} + c + 1 AS v
  FROM rc WHERE c + 1 < {_GNM_N}
  UNION ALL
  SELECT r * {_GNM_N} + c AS u, (r + 1) * {_GNM_N} + c AS v
  FROM rc WHERE r + 1 < {_GNM_N}
  UNION ALL
  SELECT r * {_GNM_N} + c AS u, (r + 1) * {_GNM_N} + c + 1 AS v
  FROM rc WHERE r + 1 < {_GNM_N} AND c + 1 < {_GNM_N}
  UNION ALL
  SELECT r * {_GNM_N} + c + 1 AS u, (r + 1) * {_GNM_N} + c AS v
  FROM rc WHERE r + 1 < {_GNM_N} AND c + 1 < {_GNM_N}
   AND r >= 3 AND r < 9 AND c >= 3 AND c < 9
"""


def _kcore_oracle() -> str:
    ctes = [
        f"rc AS (SELECT CAST(t.i AS BIGINT) % {_GNM_N} AS c,"
        f" CAST((t.i - t.i % {_GNM_N}) / {_GNM_N} AS BIGINT) AS r"
        f" FROM range(0, {_GNM_N * _GNM_N}) t(i))",
        f"und AS ({_KC_EDGES_UND})",
        "e0 AS MATERIALIZED (SELECT u AS src, v AS dst FROM und"
        " UNION ALL SELECT v AS src, u AS dst FROM und)",
    ]
    for i in range(1, _KC_ROUNDS + 1):
        ctes.append(
            f"k{i} AS MATERIALIZED (SELECT src FROM ("
            f"SELECT src, COUNT(*) AS c FROM e{i - 1} GROUP BY src)"
            f" WHERE c >= {_KC_K})"
        )
        ctes.append(
            f"e{i} AS MATERIALIZED (SELECT s.src, s.dst FROM e{i - 1} s"
            f" JOIN k{i} ka ON s.src = ka.src"
            f" JOIN k{i} kb ON s.dst = kb.src)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT src AS node_id, CAST(COUNT(*) AS BIGINT) AS core_deg"
        f" FROM e{_KC_ROUNDS} GROUP BY src"
    )


@register("gnm_kcore", _kcore_oracle())
def q_gnm_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.graph import k_core

    n = _GNM_N
    rc = spark.range(n * n).selectExpr(
        f"id % {n} AS c", f"CAST((id - id % {n}) / {n} AS BIGINT) AS r"
    )
    rc.createOrReplaceTempView("rc")
    und = spark.sql("SELECT u, v FROM (" + _KC_EDGES_UND + ") und")
    edges = und.selectExpr("u AS src", "v AS dst").unionByName(
        und.selectExpr("v AS src", "u AS dst")
    )
    return k_core(edges, k=_KC_K, max_rounds=_KC_ROUNDS + 2)


# --------------------------------------------------------------------------
# OGR SQL STRING front-end (gdal_spark/sqlfrontend.py — the swq dialect
# of GDALDataset::ExecuteSQL(sql, ..., "OGRSQL"), ogr/swq_parser.y +
# ogr/ogrsf_frmts/generic/ogr_gensql.cpp).  Every Spark side below is
# PRODUCED BY THE PARSER from an OGR SQL string — no hand-built
# DataFrame program — while the oracle is an independent hand-written
# ANSI rendering of the same semantics (incl. the dialect quirks:
# case-insensitive string compares, LIKE-sensitive/ILIKE-insensitive,
# div-by-zero INT_MAX, non-Kleene OR nulls, truncating CAST,
# first-match joins).  tests/test_ogrsql.py pins the quirk matrix on
# hand-derived fixtures.
# --------------------------------------------------------------------------


def _ogrsql_layers(spark: SparkSession, sf_dir: str) -> dict:
    from gdal_spark.sqlfrontend import OgrLayer

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").withColumn(
        # the secondary layer's FID (first-match join order): a unique
        # int64 fold of (linenumber, partkey, suppkey, price-cents) —
        # the synthetic lineitem is NOT unique on (orderkey, linenumber)
        # alone, and the reference's "first" is the layer's FID order,
        # so the FID must be collision-free within an orderkey.
        # Bit budget: 4 + 15 + 10 + 26 = 55 bits < 63
        "_lifid",
        F.expr(
            "((l_linenumber * 32768 + l_partkey) * 1024 + l_suppkey)"
            " * 67108864 + CAST(round(l_extendedprice * 1.0e2) AS BIGINT)"
        ),
    )
    return {
        "orders": OgrLayer(
            spark.read.parquet(f"{sf_dir}/orders.parquet"), fid="o_orderkey"
        ),
        "customer": OgrLayer(
            spark.read.parquet(f"{sf_dir}/customer.parquet"), fid="c_custkey"
        ),
        "supplier": OgrLayer(
            spark.read.parquet(f"{sf_dir}/supplier.parquet"), fid="s_suppkey"
        ),
        "lineitem": OgrLayer(li, fid="_lifid"),
    }


_OGRSQL_SELECT = """
SELECT o_orderkey AS k, CAST(o_totalprice AS integer) AS price_int,
       SUBSTR(o_orderpriority, 3) AS prio_txt,
       o_orderkey % 7 AS b7,
       o_orderkey / (o_orderkey % 5) AS d5,
       CONCAT(o_orderstatus, '/', o_orderpriority) AS tag
FROM orders
WHERE (o_orderpriority = '1-urgent' OR o_orderkey % 3 = 1)
      AND o_orderdate < '1999-01-01'
ORDER BY k LIMIT 500 OFFSET 20
"""

# independent ANSI rendering: lower() for the strcasecmp '=', trunc()
# for the C float->int cast (DuckDB's bare CAST rounds), the
# (x - x%y)/y exact integer division idiom, INT_MAX on %5 == 0
_OGRSQL_SELECT_ORACLE = """
WITH f AS (
  SELECT * FROM orders
  WHERE (lower(o_orderpriority) = '1-urgent' OR o_orderkey % 3 = 1)
    AND CAST(o_orderdate AS VARCHAR) < '1999-01-01'
)
SELECT o_orderkey AS k,
       CAST(trunc(o_totalprice) AS INTEGER) AS price_int,
       substr(o_orderpriority, 3) AS prio_txt,
       o_orderkey % 7 AS b7,
       CASE WHEN o_orderkey % 5 = 0 THEN CAST(2147483647 AS BIGINT)
            ELSE CAST((o_orderkey - (o_orderkey % (o_orderkey % 5)))
                      / (o_orderkey % 5) AS BIGINT) END AS d5,
       o_orderstatus || '/' || o_orderpriority AS tag
FROM f
ORDER BY k LIMIT 500 OFFSET 20
"""


@register("ogrsql_select", _OGRSQL_SELECT_ORACLE)
def q_ogrsql_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + CAST + SUBSTR + CONCAT + arithmetic (div-by-zero ->
    INT_MAX, swq_op_general.cpp:678-706) + case-insensitive '='
    (:955) + string-date compare (ogr_swq.h:90-92) + ORDER/LIMIT/OFFSET,
    all parsed from one OGR SQL string."""
    from gdal_spark.sqlfrontend import execute_sql

    return execute_sql(spark, _OGRSQL_SELECT, _ogrsql_layers(spark, sf_dir))


_OGRSQL_JOIN = """
SELECT o_orderkey AS k, o_totalprice AS price,
       l_linenumber AS ln, l_quantity AS qty
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey % 4 = 1
"""

_OGRSQL_JOIN_ORACLE = """
WITH j AS (
  SELECT o.o_orderkey AS k, o.o_totalprice AS price,
         l.l_linenumber, l.l_quantity,
         row_number() OVER (
           PARTITION BY o.o_orderkey
           ORDER BY ((l.l_linenumber * 32768 + l.l_partkey) * 1024
                     + l.l_suppkey) * 67108864
                    + CAST(round(l.l_extendedprice * 1.0e2) AS BIGINT)
                    NULLS LAST
         ) AS rn
  FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderkey % 4 = 1
)
SELECT k, price, l_linenumber AS ln, l_quantity AS qty FROM j WHERE rn = 1
"""


@register("ogrsql_join", _OGRSQL_JOIN_ORACLE)
def q_ogrsql_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-match LEFT JOIN from a parsed JOIN ... ON string
    (ogr_gensql.cpp:1497-1527): lineitem has many rows per orderkey —
    exactly one (the min-FID one) survives per order."""
    from gdal_spark.sqlfrontend import execute_sql

    return execute_sql(spark, _OGRSQL_JOIN, _ogrsql_layers(spark, sf_dir))


_OGRSQL_SUMMARY = """
SELECT COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS n_cust,
       MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx,
       SUM(o_orderkey) AS sk, AVG(o_custkey) AS ac,
       MIN(o_orderpriority) AS mp
FROM orders WHERE o_orderstatus = 'o'
"""

# COUNT casts to BIGINT both sides; SUM(BIGINT) folded back from
# DuckDB's HUGEINT (the repo's oracle type contract); the WHERE is the
# strcasecmp '=' ('o' matches status 'O'); MIN on a string column uses
# BYTE order (swq.cpp:437-466 strcmp — not strcasecmp)
_OGRSQL_SUMMARY_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
       min(o_totalprice) AS mn, max(o_totalprice) AS mx,
       CAST(sum(o_orderkey) AS BIGINT) AS sk,
       avg(o_custkey) AS ac,
       min(o_orderpriority) AS mp
FROM orders WHERE lower(o_orderstatus) = 'o'
"""


@register("ogrsql_summary", _OGRSQL_SUMMARY_ORACLE)
def q_ogrsql_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Summary mode (SWQM_SUMMARY_RECORD, ogr_swq.h:320) from a parsed
    string: one aggregate row, COUNT skips nulls, AVG(int) is the exact
    sum/count double."""
    from gdal_spark.sqlfrontend import execute_sql

    return execute_sql(spark, _OGRSQL_SUMMARY, _ogrsql_layers(spark, sf_dir))


_OGRSQL_DISTINCT = "SELECT DISTINCT c_mktsegment FROM customer"


@register("ogrsql_distinct", _OGRSQL_DISTINCT)
def q_ogrsql_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT mode (SWQM_DISTINCT_LIST, ogr_swq.h:322) from a parsed
    string."""
    from gdal_spark.sqlfrontend import execute_sql

    return execute_sql(
        spark, _OGRSQL_DISTINCT, _ogrsql_layers(spark, sf_dir)
    )


_OGRSQL_UNION = """
SELECT c_custkey AS k, c_name AS nm FROM customer WHERE c_custkey % 50 = 0
UNION ALL
SELECT s_suppkey AS k, s_name AS nm FROM supplier WHERE s_suppkey % 2 = 1
"""

_OGRSQL_UNION_ORACLE = """
SELECT c_custkey AS k, c_name AS nm FROM customer WHERE c_custkey % 50 = 0
UNION ALL
SELECT s_suppkey AS k, s_name AS nm FROM supplier WHERE s_suppkey % 2 = 1
"""


@register("ogrsql_union", _OGRSQL_UNION_ORACLE)
def q_ogrsql_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL statement chaining (gcore/gdaldataset.cpp:7131-7177)
    from a parsed string."""
    from gdal_spark.sqlfrontend import execute_sql

    return execute_sql(spark, _OGRSQL_UNION, _ogrsql_layers(spark, sf_dir))


def _ogrsql_docs_layer(spark: SparkSession, sf_dir: str) -> dict:
    from gdal_spark.sqlfrontend import OgrLayer

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").selectExpr(
        "doc_id",
        "lang",
        # an hstore-formatted props column present on every third doc —
        # the NULL rows drive the OR-null quirk below
        "CASE WHEN doc_id % 3 = 0 THEN 'x=>' || CAST(doc_id % 5 AS STRING)"
        " END AS props",
    )
    return {"docs": OgrLayer(d, fid="doc_id")}


_OGRSQL_QUIRKS = """
SELECT doc_id FROM docs
WHERE HSTORE_GET_VALUE(props, 'x') = '1' OR doc_id % 2 = 0
"""

# the INDEPENDENT encoding of OGR's non-Kleene OR
# (swq_op_general.cpp:551-556): a NULL operand makes the whole OR null
# regardless of the other side, and a null WHERE rejects — so every
# props-less doc (doc_id % 3 <> 0) drops even when doc_id is even,
# which ANSI OR would keep
_OGRSQL_QUIRKS_ORACLE = """
SELECT doc_id FROM documents
WHERE doc_id % 3 = 0 AND (doc_id % 5 = 1 OR doc_id % 2 = 0)
"""


@register("ogrsql_quirks", _OGRSQL_QUIRKS_ORACLE)
def q_ogrsql_quirks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OR-null semantics quirk, parsed from a string and checked
    against an oracle that reconstructs the accepted set from the
    fixture arithmetic (no shared text)."""
    from gdal_spark.sqlfrontend import execute_sql

    return execute_sql(
        spark, _OGRSQL_QUIRKS, _ogrsql_docs_layer(spark, sf_dir)
    )


_OGRSQL_CI = """
SELECT doc_id, lang FROM docs
WHERE lang BETWEEN 'DE' AND 'ES' AND lang NOT LIKE '%E%'
      AND lang ILIKE '%E%'
"""

# BETWEEN folds case (strcasecmp, swq_op_general.cpp:1080): the
# UPPERCASE bounds still catch the lowercase langs de/en/es; LIKE is
# case-SENSITIVE so NOT LIKE '%E%' keeps them all; ILIKE '%E%' then
# requires a literal e — de/en/es qualify, zh/fr drop
_OGRSQL_CI_ORACLE = """
SELECT doc_id, lang FROM documents
WHERE lang >= 'de' AND lang <= 'es'
  AND lang NOT LIKE '%E%' AND lower(lang) LIKE '%e%'
"""


@register("ogrsql_like_ci", _OGRSQL_CI_ORACLE)
def q_ogrsql_like_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-folding matrix from one parsed string: BETWEEN folds
    (strcasecmp), LIKE does not (OGR_SQL_LIKE_AS_ILIKE default FALSE),
    ILIKE does."""
    from gdal_spark.sqlfrontend import execute_sql

    return execute_sql(spark, _OGRSQL_CI, _ogrsql_docs_layer(spark, sf_dir))


_OGRSQL_SPECIAL = """
SELECT FID, OGR_GEOM_AREA AS area FROM polydocs
WHERE FID % 9 = 0 ORDER BY FID LIMIT 200
"""

_OGRSQL_SPECIAL_ORACLE = f"""
WITH docs AS ({{polydocs}})
SELECT doc_id AS FID, (xmax - xmin) * (ymax - ymin) AS area
FROM docs WHERE doc_id % 9 = 0 ORDER BY doc_id LIMIT 200
"""


@register("ogrsql_special", _OGRSQL_SPECIAL_ORACLE.format(polydocs=_POLYDOCS_CTE))
def q_ogrsql_special(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Special fields FID / OGR_GEOM_AREA (ogr_gensql.cpp:824-826)
    resolved from the layer binding by the parser."""
    from gdal_spark.sqlfrontend import OgrLayer, execute_sql

    pd_docs = corpus.load_polydocs(spark, sf_dir)
    layer = OgrLayer(
        pd_docs,
        fid="doc_id",
        geom_area="(xmax - xmin) * (ymax - ymin)",
    )
    return execute_sql(spark, _OGRSQL_SPECIAL, {"polydocs": layer})


_OGRSQL_EXCEPT = """
SELECT * EXCEPT (o_orderdate, o_totalprice, o_orderpriority) FROM orders
WHERE o_orderkey % 101 = 7
"""

_OGRSQL_EXCEPT_ORACLE = """
SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
WHERE o_orderkey % 101 = 7
"""


@register("ogrsql_except", _OGRSQL_EXCEPT_ORACLE)
def q_ogrsql_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT * EXCEPT (...) projection exclusion
    (swq_parser.y:890-903) from a parsed string."""
    from gdal_spark.sqlfrontend import execute_sql

    return execute_sql(
        spark, _OGRSQL_EXCEPT, _ogrsql_layers(spark, sf_dir)
    )


# --------------------------------------------------------------------------
# Encoded tile sink (operators/tile_encode.py): the END of the tiling
# pipeline — actual PNG bytes per tile (gdal2tiles.py:1283-1345 writes
# base tiles through the PNG driver; ours is a from-scratch
# stored-deflate writer, so the byte stream is a pure function of the
# pixels).  The oracle reconstructs the two byte-stream invariants in
# closed form from the generated pixel grid: total encoded length
# (format arithmetic) and the zlib Adler-32 of the filtered scanline
# data (position-weighted integer sums — RFC 1950's A/B accumulators
# unrolled into SQL).  tests/test_tile_encode.py round-trips the bytes
# (zlib.decompress + filter strip), cross-checks the table-driven CRC32
# against zlib's, and commits the tiles through table.py WAP.
# --------------------------------------------------------------------------
_TE_T = 64
_TE_N = _TE_T * (_TE_T + 1)  # filter byte + row bytes per scanline
_TE_BYTES = 8 + 25 + 12 + (2 + 5 + _TE_N + 4) + 12

_TILE_ENCODE_ORACLE = f"""
WITH g AS ({_SRC_GRID_CTE}),
v AS (SELECT px, py, {_SRC_VAL} AS value FROM g WHERE band = 1),
p AS (
  SELECT CAST((px - px % {_TE_T}) / {_TE_T} AS BIGINT) AS tx,
         CAST((py - py % {_TE_T}) / {_TE_T} AS BIGINT) AS ty,
         px % {_TE_T} AS c, py % {_TE_T} AS r, value
  FROM v
),
a AS (
  SELECT tx, ty, SUM(value) AS s,
         SUM(value * ({_TE_N} - (r * {_TE_T + 1} + c + 1))) AS wsum
  FROM p GROUP BY tx, ty
)
SELECT tx, ty, CAST({_TE_BYTES} AS INT) AS n_bytes,
       CAST((({_TE_N} + wsum) % 65521) * 65536
            + ((1 + s) % 65521) AS BIGINT) AS adler
FROM a
"""


@register("tile_encode", _TILE_ENCODE_ORACLE)
def q_tile_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.raster import source_grid
    from gdal_spark.operators.tile_encode import encode_png_tiles

    t = _TE_T
    g = source_grid(spark).filter("band = 1").selectExpr(
        f"CAST((px - px % {t}) / {t} AS BIGINT) AS tx",
        f"CAST((py - py % {t}) / {t} AS BIGINT) AS ty",
        f"px % {t} AS c",
        f"py % {t} AS r",
        "value",
    )
    return encode_png_tiles(g, tile=t).select("tx", "ty", "n_bytes", "adler")


# --------------------------------------------------------------------------
# Lower-dimension overlay emit (KEEP_LOWER_DIMENSION_GEOMETRIES,
# ogrlayer.cpp:3345-3580): pairs that TOUCH without interior overlap
# yield the shared-boundary LINESTRING instead of POLYGON EMPTY.
# Fixture: touching rectilinear pairs (full edge / partial edge /
# two-chain multipart / areal overlap / corner touch) evaluated BOTH
# unrotated and through the 3-4-5 rotation so every row also routes the
# arbitrary-angle path.  Expected literals are INDEPENDENT of the
# arrangement kernel: the shared spans of each pair are hand-derived
# axis intervals, rotated/quantized/serialized by the same helpers the
# areal general fixture uses; the length column is the exact
# floor(1e6 x length) integer.  Documented divergence pinned by gid 5:
# a corner (point) touch emits EMPTY where GEOS yields POINT.
# --------------------------------------------------------------------------
_LD_FIXTURE = [
    (1, "POLYGON ((0 0,4 0,4 4,0 4,0 0))",
     "POLYGON ((4 0,8 0,8 4,4 4,4 0))",
     [[(4.0, 0.0), (4.0, 4.0)]]),
    (2, "POLYGON ((0 0,4 0,4 4,0 4,0 0))",
     "POLYGON ((4 2,8 2,8 10,4 10,4 2))",
     [[(4.0, 2.0), (4.0, 4.0)]]),
    (3, "POLYGON ((0 0,4 0,4 4,0 4,0 0))",
     "MULTIPOLYGON (((4 0,6 0,6 1,4 1,4 0)),((4 3,6 3,6 4,4 4,4 3)))",
     [[(4.0, 0.0), (4.0, 1.0)], [(4.0, 3.0), (4.0, 4.0)]]),
    (4, "POLYGON ((0 0,4 0,4 4,0 4,0 0))",
     "POLYGON ((2 0,6 0,6 4,2 4,2 0))", []),
    (5, "POLYGON ((0 0,4 0,4 4,0 4,0 0))",
     "POLYGON ((4 4,8 4,8 8,4 8,4 4))", []),
    (6, "POLYGON ((0 0,4 0,4 4,0 4,0 0))",
     "POLYGON ((0 4,4 4,4 8,0 8,0 4))",
     [[(0.0, 4.0), (4.0, 4.0)]]),
]


def _lowdim_rows() -> list[tuple]:
    import math

    from gdal_spark.geometry.ringchain import QSCALE, fmt_q, quantize

    rows = []
    for gid, wa, wb, spans in _LD_FIXTURE:
        for rot in (False, True):
            if rot:
                a_txt, b_txt = _rot_wkt_full(wa), _rot_wkt_full(wb)
                pts = [[_rot345(x, y) for x, y in ch] for ch in spans]
            else:
                a_txt, b_txt = wa, wb
                pts = spans
            chains = []
            for ch in pts:
                q = [(quantize(x), quantize(y)) for x, y in ch]
                if q[-1] < q[0]:
                    q = q[::-1]
                chains.append(q)
            chains.sort()
            if not chains:
                lw = "LINESTRING EMPTY"
            else:
                parts = [
                    "(" + ",".join(f"{fmt_q(x)} {fmt_q(y)}" for x, y in c)
                    + ")"
                    for c in chains
                ]
                lw = (
                    "LINESTRING " + parts[0]
                    if len(parts) == 1
                    else "MULTILINESTRING (" + ",".join(parts) + ")"
                )
            total = 0.0
            for c in chains:
                for (x0, y0), (x1, y1) in zip(c, c[1:]):
                    total += math.hypot(
                        (x1 - x0) / QSCALE, (y1 - y0) / QSCALE
                    )
            rows.append(
                (gid * 10 + (1 if rot else 0), a_txt, b_txt, lw,
                 int(math.floor(total * 1.0e6)))
            )
    return rows


_LD_ROWS = _lowdim_rows()

_LOWDIM_ORACLE = "SELECT * FROM (VALUES " + ", ".join(
    f"({rid}, '{lw}', {ln})" for rid, _, _, lw, ln in _LD_ROWS
) + ") t(rid, lowdim, len_micro)"


@register("st_setops_lowdim", _LOWDIM_ORACLE)
def q_st_setops_lowdim(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.functions import st_intersection_lowdim, st_lowdim_len_micro

    return spark.createDataFrame(
        [(rid, a, b) for rid, a, b, *_ in _LD_ROWS],
        "rid int, wa string, wb string",
    ).select(
        "rid",
        st_intersection_lowdim("wa", "wb").alias("lowdim"),
        st_lowdim_len_micro("wa", "wb").alias("len_micro"),
    )


# --------------------------------------------------------------------------
# NTv2 grid-shift datum step (geometry/ntv2.py) — the accurate path
# PROJ uses when a shift grid exists for a datum pair (ogr/ogrct.cpp;
# grids in autotest/proj_grids/), composed into the 27700 pipeline:
# BNG easting/northing -> tmerc inverse on Airy 1830 (the SAME shared
# stages epsg_transform uses) -> bilinear grid shift.  ENGINE: the grid
# is a broadcast DIM (cell-corner table), one equi-join on the cell key,
# bilinear + the NTv2 positive-west longitude sign in codegen.  ORACLE:
# corner values evaluated INLINE from the node closed form — no table,
# no join — an independent second formulation of the same semantics.
# Divergence documented in ntv2.py: node VALUES are synthetic (no .gsb
# reader in the sandbox); machinery is the real NTv2 path.
# --------------------------------------------------------------------------


def _ntv2_oracle() -> str:
    from gdal_spark.geometry import ntv2 as _ntv2
    from gdal_spark.geometry import tmerc as _tm

    sql = (
        "SELECT doc_id, (4.0e5 + lon * 5.0e2) AS x,"
        " (4.0e5 + lat * 2.0e3) AS y FROM docs"
    )
    stages = _tm.sql_tm_inverse_stages("x", "y", epsg.OSGB_GRID, prefix="i_")
    stages += _ntv2.oracle_shift_stages("i_lat", "i_lon")
    for col, expr in stages:
        sql = f"SELECT *, {expr} AS {col} FROM ({sql})"
    return (
        f"WITH docs AS ({_DOCS_CTE})\n"
        f"SELECT doc_id, CAST(floor(glat * 1.0e9) AS BIGINT) AS glat_q,"
        f" CAST(floor(glon * 1.0e9) AS BIGINT) AS glon_q FROM ({sql})"
    )


@register("ntv2_transform", _ntv2_oracle())
def q_ntv2_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.geometry import ntv2 as _ntv2
    from gdal_spark.geometry import tmerc as _tm

    docs = corpus.load_docs(spark, sf_dir).select("doc_id", "lon", "lat")
    df = docs.selectExpr(
        "*", "(4.0e5 + lon * 5.0e2) AS x", "(4.0e5 + lat * 2.0e3) AS y"
    )
    for col, expr in _tm.sql_tm_inverse_stages(
        "x", "y", epsg.OSGB_GRID, prefix="i_"
    ):
        df = df.selectExpr("*", f"{expr} AS {col}")
    # lineage cut before the dim join (the spark-iterative-lineage
    # invariant): feeding the Newton-chain expressions straight into
    # join keys sends Catalyst's constraint inference into the deep
    # trees and analysis hangs; a narrow (doc_id, lat, lon)
    # materialization makes the join keys leaf columns
    df = df.select("doc_id", "i_lat", "i_lon").localCheckpoint(eager=True)
    df = _ntv2.apply_grid_shift(df, spark, "i_lat", "i_lon")
    return df.selectExpr(
        "doc_id",
        "CAST(floor(glat * 1.0e9) AS BIGINT) AS glat_q",
        "CAST(floor(glon * 1.0e9) AS BIGINT) AS glon_q",
    )


# --------------------------------------------------------------------------
# MVT vector-tile sink (operators/mvt.py — the vector half of the
# encoded-tile story; reference driver ogr/ogrsf_frmts/mvt/,
# mvtutils.cpp feature encoding).  Docs assign to a 4x2 geographic tile
# grid (shared floor arithmetic both engines), each tile encodes its
# points as ONE protobuf Tile message with canonical field order.  The
# oracle reconstructs the byte stream's two invariants in CLOSED FORM —
# total length and byte sum — from per-feature varint accounting
# (base-128 digit sums + continuation bits), aggregated per tile.
# tests/test_mvt.py decodes the bytes with an independent minimal
# protobuf reader.
# --------------------------------------------------------------------------
from gdal_spark.operators.mvt import (  # noqa: E402
    sql_varint_bytesum as _mvt_vsum,
    sql_varint_len as _mvt_vlen,
)

_MVT_TX = "least(CAST(floor((lon + 1.8e2) / 9.0e1) AS BIGINT), 3)"
_MVT_TY = "least(CAST(floor((9.0e1 - lat) / 9.0e1) AS BIGINT), 1)"
_MVT_PX = (
    f"least(CAST(floor((lon + 1.8e2 - {_MVT_TX} * 9.0e1)"
    " / 9.0e1 * 4.096e3) AS BIGINT), 4095)"
)
_MVT_PY = (
    f"least(CAST(floor((9.0e1 - lat - {_MVT_TY} * 9.0e1)"
    " / 9.0e1 * 4.096e3) AS BIGINT), 4095)"
)


def _mvt_oracle() -> str:
    lid, lx, ly = _mvt_vlen("doc_id"), _mvt_vlen("2 * px"), _mvt_vlen("2 * py")
    isum = _mvt_vsum("doc_id")
    xsum, ysum = _mvt_vsum("2 * px"), _mvt_vsum("2 * py")
    return f"""
WITH docs AS ({_DOCS_CTE}),
p AS (
  SELECT doc_id, {_MVT_TX} AS tx, {_MVT_TY} AS ty,
         {_MVT_PX} AS px, {_MVT_PY} AS py
  FROM docs
),
f AS (
  SELECT tx, ty,
         2 + 6 + {lid} + {lx} + {ly} AS framed_len,
         18 + (6 + {lid} + {lx} + {ly})
            + 8 + {isum} + 24 + 1 + 34 + (1 + {lx} + {ly})
            + 9 + {xsum} + {ysum} AS framed_sum
  FROM p
),
a AS (
  SELECT tx, ty, CAST(SUM(framed_len) AS BIGINT) AS fl,
         CAST(SUM(framed_sum) AS BIGINT) AS fs
  FROM f GROUP BY tx, ty
),
l AS (SELECT tx, ty, 13 + fl AS layer_len, 1007 + fs AS layer_sum FROM a)
SELECT tx, ty,
       CAST(1 + {_mvt_vlen("layer_len")} + layer_len AS INTEGER) AS n_bytes,
       CAST(26 + {_mvt_vsum("layer_len")} + layer_sum AS BIGINT) AS byte_sum
FROM l
"""


@register("mvt_encode", _mvt_oracle())
def q_mvt_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.mvt import encode_mvt_tiles

    docs = corpus.load_docs(spark, sf_dir).selectExpr(
        "doc_id AS fid",
        f"{_MVT_TX} AS tx",
        f"{_MVT_TY} AS ty",
        f"{_MVT_PX} AS px",
        f"{_MVT_PY} AS py",
    )
    return encode_mvt_tiles(docs).select("tx", "ty", "n_bytes", "byte_sum")


# --------------------------------------------------------------------------
# MVT POLYGON tiles (operators/mvt.py rect ring encoder — the MVT
# driver's main payload, ogr/ogrsf_frmts/mvt/mvtutils.cpp ring
# commands): each polydoc rectangle lands in the tile of its center,
# clamped into tile pixel space, and encodes as MoveTo + LineTo(3) +
# ClosePath with zigzag DELTA coordinates.  The oracle extends the
# point-tile varint accounting with the delta terms (incl. the negative
# -dx delta's zigzag 2dx-1) — byte length and byte sum both closed-form.
# --------------------------------------------------------------------------
_MVP_CX = "((xmin + xmax) / 2.0e0)"
_MVP_CY = "((ymin + ymax) / 2.0e0)"
_MVP_TX = f"least(CAST(floor(({_MVP_CX} + 1.8e2) / 9.0e1) AS BIGINT), 3)"
_MVP_TY = f"least(CAST(floor((9.0e1 - {_MVP_CY}) / 9.0e1) AS BIGINT), 1)"


def _mvp_px(col: str) -> str:
    return (
        f"greatest(least(CAST(floor((({col}) + 1.8e2 - {_MVP_TX} * 9.0e1)"
        " / 9.0e1 * 4.096e3) AS BIGINT), 4095), 0)"
    )


def _mvp_py(col: str) -> str:
    return (
        f"greatest(least(CAST(floor((9.0e1 - {_MVP_TY} * 9.0e1 - ({col}))"
        " / 9.0e1 * 4.096e3) AS BIGINT), 4095), 0)"
    )


def _mvt_poly_oracle() -> str:
    L, S = _mvt_vlen, _mvt_vsum
    # fixed geometry bytes: MoveTo cmd (9) + LineTo cmd (26) +
    # ClosePath (15) + THREE zero deltas = 6 bytes
    geom_len = (
        f"6 + {L('2 * x0')} + {L('2 * y0')} + {L('2 * dx')}"
        f" + {L('2 * dy')} + {L('2 * dx - 1')}"
    )
    geom_sum = (
        f"50 + {S('2 * x0')} + {S('2 * y0')} + {S('2 * dx')}"
        f" + {S('2 * dy')} + {S('2 * dx - 1')}"
    )
    return f"""
WITH docs AS ({_POLYDOCS_CTE}),
p AS (
  SELECT doc_id, {_MVP_TX} AS tx, {_MVP_TY} AS ty,
         {_mvp_px("xmin")} AS x0, {_mvp_px("xmax")} AS x1,
         {_mvp_py("ymax")} AS y0, {_mvp_py("ymin")} AS y1
  FROM docs
),
r AS (
  SELECT doc_id, tx, ty, x0, y0, x1 - x0 AS dx, y1 - y0 AS dy
  FROM p WHERE x1 > x0 AND y1 > y0
),
f AS (
  SELECT tx, ty,
         2 + 5 + {_mvt_vlen("doc_id")} + ({geom_len}) AS framed_len,
         18 + (5 + {_mvt_vlen("doc_id")} + ({geom_len}))
            + 8 + {_mvt_vsum("doc_id")} + 24 + 3 + 34 + ({geom_len})
            + ({geom_sum}) AS framed_sum
  FROM r
),
a AS (
  SELECT tx, ty, CAST(SUM(framed_len) AS BIGINT) AS fl,
         CAST(SUM(framed_sum) AS BIGINT) AS fs
  FROM f GROUP BY tx, ty
),
l AS (SELECT tx, ty, 13 + fl AS layer_len, 1007 + fs AS layer_sum FROM a)
SELECT tx, ty,
       CAST(1 + {_mvt_vlen("layer_len")} + layer_len AS INTEGER) AS n_bytes,
       CAST(26 + {_mvt_vsum("layer_len")} + layer_sum AS BIGINT) AS byte_sum
FROM l
"""


@register("mvt_encode_poly", _mvt_poly_oracle())
def q_mvt_encode_poly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.mvt import encode_mvt_rect_tiles

    rects = corpus.load_polydocs(spark, sf_dir).selectExpr(
        "doc_id AS fid",
        f"{_MVP_TX} AS tx",
        f"{_MVP_TY} AS ty",
        f"{_mvp_px('xmin')} AS x0",
        f"{_mvp_px('xmax')} AS x1",
        f"{_mvp_py('ymax')} AS y0",
        f"{_mvp_py('ymin')} AS y1",
    ).filter("x1 > x0 AND y1 > y0")
    return encode_mvt_rect_tiles(rects).select(
        "tx", "ty", "n_bytes", "byte_sum"
    )


# --------------------------------------------------------------------------
# Pyramid -> PNG composition: the END of the raster tiling pipeline in
# actual bytes — the overview tiles the fused pyramid computes
# (raster_pyramid's own l1/l0 levels, SAME pixel CTEs reused verbatim)
# encode through the stored-deflate PNG writer, and the oracle pins the
# encoded byte stream (closed-form length + Adler-32 position-weighted
# sums) per overview tile.  gdal2tiles writes exactly these files
# (create_overview_tile, gdal2tiles.py:1471-1560).
# --------------------------------------------------------------------------
_PYR_PNG_N = 256 * 257  # filter byte + row bytes per 256-px scanline


def _pyramid_png_oracle() -> str:
    from gdal_spark.operators.tile_encode import png_bytes_expected

    prefix = _PYRCS_ORACLE.split("all_l AS")[0].rstrip().rstrip(",")
    nb = png_bytes_expected(256, 256)
    return f"""{prefix},
pix AS (
  SELECT 1 AS zoom, 2 AS n, gx, gy, v FROM l1 WHERE band = 2
  UNION ALL SELECT 0 AS zoom, 1 AS n, gx, gy, v FROM l0 WHERE band = 2
),
t AS (
  SELECT zoom, CAST((gx - (gx % 256)) / 256 AS BIGINT) AS tx,
         CAST(n - 1 - (gy - (gy % 256)) / 256 AS BIGINT) AS ty,
         CAST(v AS BIGINT) AS v, gy % 256 AS r, gx % 256 AS c
  FROM pix
),
a AS (
  SELECT zoom, tx, ty, CAST(SUM(v) AS BIGINT) AS s,
         CAST(SUM(v * ({_PYR_PNG_N} - r * 257 - c - 1)) AS BIGINT) AS wsum
  FROM t GROUP BY 1, 2, 3
)
SELECT CAST(zoom AS INT) AS zoom, tx, ty,
       CAST({nb} AS INTEGER) AS n_bytes,
       CAST((({_PYR_PNG_N} + wsum) % 65521) * 65536
            + ((1 + s) % 65521) AS BIGINT) AS adler
FROM a
"""


@register("pyramid_png", _pyramid_png_oracle())
def q_pyramid_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator as _Iter

    import numpy as _np
    import pandas as _pd
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from gdal_spark.operators.raster import (
        TILE,
        base_tiles,
        overview_tiles,
        source_grid,
    )
    from gdal_spark.operators.tile_encode import adler32, png_gray

    base = base_tiles(spark, source_grid(spark), 2).localCheckpoint(
        eager=True
    )
    l1 = overview_tiles(base)
    l0 = overview_tiles(l1)
    tiles = l1.unionByName(l0).filter("band = 2")
    schema = StructType(
        [
            StructField("zoom", IntegerType()),
            StructField("tx", LongType()),
            StructField("ty", LongType()),
            StructField("n_bytes", IntegerType()),
            StructField("adler", LongType()),
        ]
    )

    def enc(batches: _Iter[_pd.DataFrame]) -> _Iter[_pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            nb, ad = [], []
            for d in pdf["data"]:
                img = _np.frombuffer(d, dtype=_np.uint8).reshape(TILE, TILE)
                png = png_gray(img)
                raw = _np.zeros((TILE, TILE + 1), dtype=_np.uint8)
                raw[:, 1:] = img
                nb.append(len(png))
                ad.append(adler32(raw.reshape(-1)))
            out = pdf[["zoom", "tx", "ty"]].copy()
            out["n_bytes"] = _np.asarray(nb, dtype=_np.int32)
            out["adler"] = _np.asarray(ad, dtype=_np.int64)
            yield out

    return tiles.mapInPandas(enc, schema)


# --------------------------------------------------------------------------
# MVT tiles WITH feature attributes (MVT 2.1 §4.4 keys/values/tags —
# the part of the model mvtutils.cpp fills from OGR fields): each point
# carries its lang as a tagged attribute; the layer's value table is
# the tile's DISTINCT langs sorted, value indexes are dense ranks, and
# the oracle extends the varint accounting with the tags section and
# the per-tile keys/values tables (string byte sums via ascii()).
# --------------------------------------------------------------------------


def _mvt_attr_oracle() -> str:
    L, S = _mvt_vlen, _mvt_vsum
    body_len = (
        f"9 + {L('doc_id')} + {L('2 * px')} + {L('2 * py')} + {L('vi')}"
    )
    body_sum = (
        f"8 + {S('doc_id')} + 18 + (1 + {L('vi')}) + {S('vi')}"
        f" + 24 + 1 + 34 + (1 + {L('2 * px')} + {L('2 * py')})"
        f" + 9 + {S('2 * px')} + {S('2 * py')}"
    )
    return f"""
WITH docs AS ({_DOCS_CTE}),
p AS (
  SELECT doc_id, lang, {_MVT_TX} AS tx, {_MVT_TY} AS ty,
         {_MVT_PX} AS px, {_MVT_PY} AS py
  FROM docs
),
r AS (
  SELECT *, dense_rank() OVER (PARTITION BY tx, ty ORDER BY lang) - 1
         AS vi
  FROM p
),
f AS (
  SELECT tx, ty, 2 + ({body_len}) AS framed_len,
         18 + ({body_len}) + ({body_sum}) AS framed_sum
  FROM r
),
fa AS (
  SELECT tx, ty, CAST(SUM(framed_len) AS BIGINT) AS fl,
         CAST(SUM(framed_sum) AS BIGINT) AS fs
  FROM f GROUP BY tx, ty
),
v AS (SELECT DISTINCT tx, ty, lang FROM p),
va AS (
  SELECT tx, ty,
         CAST(SUM(4 + length(lang)) AS BIGINT) AS vl,
         CAST(SUM(46 + 2 * length(lang)
                  + ascii(substr(lang, 1, 1))
                  + ascii(substr(lang, 2, 1))) AS BIGINT) AS vs
  FROM v GROUP BY tx, ty
),
l AS (
  SELECT fa.tx, fa.ty, 19 + fl + vl AS layer_len,
         1455 + fs + vs AS layer_sum
  FROM fa JOIN va ON fa.tx = va.tx AND fa.ty = va.ty
)
SELECT tx, ty,
       CAST(1 + {_mvt_vlen("layer_len")} + layer_len AS INTEGER) AS n_bytes,
       CAST(26 + {_mvt_vsum("layer_len")} + layer_sum AS BIGINT) AS byte_sum
FROM l
"""


@register("mvt_encode_attr", _mvt_attr_oracle())
def q_mvt_encode_attr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.mvt import encode_mvt_attr_tiles

    pts = corpus.load_docs(spark, sf_dir).selectExpr(
        "doc_id AS fid",
        "lang AS attr",
        f"{_MVT_TX} AS tx",
        f"{_MVT_TY} AS ty",
        f"{_MVT_PX} AS px",
        f"{_MVT_PY} AS py",
    )
    return encode_mvt_attr_tiles(pts).select(
        "tx", "ty", "n_bytes", "byte_sum"
    )
