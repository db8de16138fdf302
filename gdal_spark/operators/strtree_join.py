"""Spatial join with a per-executor STR-tree candidate stage.

The alternative candidate generator to pip_join's cell join: instead of
keying both sides on grid cells and letting Catalyst broadcast-hash-join
them, the method layer's envelopes are bulk-loaded into a packed STR
R-tree (geometry/strtree.py) once per executor, and every corpus Arrow
batch queries the tree directly inside ONE mapInPandas — zero shuffle,
zero join operator, no cell-cover fan-out of the zone side.  This is
the reference's in-memory spatial-index shape (GEOS STRtree behind
OGRLayer::SetSpatialFilter / Intersection) lifted to the executor.

When to prefer which at 100 TB:
  * cell join — method layer too big to broadcast, or reused across
    many queries (the cell cover amortizes);
  * STR-tree — dim-sized method layer with wildly mixed feature sizes,
    where a single zoom's cell cover either fans out huge features
    into thousands of cells or makes hot cells with many candidates;
    the R-tree adapts to feature size with no zoom knob.

Zone-layer contract: dim-sized.  All three joins collect their dim
layer through the one bounded driver collect every broadcast join uses
(``operators/dim.py`` ``collect_dim``, at most ``MAX_DIM_ROWS`` rows,
raising above that with a pointer to the distributed twin, where one
exists — the clip join has none) and ship it
as a keyed broadcast (:func:`_broadcast_dim`); one tree per executor
process is built through :func:`_tree_of`.  Exactness: candidates are
envelope hits; every candidate goes through the SAME per-unique-zone
kernels as the cell joins — zones decoded by the shared
``zone_geometry`` cache, the ray-cast of pip_join's refine, the clip
areas of overlay's kernel — so results are bit-identical to the
cell-join twins (pinned in tests/test_strtree_join.py).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from gdal_spark.geometry.envelope import zone_geometry
from gdal_spark.geometry.pip import points_in_polygon
from gdal_spark.geometry.strtree import STRTree
from gdal_spark.operators.dim import collect_dim

# one tree per broadcast payload per executor process, keyed by an
# explicit token SHIPPED IN the broadcast value — id(bc) would be the
# executor-side unpickled object's address, which CPython reuses across
# different broadcasts (stale-tree hazard) and differs across tasks for
# the same broadcast (useless cache)
_TREE_CACHE: dict[str, tuple] = {}
_KEY_SEQ = [0]


def _broadcast_dim(df: DataFrame, what: str, twin: str):
    """Broadcast a dim layer as ``(key, *columns)`` (numpy arrays in
    ``df``'s column order), collected through the bounded
    :func:`collect_dim`; ``key`` is a driver-unique token:
    applicationId x per-process sequence number."""
    pdf = collect_dim(df, what, twin)
    sc = df.sparkSession.sparkContext
    _KEY_SEQ[0] += 1
    key = f"{sc.applicationId}/{_KEY_SEQ[0]}"
    return sc.broadcast((key, *(pdf[c].to_numpy() for c in pdf.columns)))


def _tree_of(bc, boxes_of) -> tuple:
    """(STRTree, ids, *columns) of a :func:`_broadcast_dim` layer whose
    first column is the id; the tree is bulk-loaded from
    ``boxes_of(*columns)`` once per executor process."""
    key, ids, *cols = bc.value
    got = _TREE_CACHE.get(key)
    if got is None:
        _TREE_CACHE.clear()  # one live method layer per process is plenty
        got = (STRTree(boxes_of(*cols)), np.asarray(ids, dtype=np.int64), *cols)
        _TREE_CACHE[key] = got
    return got


def _zone_boxes(wkts) -> np.ndarray:
    return np.asarray([zone_geometry(w, "wkt").env for w in wkts], dtype=np.float64)


def pip_join_strtree(
    points: DataFrame,
    zones: DataFrame,
    zone_id_col: str = "zone_id",
    wkt_col: str = "geom_wkt",
    id_col: str = "doc_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """(doc_id, zone_id) pairs where the point lies inside the zone
    polygon (pip_join's exact containment semantics — same ray-cast
    kernel, same half-open rule)."""
    bc = _broadcast_dim(
        zones.select(zone_id_col, wkt_col),
        "zone layer",
        "pip_join(strategy='shuffle'), the cell join that never collects it",
    )

    out_schema = StructType(
        [StructField(id_col, LongType()), StructField(zone_id_col, LongType())]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tree, ids, wkts = _tree_of(bc, _zone_boxes)
        for pdf in batches:
            xs = pdf[lon_col].to_numpy(dtype=np.float64)
            ys = pdf[lat_col].to_numpy(dtype=np.float64)
            qi, zi = tree.query_points(xs, ys)
            keep = np.zeros(len(qi), dtype=bool)
            # refine vectorized per candidate zone (dim-sized loop)
            for z in np.unique(zi):
                m = zi == z
                hit = np.zeros(int(m.sum()), dtype=bool)
                for rings in zone_geometry(wkts[z], "wkt").polys:
                    hit |= points_in_polygon(xs[qi[m]], ys[qi[m]], rings)
                keep[m] = hit
            qi, zi = qi[keep], zi[keep]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy()[qi],
                    zone_id_col: ids[zi],
                }
            )

    return points.select(id_col, lon_col, lat_col).mapInPandas(
        kernel, out_schema
    )


def clip_join_strtree(
    polydocs: DataFrame,
    zones: DataFrame,
    zone_id_col: str = "zone_id",
    wkt_col: str = "geom_wkt",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact intersection pieces (doc_id, zone_id, piece_area) with the
    STR-tree candidate stage — the north-star "STR-tree per partition
    for tile clipping" (the raster↔vector mapping role GEOS STRtree
    plays behind OGRLayer::Intersection / Clip).

    Same dim-layer contract as :func:`pip_join_strtree`; the corpus
    side's envelopes query the tree in ONE mapInPandas (zero shuffle,
    zero join operator, no zone-side cell fan-out).  Candidates resolve
    through the SAME classified-zone kernels as overlay._clip_kernel —
    rectangle zones via the identical IEEE min/max math, general
    concave/holed/multipart zones via the fan-triangle
    rects_polys_intersection_area — and the same AREA_EPS drop rule, so
    output is BIT-IDENTICAL to intersection_join(emit_wkt=False)
    (pinned in tests/test_strtree_join.py; same DuckDB oracle as
    clip_general in the registry)."""
    bc = _broadcast_dim(zones.select(zone_id_col, wkt_col), "zone layer", None)

    out_schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField(zone_id_col, LongType()),
            StructField("piece_area", DoubleType()),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from gdal_spark.operators.overlay import AREA_EPS, zone_clip_areas

        tree, ids, wkts = _tree_of(bc, _zone_boxes)
        for pdf in batches:
            x0 = pdf["xmin"].to_numpy(np.float64)
            y0 = pdf["ymin"].to_numpy(np.float64)
            x1 = pdf["xmax"].to_numpy(np.float64)
            y1 = pdf["ymax"].to_numpy(np.float64)
            qi, zi = tree.query_boxes(np.column_stack([x0, y0, x1, y1]))
            areas = np.zeros(len(qi), dtype=np.float64)
            for z in np.unique(zi):
                m = zi == z
                q = qi[m]
                areas[m] = zone_clip_areas(
                    zone_geometry(wkts[z], "wkt"), x0[q], y0[q], x1[q], y1[q]
                )
            keep = areas > AREA_EPS
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy()[qi[keep]],
                    zone_id_col: ids[zi[keep]],
                    "piece_area": areas[keep],
                }
            )

    return polydocs.select(id_col, "xmin", "ymin", "xmax", "ymax").mapInPandas(
        kernel, out_schema
    )


# a box radius covering the whole lon/lat extent: the candidate set is
# provably complete at this radius, so the doubling loop must terminate
_KNN_WORLD_R = 512.0


def knn_join_strtree(
    docs: DataFrame,
    targets: DataFrame,
    k: int = 5,
    r0: float = 4.0,
    id_col: str = "doc_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """kNN twin backed by the per-executor STR tree (same dim-layer
    contract and the same exact semantics as knn_join: squared
    euclidean in degrees, ties by min target_id, rnk 1..k).

    Radius-doubling candidate stage: each still-active query point asks
    the tree for targets inside the closed box ±r; a point settles when
    its k-th best candidate distance satisfies d2 <= r² — any target
    OUTSIDE the box has |dx| > r or |dy| > r, hence d2 strictly > r²,
    so the top-k is provably final (the tree analog of the cell-ring
    stop rule in knn.py:107-118).  Bit-identical to knn_join (pinned in
    tests/test_strtree_join.py; same DuckDB brute-force oracle)."""
    bc = _broadcast_dim(
        targets.select(
            "target_id", *(F.col(c).cast("double").alias(c) for c in ("tlon", "tlat"))
        ),
        "target layer",
        "knn_join_shuffle, the cell-ring join that never collects them",
    )

    from pyspark.sql.types import IntegerType

    out_schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("target_id", LongType()),
            StructField("rnk", IntegerType()),
            StructField("d2", DoubleType()),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tree, tid, tlon, tlat = _tree_of(
            bc, lambda x, y: np.column_stack([x, y, x, y])
        )
        kk = min(k, len(tid))
        if kk == 0:
            return
        for pdf in batches:
            qx = pdf[lon_col].to_numpy(np.float64)
            qy = pdf[lat_col].to_numpy(np.float64)
            did = pdf[id_col].to_numpy(np.int64)
            m = len(qx)
            out_id = np.full((m, kk), -1, dtype=np.int64)
            out_d2 = np.full((m, kk), np.inf)
            active = np.arange(m, dtype=np.int64)
            r = float(r0)
            while active.size:
                ax, ay = qx[active], qy[active]
                qi, ti = tree.query_boxes(
                    np.column_stack([ax - r, ay - r, ax + r, ay + r])
                )
                dx = ax[qi] - tlon[ti]
                dy = ay[qi] - tlat[ti]
                d2 = dx * dx + dy * dy
                # per-query top-k by (d2, target_id): one lexsort over
                # the candidate pairs, rank-within-group by cumcount
                order = np.lexsort((tid[ti], d2, qi))
                qi_s, ti_s, d2_s = qi[order], ti[order], d2[order]
                starts = np.flatnonzero(np.r_[True, qi_s[1:] != qi_s[:-1]])
                counts = np.diff(np.r_[starts, len(qi_s)])
                ranks = np.arange(len(qi_s)) - np.repeat(starts, counts)
                grp_of = np.repeat(np.arange(len(starts)), counts)
                # settled: k candidates exist AND the kth is inside the
                # provably-complete radius (or the box already covers
                # the world extent)
                kth_d2 = np.full(len(starts), np.inf)
                has_k = counts >= kk
                kth_idx = starts[has_k] + kk - 1
                kth_d2[has_k] = d2_s[kth_idx]
                settled_g = has_k & ((kth_d2 <= r * r) | (r >= _KNN_WORLD_R))
                take = settled_g[grp_of] & (ranks < kk)
                rows = active[qi_s[take]]
                cols = ranks[take]
                out_id[rows, cols] = ti_s[take]
                out_d2[rows, cols] = d2_s[take]
                done = np.zeros(active.size, dtype=bool)
                done[qi_s[starts[settled_g]]] = True
                active = active[~done]
                r *= 2.0
            valid = out_id >= 0
            rows = np.broadcast_to(np.arange(m)[:, None], (m, kk))[valid]
            rnks = np.broadcast_to(np.arange(1, kk + 1), (m, kk))[valid]
            yield pd.DataFrame(
                {
                    id_col: did[rows],
                    "target_id": tid[out_id[valid]],
                    "rnk": rnks.astype(np.int32),
                    "d2": out_d2[valid],
                }
            )

    return docs.select(id_col, lon_col, lat_col).mapInPandas(kernel, out_schema)
