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

Zone-layer contract: dim-sized.  Both joins bring their zone layer
through ``operators/dim.py``: ``_broadcast_dim`` (the bounded driver
collect every broadcast join uses, at most ``MAX_DIM_ROWS`` rows,
raising above that with a pointer to the distributed twin where one
exists — the clip join has none) ships it as one keyed broadcast, and
``_tree_of`` bulk-loads one tree per executor process; ``knn_join``
and ``radius_join`` (operators/knn.py) query the same kind of tree over
their targets.  Exactness: candidates are envelope hits; every
candidate goes through the SAME per-unique-zone kernels as the cell
joins — zones decoded by the shared ``zone_geometry`` cache, the
ray-cast of pip_join's refine, the clip areas of overlay's kernel — so
results are bit-identical to the cell-join twins (pinned in
tests/test_strtree_join.py).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from gdal_spark.geometry.envelope import zone_geometry
from gdal_spark.geometry.pip import points_in_polygon
from gdal_spark.operators.dim import _broadcast_dim, _tree_of

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
