"""Direct timings of the ``geometry`` kernels the joins call per batch.

The batches are drawn once from the generated input (point and rectangle
docs of the seeded table, the concave ``rich_zones`` layer), so the
kernels see exactly the coordinates the Spark passes feed them.  Each
kernel runs ``REPEATS`` times and the median is reported with the
operation count it performed.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

REPEATS = 5


def _median_time(fn) -> float:
    ts = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


def draw_batches(spark, in_dir: str, n_points: int, n_rects: int) -> dict:
    """Seeded numpy batches from the generated documents + zone layer."""
    from gdal_spark import corpus, zones
    from gdal_spark.geometry.envelope import wkt_envelope
    from gdal_spark.geometry.wkt import parse_wkt

    pts = corpus.load_docs(spark, in_dir).select("lon", "lat").limit(n_points)
    pts = pts.toPandas()
    rects = (
        corpus.load_polydocs(spark, in_dir)
        .select("xmin", "ymin", "xmax", "ymax")
        .limit(n_rects)
        .toPandas()
    )
    wkts = zones.rich_zones(spark).toPandas()["geom_wkt"].tolist()
    polys = []
    for w in wkts:
        typ, payload = parse_wkt(w)
        polys.append(payload if typ == "MULTIPOLYGON" else [payload])
    return {
        "xs": pts["lon"].to_numpy(np.float64),
        "ys": pts["lat"].to_numpy(np.float64),
        "rects": rects.to_numpy(np.float64),
        "polys": polys,
        "boxes": np.asarray([wkt_envelope(w) for w in wkts], dtype=np.float64),
    }


def measure(b: dict) -> dict:
    from gdal_spark.geometry.boolean import (
        rects_polys_intersection_area,
        weighted_triangles,
    )
    from gdal_spark.geometry.pip import points_in_polygon
    from gdal_spark.geometry.strtree import STRTree

    xs, ys, rects, polys, boxes = b["xs"], b["ys"], b["rects"], b["polys"], b["boxes"]

    # ray-cast PIP: every point against every zone polygon; the kernel's
    # envelope pretest limits edge tests to points inside a ring's bbox
    def pip():
        for poly in polys:
            for rings in poly:
                points_in_polygon(xs, ys, rings)

    edge_tests = 0
    for poly in polys:
        for rings in poly:
            for ring in rings:
                inside = (
                    (xs >= ring[:, 0].min()) & (xs <= ring[:, 0].max())
                    & (ys >= ring[:, 1].min()) & (ys <= ring[:, 1].max())
                )
                edge_tests += int(inside.sum()) * (len(ring) - 1)
    t_pip = _median_time(pip)

    # STR-tree candidate stage over the zone envelopes
    tree = STRTree(boxes)
    t_tree = _median_time(lambda: tree.query_points(xs, ys))

    # fan-triangle clip: rect docs against each zone they overlap
    jobs = []
    for poly, (x0, y0, x1, y1) in zip(polys, boxes):
        tris, w = weighted_triangles(poly)
        hit = (
            (rects[:, 0] <= x1) & (x0 <= rects[:, 2])
            & (rects[:, 1] <= y1) & (y0 <= rects[:, 3])
        )
        jobs.append((rects[hit], tris, w))
    pairs = sum(len(r) for r, _, _ in jobs)

    def clip():
        for r, tris, w in jobs:
            if len(r):
                rects_polys_intersection_area(r, tris, w)

    t_clip = _median_time(clip)
    n_zones = len(polys)
    return {
        "geometry.pip.points_per_s": len(xs) * n_zones / t_pip,
        "geometry.pip.edge_tests": edge_tests,
        "geometry.strtree.queries_per_s": len(xs) / t_tree,
        "geometry.boolean.pairs_per_s": pairs / t_clip,
    }
