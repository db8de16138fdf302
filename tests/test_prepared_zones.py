"""The driver-prepared zone layer of the broadcast spatial joins.

* Unclosed rings: every decoder accepts a ring whose last vertex is not
  its first; the clip, ray-cast and burn kernels must read it exactly
  like the closed spelling, in WKT and WKB.
* Branch planning: ``pip_join`` and ``intersection_join`` plan only the
  branches the prepared layer needs, so every strategy, the
  ``rect_fast`` switch and ``emit_wkt`` must still return the same rows
  on mixed, empty and WKB layers.
* The prepare itself: one bounded collect (``collect_dim``), one Spark
  job per call, zone columns returned unchanged.  Rasterize and a
  streaming ``pip_join`` keep the executor cover: no job when called.
"""

import math

import numpy as np
import pytest
from hypothesis import Phase, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from gdal_spark import corpus, zones
from gdal_spark.geometry.boolean import polys_area, rects_polys_intersection_area
from gdal_spark.geometry.envelope import zone_geometry
from gdal_spark.geometry.pip import points_in_polygon, points_in_polygon_wkt
from gdal_spark.geometry.wkb import wkt_payload_to_wkb
from gdal_spark.geometry.wkt import parse_wkt
from gdal_spark.operators.overlay import intersection_join
from gdal_spark.operators.pip_join import pip_join, with_wkb_geometry


def _star_wkt(cx, cy, radii, closed):
    """A simple star-shaped ring around (cx, cy), written closed or
    with the closing vertex left out."""
    n = len(radii)
    pts = [
        (
            round(cx + r * math.cos(2 * math.pi * i / n), 3),
            round(cy + r * math.sin(2 * math.pi * i / n), 3),
        )
        for i, r in enumerate(radii)
    ]
    if closed:
        pts.append(pts[0])
    return "POLYGON ((" + ",".join(f"{x!r} {y!r}" for x, y in pts) + "))"


def _spellings(cx, cy, radii):
    """(geometry, geom_format) for closed/unclosed x WKT/WKB."""
    out = []
    for closed in (True, False):
        w = _star_wkt(cx, cy, radii, closed)
        out.append((w, "wkt"))
        out.append((wkt_payload_to_wkb(*parse_wkt(w)), "wkb"))
    return out


stars = st.tuples(
    st.integers(-40, 40),
    st.integers(-40, 40),
    st.lists(st.integers(2, 9), min_size=4, max_size=9),
)


class TestUnclosedRings:
    @settings(max_examples=200, deadline=None)
    @given(stars)
    def test_clip_and_raycast_read_every_spelling_alike(self, star):
        cx, cy, radii = star
        ref = zone_geometry(_star_wkt(cx, cy, radii, True), "wkt")
        area = polys_area(ref.polys)
        x0, y0, x1, y1 = ref.env
        cover = np.array([[x0 - 1, y0 - 1, x1 + 1, y1 + 1]])
        gx, gy = np.meshgrid(np.linspace(x0, x1, 41), np.linspace(y0, y1, 41))
        want = points_in_polygon(gx.ravel(), gy.ravel(), ref.polys[0])
        for g, fmt in _spellings(cx, cy, radii):
            z = zone_geometry(g, fmt)
            got = rects_polys_intersection_area(cover, *z.tris)[0]
            assert got == pytest.approx(area, rel=1e-9, abs=1e-9), (g, fmt)
            assert polys_area(z.polys) == area, (g, fmt)
            hit = points_in_polygon(gx.ravel(), gy.ravel(), z.polys[0])
            assert (hit == want).all(), (g, fmt)

    def test_known_unclosed_pentagon(self):
        # the envelope (-1,-1)-(5,5) covers the pentagon: area 5 whether
        # or not the ring repeats its first vertex
        for w in ("POLYGON ((0 0,2 0,2 2,1 3,0 2))", "POLYGON ((0 0,2 0,2 2,1 3,0 2,0 0))"):
            z = zone_geometry(w, "wkt")
            got = rects_polys_intersection_area(np.array([[-1.0, -1, 5, 5]]), *z.tris)
            assert got[0] == pytest.approx(5.0) and polys_area(z.polys) == 5.0

    def test_unclosed_rectangle_keeps_its_flag(self):
        assert zone_geometry("POLYGON ((0 0,4 0,4 2,0 2))", "wkt").is_rect

    def test_doc_rings_read_like_zone_rings(self, spark):
        # the DOC side reads rings through the same closing rule: the
        # doc-WKT clip of intersection_join and points_in_polygon_wkt
        xs, ys = np.array([1.5]), np.array([2.0])
        for w in ("POLYGON ((2 0,0 1,0 3,2 4))", "POLYGON ((2 0,0 1,0 3,2 4,2 0))"):
            assert points_in_polygon_wkt(xs, ys, w)[0], w
        square = spark.createDataFrame(
            [(7, "POLYGON ((-1 -1,5 -1,5 5,-1 5,-1 -1))")],
            "zone_id long, geom_wkt string",
        )
        for w in ("POLYGON ((0 0,2 0,2 2,1 3,0 2))", "POLYGON ((0 0,2 0,2 2,1 3,0 2,0 0))"):
            doc = spark.createDataFrame(
                [(0, 0.0, 0.0, 2.0, 3.0, w)],
                "doc_id long, xmin double, ymin double, xmax double, "
                "ymax double, doc_wkt string",
            )
            pieces = intersection_join(doc, square, doc_wkt_col="doc_wkt").collect()
            assert [p.piece_area for p in pieces] == [pytest.approx(5.0)], w

    # every example runs Spark jobs: report a failure unshrunk
    @settings(max_examples=4, deadline=None, phases=[Phase.generate])
    @given(stars)
    def test_joins_and_rasterize_agree_on_every_spelling(self, spark, star):
        from gdal_spark.operators.rasterize import rasterize_counts
        from gdal_spark.operators.strtree_join import clip_join_strtree

        cx, cy, radii = star
        ref = zone_geometry(_star_wkt(cx, cy, radii, True), "wkt")
        area = polys_area(ref.polys)
        x0, y0, x1, y1 = ref.env
        gx, gy = np.meshgrid(np.linspace(x0, x1, 23), np.linspace(y0, y1, 23))
        xs, ys = gx.ravel(), gy.ravel()
        inside = points_in_polygon(xs, ys, ref.polys[0])
        want_pip = sorted(int(i) for i in np.flatnonzero(inside))
        pts = spark.createDataFrame(
            [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(xs, ys))],
            "doc_id long, lon double, lat double",
        )
        box = spark.createDataFrame(
            [(0, x0 - 1.0, y0 - 1.0, x1 + 1.0, y1 + 1.0)],
            "doc_id long, xmin double, ymin double, xmax double, ymax double",
        )
        burned = None
        for g, fmt in _spellings(cx, cy, radii):
            col = "geom_wkt" if fmt == "wkt" else "geom_wkb"
            ztype = "string" if fmt == "wkt" else "binary"
            z = spark.createDataFrame([(7, g)], f"zone_id long, {col} {ztype}")
            got = pip_join(pts, z, wkt_col=col, geom_format=fmt).select("doc_id")
            assert sorted(r.doc_id for r in got.collect()) == want_pip, (g, fmt)
            pieces = intersection_join(
                box, z, emit_wkt=False, wkt_col=col, geom_format=fmt
            ).collect()
            assert len(pieces) == 1
            assert pieces[0].piece_area == pytest.approx(area, rel=1e-9), (g, fmt)
            if fmt == "wkt":
                clip = clip_join_strtree(box, z).collect()
                assert clip[0].piece_area == pieces[0].piece_area, g
                counts = sorted(
                    tuple(r) for r in rasterize_counts(z, 4).collect()
                )
                burned = counts if burned is None else burned
                assert counts == burned, g


def _pairs(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


@pytest.fixture(scope="module")
def mixed_zones(spark):
    """fancy_zones (donut, C, squares, multipolygon) plus rectangles."""
    rects = spark.createDataFrame(
        [
            (9101, 0.0, "R1", "POLYGON ((-100 -30, -80 -30, -80 -10, -100 -10, -100 -30))"),
            (9102, 0.0, "R2", "POLYGON ((100 20, 120 20, 120 35, 100 35, 100 20))"),
        ],
        "zone_id long, area double, prfedea string, geom_wkt string",
    )
    return zones.fancy_zones(spark).unionByName(rects)


@pytest.fixture(scope="module")
def empty_zones(spark):
    return spark.createDataFrame([], "zone_id long, geom_wkt string")


class TestBranchParity:
    def test_pip_join_paths_agree(self, spark, sf_dir, mixed_zones, empty_zones):
        docs = corpus.load_docs(spark, sf_dir)
        wkb = with_wkb_geometry(mixed_zones).drop("geom_wkt")
        layers = [
            (mixed_zones, {}),
            (empty_zones, {}),
            (wkb, {"wkt_col": "geom_wkb", "geom_format": "wkb"}),
        ]
        want_mixed = None
        for z, kw in layers:
            runs = [
                pip_join(docs, z, **kw),
                pip_join(docs, z, strategy="shuffle", salt=4, **kw),
                pip_join(docs, z, rect_fast=False, **kw),
            ]
            got = [_pairs(o, "doc_id", "zone_id") for o in runs]
            assert got[0] == got[1] == got[2]
            assert all(o.columns == docs.columns + z.columns for o in runs)
            if z is mixed_zones:
                want_mixed = got[0]
                # both branches contribute: a rectangle and a polygon zone
                zids = {zid for _, zid in want_mixed}
                assert zids & {9101, 9102} and zids - {9101, 9102}
            elif z is empty_zones:
                assert got[0] == []
            else:
                assert got[0] == want_mixed

    def test_intersection_join_rect_branch_matches_kernel(
        self, spark, sf_dir, mixed_zones, empty_zones
    ):
        pdocs = corpus.load_polydocs(spark, sf_dir)
        wkb = with_wkb_geometry(mixed_zones).drop("geom_wkt")
        cols = ("doc_id", "zone_id", "piece_area")
        for z, kw in [
            (mixed_zones, {}),
            (empty_zones, {}),
            (wkb, {"wkt_col": "geom_wkb", "geom_format": "wkb"}),
        ]:
            fast = intersection_join(pdocs, z, emit_wkt=False, **kw)
            slow = intersection_join(pdocs, z, emit_wkt=True, **kw)
            assert fast.columns == slow.columns
            assert _pairs(fast, *cols) == _pairs(slow, *cols)
            if z is empty_zones:
                assert fast.count() == 0
            else:
                assert {r.zone_id for r in fast.select("zone_id").collect()} & {9101, 9102}

    def test_zone_columns_come_back_unchanged(self, spark):
        z = spark.createDataFrame(
            [
                (1, "north", None, 2.5, True, "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"),
                (2, None, 7, -1.0, False, "POLYGON ((10 0, 14 0, 12 3, 10 0))"),
            ],
            "zone_id long, name string, weight int, score double, keep boolean,"
            " geom_wkt string",
        )
        pts = spark.createDataFrame(
            [(1, 1.0, 1.0), (2, 12.0, 1.0)], "doc_id long, lon double, lat double"
        )
        for kw in ({}, {"strategy": "shuffle"}, {"rect_fast": False}):
            out = pip_join(pts, z, **kw)
            zcols = out.schema.fields[len(pts.columns):]
            assert [(f.name, f.dataType) for f in zcols] == [
                (f.name, f.dataType) for f in z.schema.fields
            ]
            got = _pairs(out, "doc_id", *z.columns)
            # doc i lies in zone i: a rectangle and a triangle, one per branch
            want = sorted((r.zone_id, *r) for r in z.collect())
            assert got == want, kw


class TestPrepare:
    def test_collect_dim_over_the_limit_raises(self, spark, sf_dir, monkeypatch):
        from gdal_spark.operators import dim

        monkeypatch.setattr(dim, "MAX_DIM_ROWS", 39)
        rz = zones.rich_zones(spark)
        with pytest.raises(ValueError, match="more than 39 rows"):
            dim.collect_dim(rz, "zone layer", "the twin")
        pts = spark.createDataFrame([(1, 0.0, 0.0)], "doc_id long, lon double, lat double")
        with pytest.raises(ValueError, match="strategy='shuffle'"):
            pip_join(pts, rz)
        pdocs = corpus.load_polydocs(spark, sf_dir, replicate=1)
        with pytest.raises(ValueError, match="no distributed version"):
            intersection_join(pdocs, rz, emit_wkt=False)
        monkeypatch.setattr(dim, "MAX_DIM_ROWS", 40)
        assert len(dim.collect_dim(rz, "zone layer", "the twin")) == 40

    def test_pip_join_call_runs_one_job(self, spark, sf_dir):
        sc = spark.sparkContext
        docs = corpus.load_docs(spark, sf_dir)
        rz = zones.rich_zones(spark)
        sc.setJobGroup("prepare-zones", "pip_join call")
        try:
            pip_join(docs, rz)
        finally:
            sc.setJobGroup("", "")
        assert len(sc.statusTracker().getJobIdsForGroup("prepare-zones")) == 1

    @pytest.mark.parametrize("zoom", [0, 3, 6, 10])
    def test_mercator_cover_matches_per_envelope_tiles(self, zoom):
        # the one-pass cover against each envelope's own tile range, on
        # envelopes that cross the ±85.05 latitude and ±180 longitude
        # clamps as well as ones inside them
        from gdal_spark.geometry import mercator
        from gdal_spark.operators.pip_join import _cover_cells

        rng = np.random.default_rng(20261020 + zoom)
        x0 = rng.uniform(-200.0, 190.0, 400)
        y0 = rng.uniform(-89.9, 84.0, 400)
        env = np.column_stack(
            [x0, y0, x0 + rng.exponential(8.0, 400),
             np.minimum(y0 + rng.exponential(5.0, 400), 89.9)]
        )
        n = 2**zoom
        want = set()
        for i, (a, b, c, d) in enumerate(env):
            tx0, ty0 = (int(v) for v in mercator.lat_lon_to_tile(
                max(b, -85.05), max(a, -179.999999), zoom))
            tx1, ty1 = (int(v) for v in mercator.lat_lon_to_tile(
                min(d, 85.05), min(c, 179.999999), zoom))
            want.update(
                (i, tx, ty)
                for tx in range(max(tx0, 0), min(tx1, n - 1) + 1)
                for ty in range(max(ty0, 0), min(ty1, n - 1) + 1)
            )
        zi, (tx, ty) = _cover_cells(env, zoom)
        got = list(zip(zi.tolist(), tx.tolist(), ty.tolist()))
        assert len(got) == len(set(got)) and set(got) == want
        assert any(e[1] < -85.05 or e[3] > 85.05 for e in env)
        assert any(e[0] < -180.0 or e[2] > 180.0 for e in env)


def _jobs_and_plan(spark, build):
    """(Spark jobs ``build()`` starts, the analyzed plan of its result)."""
    sc = spark.sparkContext
    sc.setJobGroup("executor-cover", "call only")
    try:
        df = build()
    finally:
        sc.setJobGroup("", "")
    jobs = sc.statusTracker().getJobIdsForGroup("executor-cover")
    return len(jobs), df._jdf.queryExecution().analyzed().toString()


class TestExecutorCover:
    """Callers that must not collect the zone layer when called."""

    def test_rasterize_covers_on_executors(self, spark):
        from gdal_spark.operators.rasterize import rasterize, rasterize_values

        for fn in (rasterize, rasterize_values):
            jobs, plan = _jobs_and_plan(
                spark, lambda: fn(zones.rich_zones(spark), 6)
            )
            assert jobs == 0, fn.__name__
            assert plan.count("MapInPandas") == 1, plan
            assert "LocalRelation" not in plan, plan

    def test_streaming_pip_join_rereads_the_zone_layer(self, spark, sf_dir, tmp_path):
        schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
        src = spark.readStream.schema(schema).parquet(str(tmp_path))
        src = src.withColumn("lon", F.expr(corpus.LON_SQL)).withColumn(
            "lat", F.expr(corpus.LAT_SQL)
        )
        jobs, plan = _jobs_and_plan(
            spark, lambda: pip_join(src, zones.rich_zones(spark))
        )
        assert jobs == 0
        # the executor cover (under both branches: the flags are
        # unknown) runs in every micro-batch, reading the static zone
        # side anew; nothing was collected at definition
        assert "MapInPandas expand" in plan, plan
        assert "LocalRelation" not in plan, plan
