"""Overlay family: layer-algebra golden fixtures (exact ports of
autotest/ogr/ogr_layer_algebra.py:56-102), span passthrough, and the
ogr2ogr translate lifecycle (scan -> transform -> clip -> checkpointed
write, apps/ogr2ogr_lib.cpp:2362 analog)."""

import tempfile

import pytest
from pyspark.sql import functions as F

from gdal_spark import corpus, zones
from gdal_spark.checkpointing import CheckpointedJob
from gdal_spark.operators.overlay import erase_area, intersection_join


@pytest.fixture(scope="module")
def algebra_A(spark):
    # ogr_layer_algebra.py:61-67: A1/A2 rectangles as envelope cols
    return spark.createDataFrame(
        [
            (1, 1.0, 2.0, 3.0, 3.0),
            (2, 5.0, 2.0, 7.0, 3.0),
        ],
        "doc_id long, xmin double, ymin double, xmax double, ymax double",
    )


@pytest.fixture(scope="module")
def algebra_B(spark):
    # ogr_layer_algebra.py:83: B1 = POLYGON((2 1, 2 4, 6 4, 6 1, 2 1))
    return spark.createDataFrame(
        [(100, "POLYGON ((2 1, 2 4, 6 4, 6 1, 2 1))")],
        "zone_id long, geom_wkt string",
    )


class TestLayerAlgebraGoldens:
    def test_intersection_golden(self, algebra_A, algebra_B):
        """A∩B expected: A1∩B1 = unit square (2,2)-(3,3);
        A2∩B1 = square (5,2)-(6,3) (the reference asserts these two
        features, ogr_layer_algebra.py test_intersection)."""
        out = intersection_join(algebra_A, algebra_B, zoom=3)
        rows = {r.doc_id: (r.piece_area, r.piece_wkt) for r in out.collect()}
        assert set(rows) == {1, 2}
        assert rows[1][0] == 1.0
        assert rows[2][0] == 1.0
        assert "2 2" in rows[1][1] and "3 3" in rows[1][1]

    def test_erase_golden(self, algebra_A, algebra_B):
        """A−B: A1 keeps (1,2)-(2,3) area 1; A2 keeps (6,2)-(7,3) area 1."""
        out = {r.doc_id: r.erase_area for r in erase_area(algebra_A, algebra_B, zoom=3).collect()}
        assert out == {1: 1.0, 2: 1.0}


class TestSpanInvariant:
    def test_overlay_preserves_spans(self, spark, sf_dir):
        pdocs = corpus.load_polydocs(spark, sf_dir)
        cz = zones.clip_zones(spark).drop("zxmin", "zymin", "zxmax", "zymax")
        out = intersection_join(pdocs, cz)
        joined = out.alias("o").join(
            pdocs.alias("d"), F.col("o.doc_id") == F.col("d.doc_id")
        )
        assert joined.filter(F.col("o.spans") != F.col("d.spans")).count() == 0
        assert out.count() > 0


class TestTranslateLifecycle:
    def test_scan_transform_clip_write_resume(self, spark, sf_dir):
        """ogr2ogr copy pipeline: read docs -> attribute filter ->
        coordinate transform (4326 -> 3857 meters) -> clipsrc -> batched
        transactional write with resume (the -gt/-clipsrc/-t_srs path,
        ogr2ogr_lib.cpp:6676-6964 + 7597-7800)."""
        from gdal_spark.geometry import mercator

        docs = corpus.load_docs(spark, sf_dir)

        def translate():
            out = docs.filter(F.col("n_chars") > 100)  # attribute filter
            out = out.withColumn(
                "mx", F.expr(mercator.sql_mx("lon"))
            ).withColumn("my", F.expr(mercator.sql_my("lat")))
            # -clipsrc box: envelope pretest only (points: test == clip)
            return out.filter(
                (F.col("lon") > -90) & (F.col("lon") < 90)
                & (F.col("lat") > -45) & (F.col("lat") < 45)
            )

        with tempfile.TemporaryDirectory() as root:
            job = CheckpointedJob(spark, root, lineage={"src": sf_dir})
            assert job.run_unit("translate", translate) is True
            n1 = job.read_unit("translate").count()
            # resume: skipped, output unchanged
            assert job.run_unit("translate", translate) is False
            assert job.read_unit("translate").count() == n1
            got = job.read_unit("translate")
            # spans survived the copy; mercator cols present
            assert "spans" in got.columns and "mx" in got.columns
            assert n1 > 0


class TestKeepLowerDim:
    """KEEP_LOWER_DIMENSION_GEOMETRIES wired through intersection_join
    (ogrlayer.cpp:3345-3580): option ON emits the shared-boundary
    LINESTRING for touching pairs, OFF is bit-identical to the previous
    behavior."""

    @pytest.fixture()
    def touch_layers(self, spark):
        docs = spark.createDataFrame(
            [(1, 0.0, 0.0, 4.0, 4.0),  # touches zone 10 along x=4
             (2, 10.0, 10.0, 12.0, 12.0)],  # interior overlap with 11
            "doc_id bigint, xmin double, ymin double, "
            "xmax double, ymax double",
        )
        z = spark.createDataFrame(
            [(10, "POLYGON ((4 1,8 1,8 3,4 3,4 1))"),
             (11, "POLYGON ((11 11,14 11,14 14,11 14,11 11))")],
            "zone_id bigint, geom_wkt string",
        )
        return docs, z

    def test_option_on_emits_linestring(self, spark, touch_layers):
        docs, z = touch_layers
        out = intersection_join(docs, z, keep_lower_dim=True)
        got = {(r["doc_id"], r["zone_id"]): (r["piece_area"], r["piece_wkt"])
               for r in out.collect()}
        assert got[(1, 10)][0] <= 1e-12
        assert got[(1, 10)][1] == "LINESTRING (4 1,4 3)"
        assert got[(2, 11)][0] == pytest.approx(1.0)

    def test_option_off_matches_previous(self, spark, touch_layers):
        docs, z = touch_layers
        off = intersection_join(docs, z, keep_lower_dim=False)
        assert {(r["doc_id"], r["zone_id"]) for r in off.collect()} == {
            (2, 11)
        }

    def test_option_requires_wkt_emit(self, spark, touch_layers):
        docs, z = touch_layers
        with pytest.raises(ValueError, match="keep_lower_dim"):
            intersection_join(
                docs, z, emit_wkt=False, keep_lower_dim=True
            ).collect()


class TestRectangleRule:
    """Every clip path routes a zone by the one ``IsRectangle`` rule
    (ogrgeometry.cpp:8822): a 5-vertex triangle and a bowtie whose
    vertices take only two x and two y values are NOT rectangles, so
    their pieces come from the exact polygon clip, never the envelope."""

    @pytest.mark.parametrize(
        "zone_wkt,want",
        [
            ("POLYGON ((0 0,0 0,1 0,1 1,0 0))", 0.5),  # triangle
            ("POLYGON ((0 0,1 1,0 1,1 0,0 0))", None),  # bowtie
        ],
    )
    @pytest.mark.parametrize("path", ["area", "wkt", "wkb", "strtree"])
    def test_degenerate_rings_clip_exactly(self, spark, zone_wkt, want, path):
        import numpy as np

        from gdal_spark.geometry.boolean import (
            rects_polys_intersection_area,
            weighted_triangles,
        )
        from gdal_spark.geometry.envelope import as_polys
        from gdal_spark.geometry.wkt import parse_wkt
        from gdal_spark.operators.overlay import AREA_EPS
        from gdal_spark.operators.pip_join import with_wkb_geometry
        from gdal_spark.operators.strtree_join import clip_join_strtree

        exact = rects_polys_intersection_area(
            np.array([[0.0, 0.0, 1.0, 1.0]]),
            *weighted_triangles(as_polys(*parse_wkt(zone_wkt))),
        )[0]
        if want is not None:
            assert exact == want
        docs = spark.createDataFrame(
            [(1, 0.0, 0.0, 1.0, 1.0)],
            "doc_id long, xmin double, ymin double, xmax double, ymax double",
        )
        z = spark.createDataFrame([(7, zone_wkt)], "zone_id long, geom_wkt string")
        if path == "area":
            out = intersection_join(docs, z, zoom=3, emit_wkt=False)
        elif path == "wkt":
            out = intersection_join(docs, z, zoom=3, emit_wkt=True)
        elif path == "wkb":
            zb = with_wkb_geometry(z).drop("geom_wkt")
            out = intersection_join(
                docs, zb, zoom=3, emit_wkt=False, wkt_col="geom_wkb",
                geom_format="wkb",
            )
        else:
            out = clip_join_strtree(docs, z)
        got = [(r.doc_id, r.zone_id, r.piece_area) for r in out.collect()]
        assert got == ([(1, 7, exact)] if exact > AREA_EPS else [])
