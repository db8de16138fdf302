"""WKB-native spatial join path: bit-parity with the WKT twin on the
concave/holed rich layer, plus the WKB byte-level kernels."""

import numpy as np
import pytest

from gdal_spark import corpus, zones
from gdal_spark.geometry.envelope import wkt_envelope, wkt_is_rectangle
from gdal_spark.geometry.wkb import (
    wkb_envelope,
    wkb_is_rectangle,
    wkb_to_payload,
    wkt_payload_to_wkb,
)
from gdal_spark.geometry.wkt import parse_wkt
from gdal_spark.operators.pip_join import pip_join, with_wkb_geometry


def _wkb(wkt):
    return wkt_payload_to_wkb(*parse_wkt(wkt))


class TestWkbKernels:
    @pytest.mark.parametrize(
        "wkt,is_rect",
        [
            ("POLYGON ((0 0,4 0,4 3,0 3,0 0))", True),
            ("POLYGON ((0 0,4 1,4 3,0 3,0 0))", False),  # slanted edge
            ("POLYGON ((0 0,4 0,4 3,2 3,0 3,0 0))", False),  # 6 points
            ("POLYGON ((0 0,4 0,4 3,0 3,0 0),(1 1,2 1,2 2,1 2,1 1))", False),
            ("MULTIPOLYGON (((0 0,4 0,4 3,0 3,0 0)))", False),
            ("POLYGON ((0 0,4 0,4 3,0 3))", True),  # 4 points, unclosed
            ("POLYGON ((0 0,0 0,1 0,1 1,0 0))", False),  # 5-vertex triangle
        ],
    )
    def test_is_rectangle_parity(self, wkt, is_rect):
        assert wkb_is_rectangle(_wkb(wkt)) == is_rect
        assert wkt_is_rectangle(wkt) == is_rect

    def test_envelope_parity_on_rich_layer(self, spark):
        for row in zones.rich_zones(spark).collect():
            wkt = row.geom_wkt
            assert wkb_envelope(_wkb(wkt)) == wkt_envelope(wkt)

    def test_roundtrip_payload(self):
        wkt = "POLYGON ((0 0,4 0,4 3,0 3,0 0),(1 1,2 1,2 2,1 2,1 1))"
        typ, payload = wkb_to_payload(_wkb(wkt))
        t2, p2 = parse_wkt(wkt)
        assert typ == t2
        assert all((np.asarray(a) == np.asarray(b)).all() for a, b in zip(payload, p2))


class TestWkbJoinParity:
    def test_rich_layer_bit_parity(self, spark, sf_dir):
        """pip_join over the concave-with-holes rich layer: the WKB path
        (envelope off bytes, WKB-parse refine) returns EXACTLY the WKT
        path's rows."""
        docs = corpus.load_docs(spark, sf_dir)
        rz = zones.rich_zones(spark)
        want = sorted(
            (r.doc_id, r.zone_id)
            for r in pip_join(docs, rz).select("doc_id", "zone_id").collect()
        )
        rz_wkb = with_wkb_geometry(rz).drop("geom_wkt")
        got = sorted(
            (r.doc_id, r.zone_id)
            for r in pip_join(docs, rz_wkb, wkt_col="geom_wkb", geom_format="wkb")
            .select("doc_id", "zone_id")
            .collect()
        )
        assert got == want
        assert len(got) > 0

    @pytest.mark.parametrize("index", ["s2", "hex"])
    def test_rich_layer_bit_parity_other_indexes(self, spark, sf_dir, index):
        """The S2 and hex indexes read WKB zones through the same decoder:
        same rows as the WKT mercator join."""
        docs = corpus.load_docs(spark, sf_dir)
        rz = zones.rich_zones(spark)
        want = sorted(
            (r.doc_id, r.zone_id)
            for r in pip_join(docs, rz).select("doc_id", "zone_id").collect()
        )
        rz_wkb = with_wkb_geometry(rz).drop("geom_wkt")
        got = sorted(
            (r.doc_id, r.zone_id)
            for r in pip_join(
                docs, rz_wkb, wkt_col="geom_wkb", geom_format="wkb", index=index
            )
            .select("doc_id", "zone_id")
            .collect()
        )
        assert got == want
        assert len(got) > 0

    def test_clip_rich_layer_parity(self, spark, sf_dir):
        """intersection_join over the rich layer: the WKB zone path
        produces bit-identical piece areas (WKB float64 roundtrip is
        exact, so the kernels see the same payloads)."""
        from gdal_spark.operators.overlay import intersection_join

        pdocs = corpus.load_polydocs(spark, sf_dir)
        rz = zones.rich_zones(spark)
        want = sorted(
            (r.doc_id, r.zone_id, r.piece_area)
            for r in intersection_join(pdocs, rz, emit_wkt=False)
            .select("doc_id", "zone_id", "piece_area")
            .collect()
        )
        rz_wkb = with_wkb_geometry(rz).drop("geom_wkt")
        got = sorted(
            (r.doc_id, r.zone_id, r.piece_area)
            for r in intersection_join(
                pdocs, rz_wkb, wkt_col="geom_wkb", geom_format="wkb", emit_wkt=False
            )
            .select("doc_id", "zone_id", "piece_area")
            .collect()
        )
        assert got == want
        assert len(got) > 0

    def test_wkb_zone_layer_through_parquet(self, spark, sf_dir, tmp_path):
        """geo-parquet interop shape: the WKB BinaryType zone layer
        written to and read back from parquet drives the same join
        (bytes survive the parquet roundtrip exactly)."""
        docs = corpus.load_docs(spark, sf_dir)
        rz = zones.rich_zones(spark)
        want = sorted(
            (r.doc_id, r.zone_id)
            for r in pip_join(docs, rz).select("doc_id", "zone_id").collect()
        )
        path = str(tmp_path / "zones_wkb.parquet")
        with_wkb_geometry(rz).drop("geom_wkt").write.parquet(path)
        rz_pq = spark.read.parquet(path)
        assert dict(rz_pq.dtypes)["geom_wkb"] == "binary"
        got = sorted(
            (r.doc_id, r.zone_id)
            for r in pip_join(docs, rz_pq, wkt_col="geom_wkb", geom_format="wkb")
            .select("doc_id", "zone_id")
            .collect()
        )
        assert got == want

    def test_rect_fast_routing_parity(self, spark, sf_dir):
        """rect zones through the WKB path with rect_fast on vs off:
        identical rows (the envelope fast branch == the WKB ray-cast)."""
        docs = corpus.load_docs(spark, sf_dir)
        z = with_wkb_geometry(
            zones.rect_zones(spark).drop("zxmin", "zymin", "zxmax", "zymax")
        ).drop("geom_wkt")
        fast = sorted(
            (r.doc_id, r.zone_id)
            for r in pip_join(docs, z, wkt_col="geom_wkb", geom_format="wkb")
            .select("doc_id", "zone_id")
            .collect()
        )
        slow = sorted(
            (r.doc_id, r.zone_id)
            for r in pip_join(
                docs, z, wkt_col="geom_wkb", geom_format="wkb", rect_fast=False
            )
            .select("doc_id", "zone_id")
            .collect()
        )
        assert fast == slow
        assert len(fast) > 0
