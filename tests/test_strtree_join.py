"""pip_join_strtree / clip_join_strtree (operators/strtree_join.py)
must be bit-identical to their cell-join twins on the same layers —
two independent candidate generators (packed STR R-tree vs mercator
cell cover) feeding the same exact refine kernels."""

from gdal_spark import corpus, zones
from gdal_spark.operators.overlay import intersection_join
from gdal_spark.operators.pip_join import pip_join
from gdal_spark.operators.strtree_join import clip_join_strtree, pip_join_strtree


def _pairs(df):
    return sorted((r[0], r[1]) for r in df.select("doc_id", "zone_id").collect())


def test_parity_on_rect_layer(spark, sf_dir):
    docs = corpus.load_docs(spark, sf_dir)
    z = zones.rect_zones(spark).drop("zxmin", "zymin", "zxmax", "zymax")
    got = _pairs(pip_join_strtree(docs, z))
    want = _pairs(pip_join(docs, z))
    assert got == want and len(got) > 0


def test_parity_on_rich_concave_layer(spark, sf_dir):
    docs = corpus.load_docs(spark, sf_dir)
    z = zones.rich_zones(spark)
    got = _pairs(pip_join_strtree(docs, z))
    want = _pairs(pip_join(docs, z))
    assert got == want and len(got) > 0


def _pieces(df):
    # piece_area compared as raw float64 bits — the parity claim is
    # BIT-identity of the two candidate stages feeding the same kernels
    return sorted(
        (r["doc_id"], r["zone_id"], r["piece_area"].hex())
        for r in df.select("doc_id", "zone_id", "piece_area").collect()
    )


def test_clip_parity_on_rect_clip_layer(spark, sf_dir):
    pdocs = corpus.load_polydocs(spark, sf_dir)
    cz = zones.clip_zones(spark).drop("zxmin", "zymin", "zxmax", "zymax")
    got = _pieces(clip_join_strtree(pdocs, cz))
    want = _pieces(intersection_join(pdocs, cz, emit_wkt=False))
    assert got == want and len(got) > 0


def test_knn_parity(spark, sf_dir):
    # tree radius-doubling vs cell-ring expansion: same metric, same
    # tie rule, same d2 float ops — (doc, target, rnk, d2-bits) equal
    from gdal_spark.operators.knn import knn_join, knn_targets
    from gdal_spark.operators.strtree_join import knn_join_strtree

    docs = corpus.load_docs(spark, sf_dir).select("doc_id", "lon", "lat")
    t = knn_targets(spark)
    cols = ["doc_id", "target_id", "rnk", "d2"]

    def rows(df):
        return sorted(
            (r["doc_id"], r["target_id"], r["rnk"], r["d2"].hex())
            for r in df.select(cols).collect()
        )

    got = rows(knn_join_strtree(docs, t, k=5))
    want = rows(knn_join(docs, t, k=5))
    assert got == want and len(got) > 0


def test_knn_tree_tiny_radius_still_exact(spark, sf_dir):
    # r0 far below target spacing forces many doubling rounds — the
    # stop-rule proof, not the initial guess, must carry correctness
    from gdal_spark.operators.knn import knn_join, knn_targets
    from gdal_spark.operators.strtree_join import knn_join_strtree

    docs = corpus.load_docs(spark, sf_dir).select("doc_id", "lon", "lat").limit(200)
    t = knn_targets(spark)
    got = sorted(
        tuple(r)
        for r in knn_join_strtree(docs, t, k=3, r0=0.01)
        .select("doc_id", "target_id", "rnk")
        .collect()
    )
    want = sorted(
        tuple(r)
        for r in knn_join(docs, t, k=3).select("doc_id", "target_id", "rnk").collect()
    )
    assert got == want and len(got) > 0


def test_knn_parity_clustered_targets(spark, sf_dir):
    # the tree twin's documented advantage is nonuniform target density
    # (no cell-size knob) — pin bit-parity on a pathological layout:
    # 99% of targets inside one 0.5-degree blob, a handful of outliers
    from pyspark.sql import functions as F

    from gdal_spark.operators.knn import knn_join
    from gdal_spark.operators.strtree_join import knn_join_strtree

    t = spark.range(500).select(
        F.col("id").alias("target_id"),
        F.when(F.col("id") < 495, ((F.col("id") * 37) % 100) / 200.0 + 10.0)
        .otherwise((F.col("id") - 495.0) * 60.0 - 150.0)
        .alias("tlon"),
        F.when(F.col("id") < 495, ((F.col("id") * 53) % 100) / 200.0 - 20.0)
        .otherwise((F.col("id") - 495.0) * 25.0 - 50.0)
        .alias("tlat"),
    )
    docs = corpus.load_docs(spark, sf_dir).select("doc_id", "lon", "lat").limit(400)
    cols = ["doc_id", "target_id", "rnk", "d2"]

    def rows(df):
        return sorted(
            (r["doc_id"], r["target_id"], r["rnk"], r["d2"].hex())
            for r in df.select(cols).collect()
        )

    got = rows(knn_join_strtree(docs, t, k=7))
    want = rows(knn_join(docs, t, k=7))
    assert got == want and len(got) == 400 * 7


def test_clip_parity_on_rich_concave_layer(spark, sf_dir):
    # concave L-shapes with holes that overlap each other — the general
    # fan-triangle kernel on both sides; candidate supersets differ
    # (closed-box tree hits vs cell cover) but the exact kernel + the
    # AREA_EPS drop rule make the outputs bit-equal
    pdocs = corpus.load_polydocs(spark, sf_dir)
    rz = zones.rich_zones(spark)
    got = _pieces(clip_join_strtree(pdocs, rz))
    want = _pieces(intersection_join(pdocs, rz, emit_wkt=False))
    assert got == want and len(got) > 0


def test_dim_contract_guard_fires(spark, sf_dir, monkeypatch):
    """The method layer is driver-materialized: above the contract
    threshold the join must fail LOUDLY (pointing at the cell-join
    twin), never silently OOM the driver."""
    import pytest

    from gdal_spark.operators import dim
    from gdal_spark.operators.knn import knn_targets
    from gdal_spark.operators.strtree_join import knn_join_strtree

    docs = corpus.load_docs(spark, sf_dir)
    z = zones.rect_zones(spark).drop("zxmin", "zymin", "zxmax", "zymax")
    with monkeypatch.context() as m:
        m.setattr(dim, "MAX_DIM_ROWS", 2)
        with pytest.raises(ValueError, match="cell join"):
            pip_join_strtree(docs, z)
        with pytest.raises(ValueError, match="cell join"):
            clip_join_strtree(
                corpus.load_polydocs(spark, sf_dir),
                zones.clip_zones(spark).drop(
                    "zxmin", "zymin", "zxmax", "zymax"
                ),
            )
        with pytest.raises(ValueError, match="cell-ring"):
            knn_join_strtree(docs.select("doc_id", "lon", "lat"), knn_targets(spark))
    # under the threshold the join still runs
    assert pip_join_strtree(docs, z).count() > 0
