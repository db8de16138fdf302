"""pip_join_strtree / clip_join_strtree (operators/strtree_join.py)
must be bit-identical to their cell-join twins on the same layers —
two independent candidate generators (packed STR R-tree vs mercator
cell cover) feeding the same exact refine kernels.  knn_join and
radius_join query the same kind of broadcast STR tree; they are checked
against the shuffle twins and a numpy brute force."""

import numpy as np

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


def _knn_rows(df):
    # d2 compared as raw float64 bits
    return sorted(
        (r["doc_id"], r["target_id"], r["rnk"], r["d2"].hex())
        for r in df.select("doc_id", "target_id", "rnk", "d2").collect()
    )


def _brute_knn(docs, targets, k):
    """Numpy brute-force top-k by (d2, target_id), d2 in the kernels'
    and the DuckDB oracle's op order: the independent oracle."""
    d = docs.select("doc_id", "lon", "lat").toPandas()
    t = targets.select("target_id", "tlon", "tlat").toPandas()
    tid = t["target_id"].to_numpy()
    out = []
    for did, x, y in d.itertuples(index=False):
        dx = x - t["tlon"].to_numpy()
        dy = y - t["tlat"].to_numpy()
        d2 = dx * dx + dy * dy
        for rnk, j in enumerate(np.lexsort((tid, d2))[:k], start=1):
            out.append((int(did), int(tid[j]), rnk, float(d2[j]).hex()))
    return sorted(out)


def _check_knn(docs, targets, k):
    from gdal_spark.operators.knn import knn_join, knn_join_shuffle

    got = _knn_rows(knn_join(docs, targets, k=k))
    assert got == _brute_knn(docs, targets, k)
    assert got == _knn_rows(knn_join_shuffle(docs, targets, k=k))
    return got


def test_knn_parity(spark, sf_dir):
    # the broadcast tree search against two independent oracles: the
    # cell-ring shuffle join and a numpy brute force — (doc, target,
    # rnk, d2-bits) equal
    from gdal_spark.operators.knn import knn_targets

    docs = corpus.load_docs(spark, sf_dir).select("doc_id", "lon", "lat")
    assert len(_check_knn(docs, knn_targets(spark), 5)) == 5 * docs.count()


def test_knn_tree_tiny_radius_still_exact(spark, sf_dir, monkeypatch):
    # a seed radius far below target spacing forces many doubling
    # rounds — the stop-rule proof, not the initial guess, must carry
    # correctness
    from gdal_spark.operators import knn

    monkeypatch.setattr(knn, "_KNN_R0", 0.01)
    docs = corpus.load_docs(spark, sf_dir).select("doc_id", "lon", "lat").limit(200)
    assert len(_check_knn(docs, knn.knn_targets(spark), 3)) == 200 * 3


def test_knn_parity_clustered_targets(spark, sf_dir):
    # nonuniform target density (the tree has no cell-size knob) — a
    # pathological layout: 99% of targets inside one 0.5-degree blob,
    # a handful of outliers
    from pyspark.sql import functions as F

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
    assert len(_check_knn(docs, t, 7)) == 400 * 7


def test_radius_on_the_circle_strict_vs_inclusive(spark):
    # targets exactly on the circle r² = 25 (dx,dy = 3,4 and 5,0: d2 is
    # exactly 25.0) are kept by the inclusive test only, on every side
    # of the padded candidate box; those just outside are kept by none
    from gdal_spark.operators.knn import radius_join

    docs = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 100.5, -40.25)], "doc_id long, lon double, lat double"
    )
    offsets = [(3.0, 4.0), (5.0, 0.0), (-3.0, -4.0), (0.0, -5.0),
               (1.0, 2.0), (5.0, 1e-6), (0.0, 5.000001)]
    rows, tid = [], 0
    for _, x, y in docs.collect():
        for dx, dy in offsets:
            rows.append((tid, x + dx, y + dy))
            tid += 1
    t = spark.createDataFrame(rows, "target_id long, tlon double, tlat double")

    def pairs(inclusive):
        j = radius_join(docs, t, radius2_sql=25.0, inclusive=inclusive)
        return sorted((r.doc_id, r.target_id, r.d2) for r in j.collect())

    assert pairs(False) == [(1, 4, 5.0), (2, 11, 5.0)]
    assert pairs(True) == [
        (1, 0, 25.0), (1, 1, 25.0), (1, 2, 25.0), (1, 3, 25.0), (1, 4, 5.0),
        (2, 7, 25.0), (2, 8, 25.0), (2, 9, 25.0), (2, 10, 25.0), (2, 11, 5.0),
    ]


def test_knn_skips_coordinates_that_are_not_finite(spark):
    # a NULL or NaN target is nobody's neighbour and a NaN doc has none;
    # with fewer finite targets than k each finite doc gets them all
    from gdal_spark.operators.knn import knn_join, radius_join

    t = spark.createDataFrame(
        [(0, 1.0, 1.0), (1, None, 0.0), (2, float("nan"), 0.0), (3, -2.0, 0.5)],
        "target_id long, tlon double, tlat double",
    )
    docs = spark.createDataFrame(
        [(10, 0.0, 0.0), (11, float("nan"), 0.0)], "doc_id long, lon double, lat double"
    )
    got = sorted((r.doc_id, r.target_id, r.rnk) for r in knn_join(docs, t, k=5).collect())
    assert got == [(10, 0, 1), (10, 3, 2)]
    near = radius_join(docs, t, radius2_sql=1.0e6, inclusive=True).collect()
    assert sorted((r.doc_id, r.target_id) for r in near) == [(10, 0), (10, 3)]


def test_knn_passes_spans_through(spark, sf_dir):
    # the doc columns never cross into Python: spans (and every other
    # doc column) come back equal to the input joined on doc_id
    from pyspark.sql import functions as F

    from gdal_spark.operators.knn import knn_join, knn_targets

    docs = corpus.load_docs(spark, sf_dir)
    out = knn_join(docs, knn_targets(spark), k=3)
    assert out.columns == docs.columns + ["target_id", "rnk", "d2"]
    j = out.join(docs.select("doc_id", F.col("spans").alias("_in")), "doc_id")
    assert j.count() == 3 * docs.count()
    assert j.filter(~F.col("spans").eqNullSafe(F.col("_in"))).count() == 0


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
    from gdal_spark.operators.knn import knn_join, knn_targets, radius_join

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
        with pytest.raises(ValueError, match="knn_join_shuffle"):
            knn_join(docs.select("doc_id", "lon", "lat"), knn_targets(spark))
        with pytest.raises(ValueError, match="radius_join_shuffle"):
            radius_join(docs, knn_targets(spark), radius2_sql=25.0)
    # under the threshold the join still runs
    assert pip_join_strtree(docs, z).count() > 0
