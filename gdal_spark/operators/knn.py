"""kNN feature lookup and fixed-radius join on a broadcast STR tree.

Re-answers the reference's quadtree radius search used by the gridding
operators (alg/gdalgrid.cpp:241-330 GDALGridInverseDistanceToAPower...
search via CPLQuadTreeSearch at :276, nearest-neighbor variant :879):
grow the search region around the query point until the k-th nearest
candidate is provably closer than anything outside.

Spark-first shape: the target layer (a dim table, like the reference's
in-memory quadtree) comes through ``operators/dim.py`` like every
broadcast join's dim side — one bounded driver collect, one keyed
broadcast, one packed STR tree per executor process (the tree the
STR-tree joins query).  The doc side crosses into Python as its
``(lon, lat)`` columns only, in one scalar Arrow UDF that returns an
``array<struct<...>>`` of matches per doc; the JVM expands it with
``inline_outer``, so every other doc column, ``spans`` included, stays
in the JVM.  Zero shuffle, zero join operator.

* :func:`knn_join` — radius doubling: each unsettled doc asks the tree
  for the targets inside a closed box ±r, and settles once its k-th
  best candidate is strictly under r² (anything outside the box is at
  least r away) or the box holds the whole layer;
* :func:`radius_join` — one box query of ±r, then the exact
  ``d2 < r²`` (or ``<=``) test.

Distance metric: squared euclidean in degrees, ``dx*dx + dy*dy`` in the
DuckDB oracle's op order (IEEE-exact, so the brute-force oracle agrees
bit-for-bit on ordering); ties break by min target_id (SURVEY §7
watch-list).  The ``*_shuffle`` twins never collect the targets: they
join on a degree-grid cell key, for target layers past the bound.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gdal_spark.operators.dim import _broadcast_dim, _tree_of

# ------------------------------------------------------------------ targets
N_TARGETS = 2000
TLON_SQL = "(((i * 48271 + 19) % 360000) / 1.0e3 - 1.8e2)"
TLAT_SQL = "(((i * 16807 + 23) % 120000) / 1.0e3 - 6.0e1)"


def duckdb_targets_cte(n: int = N_TARGETS) -> str:
    return (
        f"SELECT i AS target_id, {TLON_SQL} AS tlon, {TLAT_SQL} AS tlat "
        f"FROM range(0, {n}) t(i)"
    )


def knn_targets(spark: SparkSession, n: int = N_TARGETS) -> DataFrame:
    df = spark.range(n).select(F.col("id").alias("i"))
    return df.select(
        F.col("i").alias("target_id"),
        F.expr(TLON_SQL).alias("tlon"),
        F.expr(TLAT_SQL).alias("tlat"),
    )


# ------------------------------------------------- broadcast tree engine
# seed half-width (degrees) of knn_join's doubling box: about the mean
# spacing of the 2000-target layer, so most docs settle in one or two
# rounds; the stop rule, not this guess, carries correctness
_KNN_R0 = 4.0


def _broadcast_targets(targets: DataFrame, twin: str):
    """The target layer as a :func:`_broadcast_dim` of (target_id, tlon,
    tlat).  A target without finite coordinates is nobody's neighbour:
    the JVM drops it (Spark orders NaN above +inf; NULL fails every
    comparison), so the tree holds finite boxes only."""
    t = targets.select(
        "target_id", *(F.col(c).cast("double").alias(c) for c in ("tlon", "tlat"))
    )
    finite = (F.abs("tlon") < float("inf")) & (F.abs("tlat") < float("inf"))
    return _broadcast_dim(t.where(finite), "target layer", twin)


def _point_boxes(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    return np.column_stack([x, y, x, y])


def _boxes(qx: np.ndarray, qy: np.ndarray, r: float) -> np.ndarray:
    """Closed boxes ±r around each query, each side padded above the
    rounding of ``q ± r``: the box holds every point whose exact offset
    from the query is at most r on both axes.  Candidates only — the
    exact d2 test decides."""
    hx = r + 1e-12 * (np.abs(qx) + r)
    hy = r + 1e-12 * (np.abs(qy) + r)
    return np.column_stack([qx - hx, qy - hy, qx + hx, qy + hy])


def _knn(qx, qy, tree, tid, tlon, tlat, k: int, r0: float):
    """The ``min(k, n_targets)`` nearest targets of each query by
    (d2, target_id), as (m, kk) arrays of target rows (-1: none) and d2.
    A query without finite coordinates gets none."""
    m, kk = len(qx), min(k, len(tid))
    best = np.full((m, max(kk, 0)), -1, dtype=np.int64)
    best_d2 = np.full(best.shape, np.inf)
    active = np.flatnonzero(np.isfinite(qx) & np.isfinite(qy))
    r = float(r0)
    while active.size and kk > 0:
        ax, ay = qx[active], qy[active]
        qi, ti = tree.query_boxes(_boxes(ax, ay, r))
        dx = ax[qi] - tlon[ti]
        dy = ay[qi] - tlat[ti]
        d2 = dx * dx + dy * dy
        # per-query order by (d2, target_id): one lexsort over the
        # candidate pairs, rank within the query by position
        order = np.lexsort((tid[ti], d2, qi))
        qi, ti, d2 = qi[order], ti[order], d2[order]
        starts = np.flatnonzero(np.r_[True, qi[1:] != qi[:-1]])
        counts = np.diff(np.r_[starts, len(qi)])
        kth = np.full(len(starts), np.inf)
        has_k = counts >= kk
        kth[has_k] = d2[starts[has_k] + kk - 1]
        # a target outside the box is at least r away on some axis, so
        # its d2 >= r*r (rounding is monotone): a k-th best strictly
        # under r*r is final, and so is a box holding the whole layer
        settled = has_k & ((kth < r * r) | (counts == len(tid)))
        rank = np.arange(len(qi)) - np.repeat(starts, counts)
        take = np.repeat(settled, counts) & (rank < kk)
        rows = active[qi[take]]
        best[rows, rank[take]] = ti[take]
        best_d2[rows, rank[take]] = d2[take]
        done = np.zeros(active.size, dtype=bool)
        done[qi[starts[settled]]] = True
        active = active[~done]
        r *= 2.0
    return best, best_d2


def _lists(counts: np.ndarray, **fields: np.ndarray) -> pa.Array:
    """One Arrow list of structs per query: ``counts[i]`` consecutive
    entries of the ``fields`` columns."""
    offsets = np.zeros(len(counts) + 1, dtype=np.int32)
    np.cumsum(counts, out=offsets[1:])
    values = pa.StructArray.from_arrays(
        [pa.array(v) for v in fields.values()], names=list(fields)
    )
    return pa.ListArray.from_arrays(pa.array(offsets), values)


def _expand(docs: DataFrame, matches, lon_col: str, lat_col: str) -> DataFrame:
    """docs.* ⊕ the struct fields of ``matches(lon, lat)``, one row per
    match.  ``inline_outer``, not ``inline``: for ``inline`` Spark infers
    a ``size(..) > 0`` filter under the Generate, and that filter runs
    the UDF a second time; the null row of a doc without matches is
    dropped after the Generate instead."""
    nn = matches(F.col(lon_col).cast("double"), F.col(lat_col).cast("double"))
    return docs.select("*", F.inline_outer(nn)).where(F.col("target_id").isNotNull())


def knn_join(
    docs: DataFrame,
    targets: DataFrame,
    k: int = 5,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """For each doc, its k nearest targets: (doc columns..., target_id,
    rnk, d2), rnk 1..k by (d2, target_id).

    Map-side only: the targets are a dim layer (like the reference's
    in-memory quadtree), one STR tree per executor; docs never shuffle."""
    bc = _broadcast_targets(
        targets, "knn_join_shuffle, the cell-ring join that never collects them"
    )
    r0 = _KNN_R0

    @F.arrow_udf("array<struct<target_id:bigint,rnk:int,d2:double>>")
    def nearest(lon: pa.Array, lat: pa.Array) -> pa.Array:
        tree, tid, tlon, tlat = _tree_of(bc, _point_boxes)
        qx, qy = lon.to_numpy(zero_copy_only=False), lat.to_numpy(zero_copy_only=False)
        best, d2 = _knn(qx, qy, tree, tid, tlon, tlat, k, r0)
        valid = best >= 0
        return _lists(
            valid.sum(axis=1),
            target_id=tid[best[valid]],
            rnk=(np.nonzero(valid)[1] + 1).astype(np.int32),
            d2=d2[valid],
        )

    return _expand(docs, nearest, lon_col, lat_col)


def radius_join(
    docs: DataFrame,
    targets: DataFrame,
    radius2_sql: str | float,
    lon_col: str = "lon",
    lat_col: str = "lat",
    inclusive: bool = False,
) -> DataFrame:
    """All (doc, target) pairs with squared distance < radius² —
    (doc columns..., target_id, d2) — the fixed-radius variant of the
    quadtree search (GDALGridMovingAverage's search circle,
    alg/gdalgrid.cpp:644).  Same map-side shape as :func:`knn_join`:
    one box query of the target tree per doc, then the exact test.

    ``inclusive=True`` keeps pairs with d2 == radius² — the invdistnn
    search test is ``dfR2 <= dfRPower2`` (alg/gdalgrid.cpp:295) while
    the moving-average one is strict."""
    radius2 = float(radius2_sql)
    radius = float(np.sqrt(radius2))
    bc = _broadcast_targets(
        targets, "radius_join_shuffle, the cell-ring join that never collects them"
    )

    @F.arrow_udf("array<struct<target_id:bigint,d2:double>>")
    def within(lon: pa.Array, lat: pa.Array) -> pa.Array:
        tree, tid, tlon, tlat = _tree_of(bc, _point_boxes)
        qx, qy = lon.to_numpy(zero_copy_only=False), lat.to_numpy(zero_copy_only=False)
        qi, ti = tree.query_boxes(_boxes(qx, qy, radius))
        dx = qx[qi] - tlon[ti]
        dy = qy[qi] - tlat[ti]
        d2 = dx * dx + dy * dy
        hit = d2 <= radius2 if inclusive else d2 < radius2
        return _lists(
            np.bincount(qi[hit], minlength=len(qx)),
            target_id=tid[ti[hit]],
            d2=d2[hit],
        )

    return _expand(docs, within, lon_col, lat_col)


# ------------------------------------------------------- shuffle twins
CELL_DEG = 4.0  # degree-grid cell size of the twins' cell key


def _d2_sql(lon_col: str, lat_col: str) -> str:
    """d2 in the JVM, in the broadcast kernels' and the oracle's op order."""
    return (f"(({lon_col} - tlon) * ({lon_col} - tlon)"
            f" + ({lat_col} - tlat) * ({lat_col} - tlat))")


def _cell_targets(targets: DataFrame, cell_deg: float) -> DataFrame:
    """The targets keyed on their degree-grid cell (_tcx, _tcy)."""
    return targets.select(
        "target_id", "tlon", "tlat",
        F.expr(f"CAST(floor(tlon / {cell_deg!r}) AS BIGINT)").alias("_tcx"),
        F.expr(f"CAST(floor(tlat / {cell_deg!r}) AS BIGINT)").alias("_tcy"),
    )


def knn_join_shuffle(
    docs: DataFrame,
    targets: DataFrame,
    k: int = 5,
    cell_deg: float = CELL_DEG,
    id_col: str = "doc_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    max_rounds: int = 9,
) -> DataFrame:
    """Shuffle-strategy kNN for target tables BEYOND broadcast/driver
    size: no driver collect anywhere.

    Iterative ring doubling (the distributed analog of knn_join's
    radius doubling, and of GDALGridNearestNeighbor's growing search
    radius, alg/gdalgrid.cpp:241-330):

      1. docs and targets both carry JVM cell keys (floor(coord/cell));
      2. round r joins the still-pending docs' NEW ring band
         (Chebyshev radius in (R_prev, R]) against targets on the cell
         key — an ordinary shuffled equi-join, skew handled by AQE;
      3. a doc is FINAL once it has >= k candidates with kth distance
         strictly under (R*cell)^2 — every unexplored cell lies at
         Chebyshev >= R+1, hence euclidean >= R*cell from anywhere in
         the doc's cell — or once R covers the world;
      4. rings double (1, 2, 4, ...) so sparse regions converge in
         O(log world) rounds; every round ends in an eager
         localCheckpoint (iterative-lineage rule).

    Tie-break (d2, target_id) matches knn_join bit-for-bit: d2 uses the
    same (dx*dx + dy*dy) op order JVM-side."""
    world_r = int(np.ceil(360.0 / cell_deg))
    d2_expr = _d2_sql(lon_col, lat_col)
    doc_cols = [f.name for f in docs.schema.fields]
    dd = docs.withColumn(
        "_qcx", F.expr(f"CAST(floor({lon_col} / {cell_deg!r}) AS BIGINT)")
    ).withColumn(
        "_qcy", F.expr(f"CAST(floor({lat_col} / {cell_deg!r}) AS BIGINT)")
    )
    tt = _cell_targets(targets, cell_deg)
    pending = dd
    acc = None
    r_prev, radius = -1, 1
    for _ in range(max_rounds):
        band = (
            pending.withColumn(
                "_dx", F.explode(F.sequence(F.lit(-radius), F.lit(radius)))
            )
            .withColumn(
                "_dy", F.explode(F.sequence(F.lit(-radius), F.lit(radius)))
            )
            .filter(F.expr(f"greatest(abs(_dx), abs(_dy)) > {r_prev}"))
            .withColumn("_jcx", F.col("_qcx") + F.col("_dx"))
            .withColumn("_jcy", F.col("_qcy") + F.col("_dy"))
            .select(*doc_cols, "_jcx", "_jcy")
        )
        cand = band.join(
            tt, (band._jcx == tt._tcx) & (band._jcy == tt._tcy)
        ).select(*doc_cols, "target_id", F.expr(d2_expr).alias("d2"))
        acc = cand if acc is None else acc.unionByName(cand)
        acc = acc.localCheckpoint(eager=True)
        if radius >= world_r:
            pending = None
            break
        lim2 = float(radius * cell_deg) ** 2
        stats = (
            acc.groupBy(id_col)
            .agg(
                F.count("*").alias("_n"),
                F.expr(f"get(array_sort(collect_list(d2)), {k - 1})").alias(
                    "_kth"
                ),
            )
            .filter((F.col("_n") >= k) & (F.col("_kth") < F.lit(lim2)))
            .select(F.col(id_col).alias("_done_id"))
        )
        pending = (
            pending.join(
                stats, pending[id_col] == stats._done_id, "left_anti"
            ).localCheckpoint(eager=True)
        )
        if pending.limit(1).count() == 0:
            pending = None
            break
        r_prev, radius = radius, min(radius * 2, world_r)
    if pending is not None and pending.limit(1).count() != 0:
        raise RuntimeError(
            "knn_join_shuffle: ring expansion did not converge "
            f"within {max_rounds} rounds"
        )
    w = Window.partitionBy(id_col).orderBy(F.col("d2").asc(), F.col("target_id").asc())
    return (
        acc.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            *doc_cols, "target_id", F.col("rnk").cast("int").alias("rnk"), "d2"
        )
    )


def radius_join_shuffle(
    docs: DataFrame,
    targets: DataFrame,
    radius2_sql: str | float,
    cell_deg: float = CELL_DEG,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Shuffle-strategy fixed-radius join (huge-target-table path, no
    driver collect): docs explode to every cell within ceil(r/cell)+1
    Chebyshev rings (JVM sequence explode), one shuffled equi-join on
    the cell key, exact d2 filter with the same op order as
    radius_join."""
    radius2 = float(radius2_sql)
    rmax = int(np.ceil(float(np.sqrt(radius2)) / cell_deg)) + 1
    doc_cols = [f.name for f in docs.schema.fields]
    d2_expr = _d2_sql(lon_col, lat_col)
    band = (
        docs.withColumn("_dx", F.explode(F.sequence(F.lit(-rmax), F.lit(rmax))))
        .withColumn("_dy", F.explode(F.sequence(F.lit(-rmax), F.lit(rmax))))
        .withColumn(
            "_jcx",
            F.expr(f"CAST(floor({lon_col} / {cell_deg!r}) AS BIGINT)")
            + F.col("_dx"),
        )
        .withColumn(
            "_jcy",
            F.expr(f"CAST(floor({lat_col} / {cell_deg!r}) AS BIGINT)")
            + F.col("_dy"),
        )
        .select(*doc_cols, "_jcx", "_jcy")
    )
    tt = _cell_targets(targets, cell_deg)
    return (
        band.join(tt, (band._jcx == tt._tcx) & (band._jcy == tt._tcy))
        .withColumn("d2", F.expr(d2_expr))
        .filter(F.col("d2") < radius2)
        .select(*doc_cols, "target_id", "d2")
    )
