"""kNN feature lookup — cell-ring expansion + vectorized top-k.

Re-answers the reference's quadtree radius search used by the gridding
operators (alg/gdalgrid.cpp:241-330 GDALGridInverseDistanceToAPower...
search via CPLQuadTreeSearch at :276, nearest-neighbor variant :879):
grow the search region ring-by-ring around the query point until the
k-th nearest candidate is provably closer than anything outside.

Spark-first shape: the target layer (a dim table, like the reference's
in-memory quadtree) is collected once per call (the bounded
``operators/dim.py`` ``collect_dim``; the ``*_shuffle`` twins never
collect), bucketed into a uniform degree grid and shipped once per
executor inside a mapInPandas closure; the doc corpus streams
through in Arrow batches with ZERO shuffle — the output is produced
map-side, partition-parallel.  Distance metric: squared euclidean in
degrees (IEEE-exact, so the DuckDB brute-force oracle agrees bit-for-bit
on ordering); ties break by min target_id (deterministic analog of the
reference's iteration order, SURVEY §7 watch-list).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gdal_spark.operators.dim import collect_dim

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


# ----------------------------------------------------------------- operator
CELL_DEG = 4.0  # degree-grid cell size for the ring index


def _collect_targets(targets: DataFrame, twin: str):
    """(tlon, tlat, target_id) arrays of the bounded dim-layer collect."""
    t = collect_dim(targets.select("target_id", "tlon", "tlat"), "target layer",
                    f"{twin}, which never collects the targets")
    return (t["tlon"].to_numpy(np.float64), t["tlat"].to_numpy(np.float64),
            t["target_id"].to_numpy(np.int64))


def _build_buckets(tlon: np.ndarray, tlat: np.ndarray, cell: float):
    cx = np.floor(tlon / cell).astype(np.int64)
    cy = np.floor(tlat / cell).astype(np.int64)
    buckets: dict[tuple[int, int], np.ndarray] = {}
    order = np.lexsort((cy, cx))
    cx_s, cy_s = cx[order], cy[order]
    starts = np.flatnonzero(
        np.r_[True, (cx_s[1:] != cx_s[:-1]) | (cy_s[1:] != cy_s[:-1])]
    )
    ends = np.r_[starts[1:], len(order)]
    for s, e in zip(starts, ends):
        buckets[(int(cx_s[s]), int(cy_s[s]))] = order[s:e]
    return buckets


def _ring_cells(cx: int, cy: int, r: int):
    if r == 0:
        return [(cx, cy)]
    cells = []
    for dx in range(-r, r + 1):
        cells.append((cx + dx, cy - r))
        cells.append((cx + dx, cy + r))
    for dy in range(-r + 1, r):
        cells.append((cx - r, cy + dy))
        cells.append((cx + r, cy + dy))
    return cells


def _knn_group(qx, qy, qidx, cx, cy, buckets, tlon, tlat, tid, k, max_ring):
    """kNN for a group of query points sharing grid cell (cx, cy).
    Returns (query_row_indices, target_ids, ranks) arrays."""
    m = len(qx)
    cand: list[np.ndarray] = []
    best_d2 = np.full((m, k), np.inf)
    best_id = np.full((m, k), -1, dtype=np.int64)

    def refresh(cand_idx):
        nonlocal best_d2, best_id
        if cand_idx.size == 0:
            return
        dx = qx[:, None] - tlon[cand_idx][None, :]
        dy = qy[:, None] - tlat[cand_idx][None, :]
        d2 = dx * dx + dy * dy
        # merge with current best: concat then select k smallest by (d2, id)
        all_d2 = np.concatenate([best_d2, d2], axis=1)
        all_id = np.concatenate(
            [best_id, np.broadcast_to(tid[cand_idx], (m, cand_idx.size))], axis=1
        )
        # lexsort per row: primary d2, secondary id
        ordr = np.lexsort((all_id, all_d2), axis=1)[:, :k]
        best_d2 = np.take_along_axis(all_d2, ordr, axis=1)
        best_id = np.take_along_axis(all_id, ordr, axis=1)

    for r in range(max_ring + 1):
        new = [buckets[c] for c in _ring_cells(cx, cy, r) if c in buckets]
        if new:
            refresh(np.concatenate(new))
        # stop when the kth best (worst row) beats the closest possible
        # point in the NEXT unexplored ring: ring r+1 is at least
        # r*CELL_DEG away from any point in the center cell
        if r >= 1:
            worst_kth = best_d2[:, k - 1].max()
            ring_min = (r * CELL_DEG) ** 2
            if worst_kth < ring_min:
                break

    valid = best_id >= 0
    ranks = np.broadcast_to(np.arange(1, k + 1), (m, k))
    rows = np.broadcast_to(qidx[:, None], (m, k))
    return rows[valid], best_id[valid], ranks[valid], best_d2[valid]


def knn_join(
    docs: DataFrame,
    targets: DataFrame,
    k: int = 5,
    cell_deg: float = CELL_DEG,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """For each doc, its k nearest targets: (doc columns..., target_id, rnk).

    Map-side only: targets are collected (dim-table contract, like the
    reference's in-memory quadtree) and bucketed per executor; docs never
    shuffle.
    """
    tlon, tlat, tid = _collect_targets(targets, "knn_join_shuffle")
    max_ring = int(np.ceil(360.0 / cell_deg))  # full-world fallback bound

    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        list(docs.schema.fields)
        + [
            StructField("target_id", LongType()),
            StructField("rnk", IntegerType()),
            StructField("d2", DoubleType()),
        ]
    )
    doc_cols = [f.name for f in docs.schema.fields]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        buckets = _build_buckets(tlon, tlat, cell_deg)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qx = pdf[lon_col].to_numpy(np.float64)
            qy = pdf[lat_col].to_numpy(np.float64)
            cx = np.floor(qx / cell_deg).astype(np.int64)
            cy = np.floor(qy / cell_deg).astype(np.int64)
            rows_l, ids_l, rnk_l, d2_l = [], [], [], []
            order = np.lexsort((cy, cx))
            cxs, cys = cx[order], cy[order]
            starts = np.flatnonzero(
                np.r_[True, (cxs[1:] != cxs[:-1]) | (cys[1:] != cys[:-1])]
            )
            ends = np.r_[starts[1:], len(order)]
            for s, e in zip(starts, ends):
                gi = order[s:e]
                r_rows, r_ids, r_rnk, r_d2 = _knn_group(
                    qx[gi], qy[gi], gi, int(cxs[s]), int(cys[s]),
                    buckets, tlon, tlat, tid, k, max_ring,
                )
                rows_l.append(r_rows)
                ids_l.append(r_ids)
                rnk_l.append(r_rnk)
                d2_l.append(r_d2)
            rows = np.concatenate(rows_l)
            out = pdf.iloc[rows].reset_index(drop=True)
            out = out[doc_cols].copy()
            out["target_id"] = np.concatenate(ids_l)
            out["rnk"] = np.concatenate(rnk_l).astype(np.int32)
            out["d2"] = np.concatenate(d2_l)
            yield out

    return docs.mapInPandas(kernel, out_schema)


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

    Iterative ring doubling (the distributed analog of the map-side
    kernel's adaptive quadtree search, and of GDALGridNearestNeighbor's
    growing search radius, alg/gdalgrid.cpp:241-330):

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
    d2_expr = (
        f"(({lon_col} - tlon) * ({lon_col} - tlon)"
        f" + ({lat_col} - tlat) * ({lat_col} - tlat))"
    )
    doc_cols = [f.name for f in docs.schema.fields]
    dd = docs.withColumn(
        "_qcx", F.expr(f"CAST(floor({lon_col} / {cell_deg!r}) AS BIGINT)")
    ).withColumn(
        "_qcy", F.expr(f"CAST(floor({lat_col} / {cell_deg!r}) AS BIGINT)")
    )
    tt = targets.select(
        "target_id", "tlon", "tlat",
        F.expr(f"CAST(floor(tlon / {cell_deg!r}) AS BIGINT)").alias("_tcx"),
        F.expr(f"CAST(floor(tlat / {cell_deg!r}) AS BIGINT)").alias("_tcy"),
    )
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
    the cell key, exact d2 filter with the same op order as the
    map-side kernel."""
    radius2 = float(radius2_sql)
    rmax = int(np.ceil(float(np.sqrt(radius2)) / cell_deg)) + 1
    doc_cols = [f.name for f in docs.schema.fields]
    d2_expr = (
        f"(({lon_col} - tlon) * ({lon_col} - tlon)"
        f" + ({lat_col} - tlat) * ({lat_col} - tlat))"
    )
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
    tt = targets.select(
        "target_id", "tlon", "tlat",
        F.expr(f"CAST(floor(tlon / {cell_deg!r}) AS BIGINT)").alias("_tcx"),
        F.expr(f"CAST(floor(tlat / {cell_deg!r}) AS BIGINT)").alias("_tcy"),
    )
    return (
        band.join(tt, (band._jcx == tt._tcx) & (band._jcy == tt._tcy))
        .withColumn("d2", F.expr(d2_expr))
        .filter(F.col("d2") < radius2)
        .select(*doc_cols, "target_id", "d2")
    )


def radius_join(
    docs: DataFrame,
    targets: DataFrame,
    radius2_sql: str | float,
    cell_deg: float = CELL_DEG,
    lon_col: str = "lon",
    lat_col: str = "lat",
    inclusive: bool = False,
) -> DataFrame:
    """All (doc, target) pairs with squared distance < radius² — the
    fixed-radius variant of the quadtree search (GDALGridMovingAverage's
    search circle, alg/gdalgrid.cpp:644).  Same map-side shape as
    knn_join: bucketed targets per executor, docs never shuffle; each
    query group only scans buckets within ceil(r/cell)+1 cells.

    ``inclusive=True`` keeps pairs with d2 == radius² — the invdistnn
    search test is ``dfR2 <= dfRPower2`` (alg/gdalgrid.cpp:295) while
    the moving-average one is strict."""
    radius2 = float(radius2_sql)
    radius = float(np.sqrt(radius2))
    rmax = int(np.ceil(radius / cell_deg)) + 1
    tlon, tlat, tid = _collect_targets(targets, "radius_join_shuffle")

    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    out_schema = StructType(
        list(docs.schema.fields)
        + [StructField("target_id", LongType()), StructField("d2", DoubleType())]
    )
    doc_cols = [f.name for f in docs.schema.fields]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        buckets = _build_buckets(tlon, tlat, cell_deg)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qx = pdf[lon_col].to_numpy(np.float64)
            qy = pdf[lat_col].to_numpy(np.float64)
            cx = np.floor(qx / cell_deg).astype(np.int64)
            cy = np.floor(qy / cell_deg).astype(np.int64)
            order = np.lexsort((cy, cx))
            cxs, cys = cx[order], cy[order]
            starts = np.flatnonzero(
                np.r_[True, (cxs[1:] != cxs[:-1]) | (cys[1:] != cys[:-1])]
            )
            ends = np.r_[starts[1:], len(order)]
            rows_l, ids_l, d2_l = [], [], []
            for s, e in zip(starts, ends):
                gi = order[s:e]
                cand = [
                    buckets[c]
                    for dx in range(-rmax, rmax + 1)
                    for dy in range(-rmax, rmax + 1)
                    if (c := (int(cxs[s]) + dx, int(cys[s]) + dy)) in buckets
                ]
                if not cand:
                    continue
                ci = np.concatenate(cand)
                ddx = qx[gi][:, None] - tlon[ci][None, :]
                ddy = qy[gi][:, None] - tlat[ci][None, :]
                d2 = ddx * ddx + ddy * ddy
                hit_r, hit_c = np.nonzero(
                    d2 <= radius2 if inclusive else d2 < radius2
                )
                rows_l.append(gi[hit_r])
                ids_l.append(tid[ci][hit_c])
                d2_l.append(d2[hit_r, hit_c])
            if not rows_l:
                continue
            rows = np.concatenate(rows_l)
            out = pdf.iloc[rows].reset_index(drop=True)[doc_cols].copy()
            out["target_id"] = np.concatenate(ids_l)
            out["d2"] = np.concatenate(d2_l)
            yield out

    return docs.mapInPandas(kernel, out_schema)
