"""The two workloads: ``join_batch`` and ``tile_ingest``.

A workload has a *pass* -- one run of every stage over the whole corpus
-- and output checks, returned as (name, callable) pairs so the caller
can run them side by side.  A pass returns the wall time of each
*query* it issued -- a stage the caller waits on (``tile_ingest``'s
ingest stage is the pyramid plus its commits) -- and the docs it read.

Untraced passes run the pipeline exactly as a user would, consuming
every output column (a ``noop`` sink, or one aggregate over every
column).  Traced passes materialize the pipeline at each layer boundary
instead -- the corpus is persisted before the operators run, the zone
cell index is built on its own, the pyramid is run to the end before its
commits -- and record one span per layer call, so each layer's self
time can be read off the spans.  Counts used as per-layer metrics
(candidates, matches, tiles, bytes) are computed in *aside* spans after
the spans they describe; the tracing overhead and the per-pass Spark
counters leave them out.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

# input sizes (documents); the seeded table holds BASE_DOCS rows and the
# corpus layer replicates it for the batch workloads
BASE_DOCS = 25_000
POINT_REPL = 4  # join_batch / tile_ingest point corpus: 100k docs
POLY_REPL = 1  # join_batch rectangle corpus: 25k docs
CHECK_DOCS = 8_192  # doc-id slice the join output checks read
ZMAX = 5  # pyramid depth; MVT tiles are encoded at ZMAX
KNN_K = 5
TILE_STATS = ["zoom", "tx", "ty"]


def noop(df) -> None:
    """Run ``df`` to completion, reading every column, writing nothing."""
    df.write.format("noop").mode("overwrite").save()


class Context:
    def __init__(self, spark, tracer, in_dir: str, work: str, ids, seed: int):
        from gdal_spark import zones

        self.spark = spark
        self.T = tracer
        self.in_dir = in_dir
        self.work = work
        self.ids = ids
        self.rng = np.random.default_rng(seed + 1)
        self.zones = zones.rich_zones(spark)
        self._zone_env = None
        self._tables = 0

    @property
    def zone_env(self):
        """Zone envelopes (zone_id, ex0, ey0, ex1, ey1), built on first use."""
        from gdal_spark.geometry.envelope import wkt_envelope

        if self._zone_env is None:
            z = self.zones.toPandas()
            env = [(int(i), *wkt_envelope(w)) for i, w in zip(z["zone_id"], z["geom_wkt"])]
            self._zone_env = self.spark.createDataFrame(
                env, "zone_id long, ex0 double, ey0 double, ex1 double, ey1 double"
            )
        return self._zone_env

    def points(self, replicate: int = 1):
        from gdal_spark import corpus

        return corpus.load_docs(self.spark, self.in_dir, replicate=replicate)

    def polydocs(self, replicate: int = 1):
        from gdal_spark import corpus

        return corpus.load_polydocs(self.spark, self.in_dir, replicate=replicate)

    def slice(self, n: int):
        """``n`` consecutive base docs at a seeded position: a doc-id range
        filter, so the scan reads a few row groups."""
        from pyspark.sql import functions as F

        j = int(self.rng.integers(0, len(self.ids) - n))
        lo, hi = int(self.ids[j]), int(self.ids[j + n])
        return self.points().filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))

    def new_table(self):
        """A fresh SnapshotTable root; roots older than the previous one go."""
        from gdal_spark.table import SnapshotTable

        self._tables += 1
        old = os.path.join(self.work, f"tiles-{self._tables - 2}")
        if os.path.isdir(old):
            shutil.rmtree(old)
        root = os.path.join(self.work, f"tiles-{self._tables}")
        return SnapshotTable(self.spark, root, stats_cols=TILE_STATS)


def scan(ctx: Context, df):
    """Traced corpus boundary: persist every column, return (df, rows)."""
    with ctx.T.span("corpus.scan") as rec:
        df = df.persist()
        n = df.count()
        rec["docs"] = n
    return df, n


# ------------------------------------------------------------ layer stages
def stage_pip(ctx: Context, points, traced: bool) -> None:
    from gdal_spark.operators.pip_join import pip_join, zone_cell_index

    T = ctx.T
    with T.span("pip_join") as rec:
        if traced:
            with T.span("pip_join.cell_index"):
                noop(zone_cell_index(ctx.zones, with_rect_flag=True))
        with T.span("pip_join.call"):
            out = pip_join(points, ctx.zones)
        noop(out)
    if traced:
        with T.span("pip_join.stats", aside=True):
            rec["candidates"] = _envelope_hits(ctx, points, point=True)
            rec["matches"] = out.count()


def _envelope_hits(ctx: Context, docs, point: bool) -> int:
    """(doc, zone) pairs whose envelopes meet (inclusive) -- exactly the
    pairs the cell joins hand to the exact refine."""
    from pyspark.sql import functions as F

    z = F.broadcast(ctx.zone_env)
    if point:
        cond = (
            (F.col("lon") >= z.ex0) & (F.col("lon") <= z.ex1)
            & (F.col("lat") >= z.ey0) & (F.col("lat") <= z.ey1)
        )
        cols = ["lon", "lat"]
    else:
        cond = (
            (F.col("xmin") <= z.ex1) & (z.ex0 <= F.col("xmax"))
            & (F.col("ymin") <= z.ey1) & (z.ey0 <= F.col("ymax"))
        )
        cols = ["xmin", "ymin", "xmax", "ymax"]
    return docs.select(*cols).join(z, cond).count()


def stage_overlay(ctx: Context, polydocs, traced: bool) -> None:
    from gdal_spark.operators.overlay import intersection_join

    T = ctx.T
    with T.span("overlay") as rec:
        out = intersection_join(polydocs, ctx.zones, emit_wkt=False)
        noop(out)
    if traced:
        with T.span("overlay.stats", aside=True):
            rec["candidates"] = _envelope_hits(ctx, polydocs, point=False)
            rec["pieces"] = out.count()


def stage_knn(ctx: Context, points) -> None:
    from gdal_spark.operators.knn import knn_join, knn_targets

    T = ctx.T
    with T.span("knn"):
        with T.span("knn.call"):
            out = knn_join(points.select("doc_id", "lon", "lat"), knn_targets(ctx.spark), k=KNN_K)
        noop(out)


def mvt_points(docs, z: int):
    """(fid, tx, ty, px, py) at zoom ``z``: the doc's mercator tile and
    its position inside the tile on the 4096-unit MVT grid."""
    from gdal_spark.geometry import mercator as m

    zs = str(z)
    res = f"({m.sql_double(m.INITIAL_RESOLUTION)} / power(2.0, {zs}))"
    shift = m.sql_double(m.ORIGIN_SHIFT)
    return docs.selectExpr(
        "doc_id AS fid",
        f"{m.sql_tx('lon', zs)} AS tx",
        f"{m.sql_ty('lat', zs)} AS ty",
        f"(({m.sql_mx('lon')} + {shift}) / {res}) AS fx",
        f"(({m.sql_my('lat')} + {shift}) / {res}) AS fy",
    ).selectExpr(
        "fid",
        "tx",
        "ty",
        "greatest(least(CAST(floor(fx * 16.0) AS BIGINT) - tx * 4096, 4095), 0) AS px",
        "greatest(least(CAST(floor(fy * 16.0) AS BIGINT) - ty * 4096, 4095), 0) AS py",
    )


def commit_pyramid(ctx: Context, pyr, table, traced: bool) -> None:
    """One SnapshotTable append per zoom level."""
    from pyspark.sql import functions as F

    T = ctx.T
    for z in range(ZMAX + 1):
        with T.span("table.commit", zoom=z):
            table.append(pyr.filter(F.col("zoom") == z))
    if traced:
        with T.span("table.layout", aside=True) as rec:
            files = [p for p, _, _ in table.stats_rows("zoom")]
            rows = table.read().count()
            size = sum(os.path.getsize(p) for p in files)
            rec.update(files_written=len(files), rows=rows, bytes_per_row=size / rows)


def stage_tiles(ctx: Context, docs, traced: bool) -> list:
    """Ingest (tile_pyramid + one commit per level), MVT at ZMAX, and a
    pruned read of the ZMAX level; returns the three query times."""
    from pyspark.sql import functions as F

    from gdal_spark.operators.mvt import encode_mvt_tiles
    from gdal_spark.operators.tiling import tile_pyramid

    T = ctx.T
    queries = []
    t0 = time.monotonic()
    with T.span("tiling") as rec:
        with T.span("tiling.call"):
            pyr = tile_pyramid(docs.select("lon", "lat"), ZMAX)
        if traced:
            noop(pyr)
    table = ctx.new_table()
    commit_pyramid(ctx, pyr, table, traced)
    queries.append(("ingest", time.monotonic() - t0))
    if traced:
        with T.span("tiling.stats", aside=True):
            rec["tiles"] = pyr.count()

    t0 = time.monotonic()
    with T.span("mvt") as rec:
        tiles = encode_mvt_tiles(mvt_points(docs, ZMAX))
        # one aggregate that reads every output column
        agg = tiles.agg(
            F.count("*").alias("tiles"),
            F.sum("n_bytes").alias("n_bytes"),
            F.sum(F.length("mvt")).alias("mvt_len"),
            F.sum((F.col("n_bytes") != F.length("mvt")).cast("int")).alias("bad"),
            F.sum("byte_sum").alias("byte_sum"),
            F.sum(F.col("tx") + F.col("ty")).alias("keys"),
        ).collect()[0]
    queries.append(("mvt", time.monotonic() - t0))
    if traced:
        rec.update(tiles=agg["tiles"], bytes_out=agg["mvt_len"])

    t0 = time.monotonic()
    with T.span("table.pruned_read") as rec:
        noop(table.pruned_read("zoom", ZMAX, ZMAX))
    queries.append(("pruned_read", time.monotonic() - t0))
    if traced:
        rec["files_opened_frac"] = _opened_frac(table, ZMAX)
    ctx.last_table, ctx.last_mvt = table, agg
    return queries


def _opened_frac(table, zoom: int) -> float:
    return len(table.pruned_files("zoom", zoom, zoom)) / len(table.stats_rows("zoom"))


# ------------------------------------------------------------ checks
def check_pip_twin(ctx: Context, points) -> bool:
    """pip_join matches == pip_join_strtree matches (count + hash sum)."""
    from pyspark.sql import functions as F

    from gdal_spark.operators.pip_join import pip_join
    from gdal_spark.operators.strtree_join import pip_join_strtree

    def digest(df):
        h = F.pmod(F.xxhash64("doc_id", "zone_id"), F.lit(1 << 31))
        r = df.select("doc_id", "zone_id").agg(F.count("*"), F.sum(h)).collect()[0]
        return tuple(r)

    a = digest(pip_join(points, ctx.zones))
    b = digest(pip_join_strtree(points, ctx.zones))
    return a == b and a[0] > 0


def check_knn_k(ctx: Context, points) -> bool:
    """knn_join returns exactly k rows per query doc."""
    from pyspark.sql import functions as F

    from gdal_spark.operators.knn import knn_join, knn_targets

    out = knn_join(points.select("doc_id", "lon", "lat"), knn_targets(ctx.spark), k=KNN_K)
    per = out.groupBy("doc_id").count()
    r = per.agg(F.count("*"), F.min("count"), F.max("count")).collect()[0]
    return r[0] == points.count() and r[1] == KNN_K and r[2] == KNN_K


def check_levels(table, n_docs: int) -> bool:
    """Every committed pyramid level sums to the input doc count."""
    from pyspark.sql import functions as F

    sums = table.read().groupBy("zoom").agg(F.sum("n_docs").alias("s")).collect()
    return len(sums) == ZMAX + 1 and all(r["s"] == n_docs for r in sums)


def check_table(table, rows: int) -> bool:
    """The table read-back count equals the rows committed."""
    return table.read().count() == rows


# ------------------------------------------------------------ workloads
class JoinBatch:
    """pip_join + intersection_join + knn_join over the replicated corpus."""

    name = "join_batch"
    probe_layers = ("tiles",)

    def __init__(self, ctx: Context):
        self.ctx = ctx

    def run_pass(self, traced: bool):
        ctx = self.ctx
        points = ctx.points(POINT_REPL)
        polys = ctx.polydocs(POLY_REPL)
        if traced:
            points, _ = scan(ctx, points)
            polys, _ = scan(ctx, polys)
        q = []
        for name, stage in (
            ("pip_join", lambda: stage_pip(ctx, points, traced)),
            ("overlay", lambda: stage_overlay(ctx, polys, traced)),
            ("knn_join", lambda: stage_knn(ctx, points)),
        ):
            t0 = time.monotonic()
            stage()
            q.append((name, time.monotonic() - t0))
        if traced:
            points.unpersist(blocking=True)
            polys.unpersist(blocking=True)
        return q, BASE_DOCS * (2 * POINT_REPL + POLY_REPL)

    def checks(self):
        ctx, pts = self.ctx, self.ctx.slice(CHECK_DOCS)
        return [
            ("pip_join == pip_join_strtree", lambda: check_pip_twin(ctx, pts)),
            ("knn_join k rows per doc", lambda: check_knn_k(ctx, pts)),
        ]


class TileIngest:
    """tile_pyramid + per-level SnapshotTable commits + MVT + pruned read."""

    name = "tile_ingest"
    probe_layers = ("pip_join", "overlay", "knn")

    def __init__(self, ctx: Context):
        self.ctx = ctx

    def run_pass(self, traced: bool):
        ctx = self.ctx
        docs = ctx.points(POINT_REPL)
        if traced:
            docs, _ = scan(ctx, docs)
        q = stage_tiles(ctx, docs, traced)
        if traced:
            docs.unpersist(blocking=True)
        # the pyramid and the MVT stage each read the corpus once
        return q, 2 * BASE_DOCS * POINT_REPL

    def checks(self):
        from gdal_spark.operators.tiling import tile_pyramid

        table, mvt = self.ctx.last_table, self.ctx.last_mvt
        # the last timed pass committed the pyramid of the full corpus
        full = self.ctx.points(POINT_REPL).select("lon", "lat")
        return [
            ("pyramid levels sum to doc count", lambda: check_levels(table, BASE_DOCS * POINT_REPL)),
            (
                "table read-back == rows committed",
                lambda: check_table(table, tile_pyramid(full, ZMAX).count()),
            ),
            ("mvt n_bytes == len(mvt)", lambda: mvt["tiles"] > 0 and mvt["bad"] == 0),
        ]


WORKLOADS = {w.name: w for w in (JoinBatch, TileIngest)}


def run_probes(ctx: Context, layers) -> None:
    """Trace layers a workload does not reach once on the base corpus, so
    every traced run reports every layer (tagged ``probe`` in the spans)."""
    base, polys = ctx.points(), ctx.polydocs()
    ctx.T.tag = "probe"
    try:
        with ctx.T.span("probe"):
            if "pip_join" in layers:
                stage_pip(ctx, base, True)
            if "overlay" in layers:
                stage_overlay(ctx, polys, True)
            if "knn" in layers:
                stage_knn(ctx, base)
            if "tiles" in layers:
                stage_tiles(ctx, base, True)
    finally:
        ctx.T.tag = None
