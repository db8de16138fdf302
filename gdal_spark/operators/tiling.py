"""Tile assignment + pyramid — the gdal2tiles workload.

``tile_counts``: every doc -> its (tx, ty) mercator tile at a zoom, via
pure Spark SQL tile math (gdal2tiles.py:422-530 port) — single
whole-stage-codegen projection over the scan, no Python.

``tile_pyramid``: base tiles at zmax, then overview levels z-1..0 by the
reference's 4-child reduce — parent tile = (tx >> 1, ty >> 1), exactly
create_overview_tile's parent derivation (gdal2tiles.py:1484-1486).
``ceil(px/256)-1`` is dyadic, so floor-halving the child index equals
recomputing the tile at the coarser zoom (proof: if t=ceil(p/256)-1 then
ceil(p/512)-1 == t>>1 for t>=0), and k halvings are one k-bit shift —
so every level comes out of the base tile counts in one aggregate,
bit-identical to direct assignment while shuffling tile counts instead
of (zmax+1) x the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gdal_spark.geometry import mercator


def tile_counts(docs: DataFrame, zoom: int, lon_col="lon", lat_col="lat") -> DataFrame:
    """(zoom, tx, ty, n_docs) at a single zoom level."""
    return (
        docs.select(
            F.expr(mercator.sql_tx(lon_col, str(zoom))).alias("tx"),
            F.expr(mercator.sql_ty(lat_col, str(zoom))).alias("ty"),
        )
        .groupBy("tx", "ty")
        .agg(F.count("*").alias("n_docs"))
        .select(F.lit(zoom).alias("zoom"), "tx", "ty", "n_docs")
    )


def _pyramid_plan(docs: DataFrame, zmax: int, lon_col="lon", lat_col="lat") -> DataFrame:
    """The lazy pyramid: the zmax base aggregate, each base tile
    exploded to its zmax + 1 ancestors (itself included), and ONE
    (zoom, tx, ty) aggregate over them — two shuffles in all."""
    base = tile_counts(docs, zmax, lon_col, lat_col)
    return (
        base.select(
            F.explode(F.sequence(F.lit(0), F.lit(zmax))).alias("zoom"),
            "tx",
            "ty",
            "n_docs",
        )
        .select(
            "zoom",
            F.expr(f"shiftright(tx, {zmax} - zoom)").alias("tx"),
            F.expr(f"shiftright(ty, {zmax} - zoom)").alias("ty"),
            "n_docs",
        )
        .groupBy("zoom", "tx", "ty")
        .agg(F.sum("n_docs").alias("n_docs"))
    )


def tile_pyramid(docs: DataFrame, zmax: int, lon_col="lon", lat_col="lat") -> DataFrame:
    """(zoom, tx, ty, n_docs) for zoom in [0, zmax].

    One corpus-sized aggregate counts docs per zmax base tile; each base
    tile then contributes its count to all its ancestors at once (the
    ancestor at zoom z is (tx >> (zmax - z), ty >> (zmax - z)): k
    floor-halvings are one k-bit shift), and a single (zoom, tx, ty)
    aggregate sums them.  The whole pyramid — at most (zmax + 1) x the
    base tile count, tiny next to the corpus — is EAGERLY
    localCheckpoint-ed, so consumers that read it once per level (e.g.
    one table commit per zoom) scan the checkpoint instead of re-running
    the shuffles."""
    return _pyramid_plan(docs, zmax, lon_col, lat_col).localCheckpoint(eager=True)
