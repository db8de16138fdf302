"""The one way a broadcast join brings its small dimension layer (zone
covers, STR-tree dims, kNN/radius targets) to its kernels: a broadcast
hash join ships its build side through the driver anyway, so one bounded
collect there gives up no scale property.  Past ``MAX_DIM_ROWS`` it fails
loudly, naming the distributed twin or saying that there is none.
``pip_join``/``intersection_join`` cover the collected zones on the
driver (:func:`collect_dim`); the STR-tree joins and ``knn_join``/
``radius_join`` ship their layer as one keyed broadcast
(:func:`_broadcast_dim`) and query one packed STR tree per executor
process (:func:`_tree_of`).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from gdal_spark.geometry.strtree import STRTree

MAX_DIM_ROWS = 1_000_000


def collect_dim(df: DataFrame, what: str, twin: str | None) -> pd.DataFrame:
    """``df`` as a pandas frame, read in one bounded job; raises
    ``ValueError`` when ``df`` has more than ``MAX_DIM_ROWS`` rows,
    pointing at ``twin`` (the distributed join to use instead) or, when
    ``twin`` is None, saying that no distributed version exists."""
    pdf = df.limit(MAX_DIM_ROWS + 1).toPandas()
    if len(pdf) > MAX_DIM_ROWS:
        raise ValueError(
            f"{what} has more than {MAX_DIM_ROWS:,} rows, past the "
            "driver-collected dim-layer contract. "
            + (f"Use {twin}." if twin else "This join has no distributed "
               "version; the cell join and the STR-tree join share the bound.")
        )
    return pdf


# one tree per broadcast payload per executor process, keyed by an
# explicit token SHIPPED IN the broadcast value — id(bc) would be the
# executor-side unpickled object's address, which CPython reuses across
# different broadcasts (stale-tree hazard) and differs across tasks for
# the same broadcast (useless cache)
_TREE_CACHE: dict[str, tuple] = {}
_KEY_SEQ = [0]


def _broadcast_dim(df: DataFrame, what: str, twin: str | None):
    """Broadcast a dim layer as ``(key, *columns)`` (numpy arrays in
    ``df``'s column order), collected through the bounded
    :func:`collect_dim`; ``key`` is a driver-unique token:
    applicationId x per-process sequence number."""
    pdf = collect_dim(df, what, twin)
    sc = df.sparkSession.sparkContext
    _KEY_SEQ[0] += 1
    key = f"{sc.applicationId}/{_KEY_SEQ[0]}"
    return sc.broadcast((key, *(pdf[c].to_numpy() for c in pdf.columns)))


def _tree_of(bc, boxes_of) -> tuple:
    """(STRTree, ids, *columns) of a :func:`_broadcast_dim` layer whose
    first column is the id; the tree is bulk-loaded from
    ``boxes_of(*columns)`` once per executor process."""
    key, ids, *cols = bc.value
    got = _TREE_CACHE.get(key)
    if got is None:
        _TREE_CACHE.clear()  # one live method layer per process is plenty
        got = (STRTree(boxes_of(*cols)), np.asarray(ids, dtype=np.int64), *cols)
        _TREE_CACHE[key] = got
    return got
