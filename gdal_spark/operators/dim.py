"""The one way a broadcast join brings its small dimension layer (zone
covers, STR-tree dims, kNN targets) to the driver: a broadcast hash join
ships its build side through the driver anyway, so one bounded collect
there gives up no scale property.  Past ``MAX_DIM_ROWS`` it fails
loudly, naming the distributed twin or saying that there is none.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

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
