"""Seeded input table: the ``documents`` parquet the engine's corpus
layer reads (``corpus.load_docs`` / ``corpus.load_polydocs``).

Everything the engine derives from a document — lon/lat, rectangle
half-width, hot-cell membership — is a hash of ``doc_id``, so drawing
the ids from the seed moves every point and rectangle while keeping the
spatial distribution (80% uniform, 20% in ten hot cells) the same from
seed to seed.  Ids are sorted and written in small row groups, so a
doc-id range filter (the interactive slice request) reads one or two
row groups instead of the table.
"""

from __future__ import annotations

import os

import numpy as np

# ids are drawn from [0, ID_SPAN * n) and replicated as id * R + r by the
# corpus layer; the largest replicated id stays far below the range where
# the corpus hash formulas would overflow a 64-bit integer
ID_SPAN = 64
ROW_GROUP = 4096

_VOCAB = np.array(
    (
        "spark batch line column order small sort fast value scan hash slow "
        "group agg filter query big key window row part table stream merge "
        "data tile zoom zone point ring hole clip join index cell grid map"
    ).split()
)
_LANGS = np.array(["en", "zh", "de", "fr", "es"])


def write_documents(path: str, n: int, seed: int) -> np.ndarray:
    """Write ``n`` seeded documents to ``path`` (a parquet file) and
    return their sorted doc ids."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    ids = np.sort(rng.choice(ID_SPAN * n, size=n, replace=False)).astype(np.int64)
    n_words = rng.integers(8, 64, size=n)
    words = _VOCAB[rng.integers(0, len(_VOCAB), size=int(n_words.sum()))]
    ends = np.cumsum(n_words)
    texts = [" ".join(words[e - k : e]) for e, k in zip(ends, n_words)]
    table = pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": _LANGS[rng.integers(0, len(_LANGS), size=n)],
            "source": np.char.add("src", rng.integers(0, 16, size=n).astype(str)),
            "n_chars": np.fromiter((len(t) for t in texts), np.int64, count=n),
        }
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=ROW_GROUP)
    return ids
