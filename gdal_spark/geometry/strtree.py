"""Packed Sort-Tile-Recursive (STR) R-tree over bounding boxes.

The per-partition spatial index for the candidate stage of spatial
joins and tile clipping (the reference keeps the same role in its
in-memory layers: GEOS STRtree behind OGRLayer::Intersection /
quadtree in ogr/ogrsf_frmts/generic — here rebuilt as a pure-numpy
bulk-loaded structure, no shapely in the sandbox).

STR bulk load (Leutenegger et al., "STR: A Simple and Efficient
Algorithm for R-Tree Packing", ICDE 1997): sort by center-x, cut into
ceil(sqrt(P)) vertical slabs, sort each slab by center-y, pack runs of
``cap`` into leaf nodes; repeat on the node boxes until one level fits
in the root.  Every level is a flat (K,4) array and children of node
``j`` are the contiguous run ``[j*cap, (j+1)*cap)`` of the level below,
so batch queries run fully vectorized: a frontier of (query, node)
pairs expands level by level with ``np.repeat`` + overlap masks — no
per-node recursion, no Python object tree.

Scale shape: trees are built per EXECUTOR over the broadcast method
layer (dim-sized) or per PARTITION over local tile boxes; queries
arrive as whole Arrow batches of corpus points/boxes.
"""

from __future__ import annotations

import numpy as np

__all__ = ["STRTree"]


def _str_order(boxes: np.ndarray, cap: int) -> np.ndarray:
    """Permutation packing ``boxes`` in STR order for leaf capacity
    ``cap``: x-sorted slabs, y-sorted within each slab."""
    n = boxes.shape[0]
    cx = (boxes[:, 0] + boxes[:, 2]) * 0.5
    cy = (boxes[:, 1] + boxes[:, 3]) * 0.5
    p = -(-n // cap)  # leaves needed
    s = int(np.ceil(np.sqrt(p)))  # vertical slabs
    slab = cap * -(-p // s)  # items per slab
    by_x = np.argsort(cx, kind="stable")
    order = np.empty(n, dtype=np.int64)
    for i in range(0, n, slab):
        run = by_x[i : i + slab]
        order[i : i + len(run)] = run[np.argsort(cy[run], kind="stable")]
    return order


# queries per descent: the frontier gathers (pairs x 4) boxes at every
# level, so one 65536-query kNN batch over 2000 targets peaked ~370 MB
# above its start unchunked, ~77 MB in 4096-query chunks (and ran faster)
_QUERY_CHUNK = 4096


class STRTree:
    """Bulk-loaded packed R-tree; query methods return candidate index
    pairs (exact geometry refine is the caller's job)."""

    def __init__(self, boxes: np.ndarray, cap: int = 16):
        boxes = np.ascontiguousarray(boxes, dtype=np.float64)
        if boxes.ndim != 2 or boxes.shape[1] != 4:
            raise ValueError("boxes must be (N, 4) [xmin,ymin,xmax,ymax]")
        self.cap = int(cap)
        self.n_items = boxes.shape[0]
        if self.n_items == 0:
            self.perm = np.empty(0, dtype=np.int64)
            self.levels = [np.empty((0, 4))]
            return
        self.perm = _str_order(boxes, self.cap)
        levels = [boxes[self.perm]]  # level 0 = items in packed order
        while levels[-1].shape[0] > self.cap:
            below = levels[-1]
            k = -(-below.shape[0] // self.cap)
            up = np.empty((k, 4), dtype=np.float64)
            for j in range(k):
                run = below[j * self.cap : (j + 1) * self.cap]
                up[j, 0] = run[:, 0].min()
                up[j, 1] = run[:, 1].min()
                up[j, 2] = run[:, 2].max()
                up[j, 3] = run[:, 3].max()
            levels.append(up)
        self.levels = levels  # levels[0]=items ... levels[-1]=top nodes

    # ------------------------------------------------------------ query
    def query_boxes(self, qboxes: np.ndarray):
        """Candidate pairs for a batch of query boxes: returns
        (q_idx, item_idx) int64 arrays with bbox overlap (closed
        boxes: touching edges count — the pessimistic candidate rule;
        the exact refine decides boundaries)."""
        qboxes = np.ascontiguousarray(qboxes, dtype=np.float64)
        m = qboxes.shape[0]
        if m == 0 or self.n_items == 0:
            z = np.empty(0, dtype=np.int64)
            return z, z
        if m > _QUERY_CHUNK:
            parts = [(s, *self.query_boxes(qboxes[s : s + _QUERY_CHUNK]))
                     for s in range(0, m, _QUERY_CHUNK)]
            return (np.concatenate([qi + s for s, qi, _ in parts]),
                    np.concatenate([ti for _, _, ti in parts]))
        top = self.levels[-1]
        qi = np.repeat(np.arange(m, dtype=np.int64), top.shape[0])
        ni = np.tile(np.arange(top.shape[0], dtype=np.int64), m)
        keep = self._overlap(qboxes, qi, top, ni)
        qi, ni = qi[keep], ni[keep]
        # descend: children of node j at the level below are
        # [j*cap, (j+1)*cap)
        for lvl in range(len(self.levels) - 2, -1, -1):
            below = self.levels[lvl]
            counts = np.minimum(
                (ni + 1) * self.cap, below.shape[0]
            ) - ni * self.cap
            qi = np.repeat(qi, counts)
            starts = np.repeat(ni * self.cap, counts)
            offs = np.arange(counts.sum(), dtype=np.int64) - np.repeat(
                np.cumsum(counts) - counts, counts
            )
            ni = starts + offs
            keep = self._overlap(qboxes, qi, below, ni)
            qi, ni = qi[keep], ni[keep]
        return qi, self.perm[ni]

    def query_points(self, xs: np.ndarray, ys: np.ndarray):
        """Candidate pairs for a batch of points (degenerate boxes)."""
        xs = np.asarray(xs, dtype=np.float64)
        ys = np.asarray(ys, dtype=np.float64)
        return self.query_boxes(np.column_stack([xs, ys, xs, ys]))

    @staticmethod
    def _overlap(qboxes, qi, nboxes, ni) -> np.ndarray:
        q = qboxes[qi]
        b = nboxes[ni]
        return (
            (q[:, 0] <= b[:, 2])
            & (q[:, 2] >= b[:, 0])
            & (q[:, 1] <= b[:, 3])
            & (q[:, 3] >= b[:, 1])
        )
