"""STR-tree (geometry/strtree.py): candidate sets must equal the
brute-force O(N*M) bbox-overlap matrix on random inputs."""

import numpy as np
import pytest

from gdal_spark.geometry.strtree import STRTree


def _brute(qboxes, boxes):
    pairs = set()
    for i, q in enumerate(qboxes):
        for j, b in enumerate(boxes):
            if (
                q[0] <= b[2]
                and q[2] >= b[0]
                and q[1] <= b[3]
                and q[3] >= b[1]
            ):
                pairs.add((i, j))
    return pairs


def _rand_boxes(rng, n, span=100.0, sz=5.0):
    lo = rng.uniform(0, span, size=(n, 2))
    wh = rng.uniform(0, sz, size=(n, 2))
    return np.column_stack([lo, lo + wh])


@pytest.mark.parametrize(
    "n,m,cap", [(1, 7, 16), (37, 23, 4), (500, 200, 16), (60, 9000, 8)]
)
def test_box_query_matches_brute_force(n, m, cap):
    rng = np.random.default_rng(n * 1000 + m)
    boxes = _rand_boxes(rng, n)
    qboxes = _rand_boxes(rng, m)
    t = STRTree(boxes, cap=cap)
    qi, ti = t.query_boxes(qboxes)
    assert set(zip(qi.tolist(), ti.tolist())) == _brute(qboxes, boxes)
    # pairs come grouped by query, in query order (the kNN and radius
    # kernels build one list per query from consecutive pairs), also
    # across the descent's query chunks
    assert (np.diff(qi) >= 0).all()


def test_point_query_and_edges():
    boxes = np.array([[0, 0, 10, 10], [10, 0, 20, 10], [30, 30, 40, 40.0]])
    t = STRTree(boxes, cap=2)
    qi, ti = t.query_points(
        np.array([5.0, 10.0, 25.0]), np.array([5.0, 5.0, 5.0])
    )
    got = set(zip(qi.tolist(), ti.tolist()))
    # point on the shared edge x=10 is a candidate for BOTH boxes
    # (closed-box pessimistic rule; exact refine decides)
    assert got == {(0, 0), (1, 0), (1, 1)}


def test_empty_inputs():
    t = STRTree(np.empty((0, 4)))
    qi, ti = t.query_points(np.array([1.0]), np.array([1.0]))
    assert len(qi) == 0 and len(ti) == 0
    t2 = STRTree(np.array([[0, 0, 1, 1.0]]))
    qi, ti = t2.query_boxes(np.empty((0, 4)))
    assert len(qi) == 0


def test_large_skewed_layout():
    # clustered + outlier mix stresses the slab packing
    rng = np.random.default_rng(7)
    a = _rand_boxes(rng, 300, span=5.0, sz=0.5)
    b = _rand_boxes(rng, 300, span=1000.0, sz=50.0)
    boxes = np.vstack([a, b])
    qboxes = _rand_boxes(rng, 150, span=1000.0, sz=20.0)
    t = STRTree(boxes, cap=8)
    qi, ti = t.query_boxes(qboxes)
    assert set(zip(qi.tolist(), ti.tolist())) == _brute(qboxes, boxes)
