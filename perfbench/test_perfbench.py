"""The benchmark's own helpers: python3 -m pytest perfbench/ -q"""

import numpy as np
import pytest

from checks import adjusted_rand_index
from sparktrace import interval_union_s
from workloads import WORKLOADS, generate


def test_ari_hand_computed():
    # contingency rows (true 0: [2, 0, 0], true 1: [0, 1, 1]):
    # sum C(n_ij,2) = 1, rows = 2, cols = 1, C(4,2) = 6
    # expected = 2*1/6 = 1/3, max = 3/2 -> (1 - 1/3) / (3/2 - 1/3) = 4/7
    assert adjusted_rand_index([0, 0, 1, 1], [0, 0, 1, 2]) == pytest.approx(4 / 7)


def test_ari_label_names_do_not_matter():
    a = [0, 0, 1, 1, 2, 2]
    assert adjusted_rand_index(a, [5, 5, 0, 0, 9, 9]) == 1.0
    # a labeling against its swapped-pair version scores below chance
    assert adjusted_rand_index([0, 0, 1, 1], [0, 1, 0, 1]) == pytest.approx(-0.5)


def test_ari_single_cluster_each():
    assert adjusted_rand_index([3, 3, 3], [0, 0, 0]) == 1.0


def test_interval_union():
    assert interval_union_s([]) == 0.0
    # disjoint, nested, overlapping and touching intervals, unsorted
    assert interval_union_s([(5, 7), (0, 2), (1, 3), (6, 6.5), (7, 8)]) == 6.0
    # inverted / empty intervals count zero
    assert interval_union_s([(4, 4), (3, 1)]) == 0.0


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_generate_is_seeded(name):
    w = WORKLOADS[name]
    a = generate(w, 7)
    b = generate(w, 7)
    c = generate(w, 8)
    for x, y in zip(a, b):
        assert np.array_equal(x, y)
    assert not np.array_equal(a[0], c[0])
    X, comp, Q, qcomp = a
    assert X.shape[0] == len(comp) == w.n_points
    assert Q.shape[0] == len(qcomp) == w.n_queries
