"""Seeded workload definitions: the inputs, the fit parameters and the
predict/hierarchy query shapes of each benchmark workload.

Every generator runs in the calling (single) process with numpy and is a
pure function of the workload and the ``--seed``: the same seed gives
bit-identical inputs. The cluster *layout* (centres, spreads) of a
workload is fixed; the seed draws the points. Quality scores therefore
move little from seed to seed, which keeps ``ari``/``predict_ari``
steady enough to gate on.
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass, field
from typing import Callable

import numpy as np

# layout RNG stream, independent of --seed (see module docstring)
_LAYOUT_SEED = 20240601


def _gauss1_layout():
    # the paper's Gauss1 shape: 20 centres in 10-d, spread 10, sigma 1
    rng = np.random.default_rng(_LAYOUT_SEED)
    centres = rng.normal(0.0, 10.0, size=(20, 10))
    return centres, np.ones(20)


def _lowdim_layout():
    # 4 x 3 grid with jittered centres, blobs ~8 sigma apart
    rng = np.random.default_rng(_LAYOUT_SEED + 1)
    gx, gy = np.meshgrid(np.arange(4) * 16.0, np.arange(3) * 16.0)
    centres = np.stack([gx.ravel(), gy.ravel()], axis=1)
    centres += rng.uniform(-1.5, 1.5, size=centres.shape)
    sigma = rng.uniform(1.5, 2.0, size=len(centres))
    return centres, sigma


@dataclass(frozen=True)
class Workload:
    name: str
    # () -> (centres [k, dim], per-centre sigma [k])
    layout: Callable
    n_points: int
    n_queries: int
    # MRHDBSCAN(...) keyword arguments
    fit: dict
    # number of dendrogram levels handed to hierarchy_at
    n_levels: int
    # leaf size of the isolated hdbscan_kernel row (the workload's
    # typical exact-leaf shape)
    kernel_leaf: int
    # gate: lowest `ari` and `predict_ari` accepted on any seed, the
    # lowest value recorded at the seed commit (README.md)
    min_ari: float
    # model.predict(...) keyword arguments beyond the two frames
    predict: dict = field(default_factory=dict)


# why each workload exists: README.md and BENCHMARK.json
WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="gauss1_leafheavy",
            layout=_gauss1_layout,
            n_points=20_000,
            n_queries=1_000,
            fit=dict(
                min_pts=8,
                min_cluster_size=100,
                sample_fraction=0.05,
                max_local_size=2048,
                max_samples_per_subset=768,
            ),
            n_levels=8,
            kernel_leaf=1000,
            min_ari=0.999,
        ),
        Workload(
            name="lowdim_deep",
            layout=_lowdim_layout,
            n_points=10_000,
            n_queries=1_000,
            fit=dict(
                min_pts=8,
                min_cluster_size=450,
                sample_fraction=0.05,
                max_local_size=256,
                max_samples_per_subset=16,
            ),
            n_levels=16,
            kernel_leaf=256,
            min_ari=0.91,
            predict=dict(index="ivf"),
        ),
    )
}


def generate(w: Workload, seed: int):
    """(X, comp, Q, qcomp): fitted features and generating component,
    held-out query features and component, float64."""
    centres, sigma = w.layout()
    rng = np.random.default_rng([seed, zlib.crc32(w.name.encode())])
    n = w.n_points + w.n_queries
    k, dim = centres.shape
    # equal-as-possible component sizes, shuffled
    comp = rng.permutation(np.arange(n) % k)
    pts = centres[comp] + rng.normal(size=(n, dim)) * sigma[comp, None]
    return pts[: w.n_points], comp[: w.n_points], pts[w.n_points :], comp[w.n_points :]
