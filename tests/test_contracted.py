"""Differential tests: contracted global dendrogram vs a driver oracle.

The contracted global step (bubbles/kernels/contract_kernel.py +
plans/mrhdbscan.py:_global_step_contracted) must reproduce the
full-collect bottom-up build exactly — same cluster tree (up to label
renumbering), same per-point noise levels, GLOSH scores, and flat
partition (up to label bijection). The oracle, ``_driver_oracle``,
rebuilds that result from the fitted model's own ``mst_edges`` (every
global step stores the same leaf ∪ cross edge relation there), so each
differential runs one fit. The exactness argument is in
contract_kernel's module docstring / SCALE.md.
"""

from __future__ import annotations

import numpy as np
import pytest

from bubbles.kernels import hdbscan_kernel as hk
from bubbles.kernels.contract_kernel import contract_subset_edges
from bubbles.plans.mrhdbscan import MRHDBSCAN


def to_df(spark, X, ids=None):
    ids = ids if ids is not None else range(len(X))
    return spark.createDataFrame(
        [(int(i), [float(v) for v in x]) for i, x in zip(ids, X)],
        schema="point_id long, features array<double>",
    )


def _blobs(n=420, seed=7):
    rng = np.random.default_rng(seed)
    centers = np.array([[0.0, 0.0], [6.0, 0.0], [3.0, 7.0]])
    X = np.vstack(
        [c + rng.normal(scale=0.7, size=(n // 3, 2)) for c in centers]
    )
    X = np.vstack([X, rng.uniform(-4, 10, size=(n - 3 * (n // 3) + 30, 2))])
    return X


def _lattice(seed=3):
    rng = np.random.default_rng(seed)
    base = rng.integers(0, 6, size=(120, 2)).astype(float)
    return np.repeat(base, rng.integers(1, 4, size=len(base)), axis=0)


def _nan_to(x, fill=-1.0):
    return float(x) if x == x else fill


def _collect_model(model):
    labels = {
        int(r["point_id"]): int(r["label"]) for r in model.labels.collect()
    }
    scores = {
        int(r["point_id"]): (float(r["score"]), float(r["core_distance"]))
        for r in model.outlier_scores.collect()
    }
    tree = sorted(
        (
            _nan_to(r["birth_level"]),
            _nan_to(r["death_level"]),
            float(r["n_points"]),
            _nan_to(r["stability"]),
        )
        for r in model.cluster_tree.collect()
    )
    return labels, scores, tree


def _driver_oracle(model, min_cluster_size, constraints=None):
    """The full-collect bottom-up dendrogram (paper §3.3.3) over the
    model's merged edge relation: one ``hk.build_hierarchy`` over every
    point, core distance = the point's self-edge weight, GLOSH from
    ``hk.glosh_scores``. Returns ((labels, scores, tree), (res, verts)),
    the triple in ``_collect_model``'s format."""
    e = model.mst_edges.toArrow().to_pandas()
    src = e["src"].to_numpy(np.int64)
    dst = e["dst"].to_numpy(np.int64)
    w = e["weight"].to_numpy(np.float64)
    verts = np.unique(np.concatenate([src, dst]))
    lu = np.searchsorted(verts, src)
    lv = np.searchsorted(verts, dst)
    local_constraints = None
    if constraints is not None:
        idx = {int(g): i for i, g in enumerate(verts)}
        local_constraints = [
            (r["kind"], idx[int(r["point_a"])], idx[int(r["point_b"])])
            for r in constraints.select("kind", "point_a", "point_b").collect()
            if int(r["point_a"]) in idx and int(r["point_b"]) in idx
        ]
    res = hk.build_hierarchy(
        lu, lv, w, np.ones(len(verts)), min_cluster_size,
        constraints=local_constraints,
    )
    core = np.zeros(len(verts))
    self_mask = lu == lv
    core[lu[self_mask]] = w[self_mask]
    scores = hk.glosh_scores(res, core)
    labels = {int(v): int(lbl) for v, lbl in zip(verts, res.labels)}
    score_of = {
        int(v): (float(s), float(c)) for v, s, c in zip(verts, scores, core)
    }
    tree = sorted(
        (_nan_to(c.birth), _nan_to(c.death), float(c.n_points), _nan_to(c.stability))
        for c in res.clusters.values()
    )
    return (labels, score_of, tree), (res, verts)


def _assert_equivalent(oracle, m_con):
    (lab_d, sco_d, tree_d), _ = oracle
    lab_c, sco_c, tree_c = _collect_model(m_con)
    assert set(lab_d) == set(lab_c)
    # same noise set; cluster labels equal up to bijection
    fwd, bwd = {}, {}
    for p, ld in lab_d.items():
        lc = lab_c[p]
        assert (ld == 0) == (lc == 0), f"noise mismatch at {p}: {ld} vs {lc}"
        if ld != 0:
            assert fwd.setdefault(ld, lc) == lc, f"label split at {p}"
            assert bwd.setdefault(lc, ld) == ld, f"label merge at {p}"
    for p in sco_d:
        sd, cd = sco_d[p]
        sc, cc = sco_c[p]
        assert cd == pytest.approx(cc, abs=1e-12)
        if np.isnan(sd) or np.isnan(sc):
            assert np.isnan(sd) and np.isnan(sc)
        else:
            assert sd == pytest.approx(sc, rel=1e-9, abs=1e-12)
    assert len(tree_d) == len(tree_c)
    np.testing.assert_allclose(
        np.array(tree_d), np.array(tree_c), rtol=1e-9, atol=1e-9
    )


def _fit_both(spark, X, constraints=None, **kw):
    """One contracted fit and its driver oracle."""
    params = dict(
        min_pts=4, min_cluster_size=5, max_local_size=64,
        max_samples_per_subset=16, seed=11,
    )
    params.update(kw)
    m_con = MRHDBSCAN(**params).fit(to_df(spark, X), constraints=constraints)
    oracle = _driver_oracle(m_con, params["min_cluster_size"], constraints)
    return oracle, m_con


def test_contracted_matches_driver_recursive(spark):
    oracle, m_con = _fit_both(spark, _blobs())
    assert m_con.n_iterations >= 1  # recursion (cross edges) exercised
    _assert_equivalent(oracle, m_con)


def test_contracted_matches_driver_exact_path(spark):
    # single subset, no cross edges: pure-subtree contraction only
    oracle, m_con = _fit_both(spark, _blobs(n=150), max_local_size=4096)
    assert m_con.n_iterations == 0
    _assert_equivalent(oracle, m_con)


def test_contracted_matches_driver_lattice(spark):
    # duplicate-heavy data drives mst_edges_grouped + tie-group events
    oracle, m_con = _fit_both(spark, _lattice(), min_cluster_size=4)
    _assert_equivalent(oracle, m_con)


def test_contracted_matches_driver_with_constraints(spark):
    X = _blobs(n=330, seed=19)
    constraints = to_df(spark, X[:0]).sparkSession.createDataFrame(
        [(5, 200, "cl"), (12, 30, "ml"), (250, 260, "ml")],
        schema="point_a long, point_b long, kind string",
    )
    oracle, m_con = _fit_both(spark, X, constraints=constraints)
    _assert_equivalent(oracle, m_con)


def _writer_rows(model, full):
    """The per-level label matrix as the reference writer emits it:
    ``hk.hierarchy_levels`` over the retained vertices, expanded to
    points through the contraction membership."""
    res, verts = model._hier
    members: dict = {}
    for r in model._membership.collect():
        members.setdefault(int(r["rep_id"]), []).append(int(r["point_id"]))
    return sorted(
        (float(w), p, int(lbl))
        for w, labels in hk.hierarchy_levels(res, full=full)
        for v, lbl in zip(verts, labels)
        for p in members.get(int(v), [])
    )


def test_contracted_hierarchy_levels_match(spark):
    oracle, m_con = _fit_both(spark, _blobs(n=180), max_local_size=48)
    _, (res_d, verts_d) = oracle
    for full in (False, True):
        rows = sorted(
            (float(r["level_weight"]), int(r["point_id"]), int(r["label"]))
            for r in m_con.hierarchy_levels(full).collect()
        )
        # exactly the writer's matrix: a dropped level or label fails
        assert rows and rows == _writer_rows(m_con, full), full
        # the oracle's matrix: one row per point (its own vertex)
        lv_d = {
            (round(float(w), 9), int(p)): int(lbl)
            for w, labels in hk.hierarchy_levels(res_d, full=full)
            for p, lbl in zip(verts_d, labels)
        }
        lv_c = {(round(w, 9), p): lbl for w, p, lbl in rows}
        assert set(lv_d) == set(lv_c)
        fwd: dict = {}
        for key, ld in lv_d.items():
            lc = lv_c[key]
            assert (ld == 0) == (lc == 0)
            # per-level bijection (label numbering may differ between paths)
            w = key[0]
            assert fwd.setdefault((w, ld), lc) == lc


def test_contract_kernel_randomized_differential():
    """Property-style: random trees + self edges + random boundary sets.
    build_hierarchy(full) == build_hierarchy(contracted) on all outputs
    that survive contraction."""
    rng = np.random.default_rng(42)
    for trial in range(25):
        n = int(rng.integers(5, 120))
        mcl = int(rng.integers(2, 7))
        # random spanning tree over ids 0..n-1 with random weights
        perm = rng.permutation(n)
        src = [perm[int(rng.integers(0, i))] for i in range(1, n)]
        dst = [perm[i] for i in range(1, n)]
        w = rng.choice(
            rng.uniform(0.1, 5.0, size=max(2, n // 3)), size=n - 1
        )  # draws from a small pool => many exact ties
        core = rng.uniform(0.05, 5.0, size=n)
        full_src = np.concatenate([np.array(src, np.int64), np.arange(n)])
        full_dst = np.concatenate([np.array(dst, np.int64), np.arange(n)])
        full_w = np.concatenate([np.asarray(w, np.float64), core])
        n_boundary = int(rng.integers(0, max(1, n // 8)))
        boundary = frozenset(
            int(x) for x in rng.choice(n, size=n_boundary, replace=False)
        )
        res_full = hk.build_hierarchy(
            full_src, full_dst, full_w, np.ones(n), mcl
        )

        k, a, b, ww = contract_subset_edges(
            full_src, full_dst, full_w, boundary, mcl
        )
        edges = k == 1
        es, ed, ew = a[edges], b[edges], ww[edges]
        verts = np.unique(np.concatenate([es, ed])) if edges.any() else np.unique(a[k == 2])
        idx = {int(g): i for i, g in enumerate(verts)}
        vw = np.ones(len(verts))
        for vid, m in zip(a[k == 2], ww[k == 2]):
            vw[idx[int(vid)]] = m
        lu = np.fromiter((idx[int(x)] for x in es), np.int64, len(es))
        lv = np.fromiter((idx[int(x)] for x in ed), np.int64, len(ed))
        res_red = hk.build_hierarchy(lu, lv, ew, vw, mcl)

        # tree multiset must match
        def key(c):
            return (
                -1.0 if np.isnan(c.birth) else round(float(c.birth), 9),
                -1.0 if np.isnan(c.death) else round(float(c.death), 9),
                float(c.n_points),
            )

        t_full = sorted(key(c) for c in res_full.clusters.values())
        t_red = sorted(key(c) for c in res_red.clusters.values())
        assert t_full == t_red, f"trial {trial}: tree mismatch"
        stab_full = sorted(
            float(c.stability) for c in res_full.clusters.values() if c.label != 1
        )
        stab_red = sorted(
            float(c.stability) for c in res_red.clusters.values() if c.label != 1
        )
        np.testing.assert_allclose(stab_full, stab_red, rtol=1e-9, atol=1e-9)

        # membership: every point's noise level / glosh must match its rep's
        rep_of = {int(p): int(r) for p, r in zip(a[k == 0], b[k == 0])}
        assert set(rep_of) == set(range(n))
        glosh_full = hk.glosh_scores(res_full, core)
        glosh_red = hk.glosh_scores(res_red, core)  # core arg unused
        for p in range(n):
            r = idx[rep_of[p]]
            assert res_full.noise_level[p] == pytest.approx(
                float(res_red.noise_level[r]), rel=1e-12
            ), f"trial {trial}: noise level mismatch for {p}"
            gf, gr = glosh_full[p], glosh_red[r]
            if np.isnan(gf) or np.isnan(gr):
                assert np.isnan(gf) and np.isnan(gr)
            else:
                assert gf == pytest.approx(gr, rel=1e-9, abs=1e-12)
