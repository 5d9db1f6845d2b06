"""Differential tests: recursive (two-level) contraction vs a driver oracle.

MRHDBSCAN(recursive_contraction=True) re-contracts the level-1
retained-event graph per genealogy bin (plans/mrhdbscan.py
_global_step_recursive + kernels/contract_kernel.py contract_bin)
before the driver hierarchy build. Exactness argument: the bin's
merge forest over (member subsets' retained forests + intra-bin cross
edges) is the global single-linkage structure restricted to the bin,
so the v1/v2 purity lemma applies with level-1 virtual vertices as
weighted leaves. These differentials pin labels (up to bijection),
noise sets, GLOSH scores, core distances, and the cluster tree
against the full-collect bottom-up build, rebuilt from the fitted
model's own ``mst_edges`` by ``tests.test_contracted._driver_oracle``
— same contract as tests/test_contracted.py pins for the single-level
pass, one fit per differential. The ``_blobs()`` fits are shared: the
module-scoped ``blobs_fits`` fixture fits that input once
non-recursive and once recursive for every test that reads it.
"""

from __future__ import annotations

import numpy as np
import pytest

from bubbles.kernels import hdbscan_kernel as hk
from bubbles.kernels.contract_kernel import contract_bin, contract_subset_edges
from bubbles.plans.mrhdbscan import MRHDBSCAN, _genealogy_bins

from tests.test_contracted import (
    _assert_equivalent,
    _blobs,
    _driver_oracle,
    _lattice,
    to_df,
)

_PARAMS = dict(
    min_pts=4, min_cluster_size=5, max_local_size=64,
    max_samples_per_subset=16, seed=11,
)


@pytest.fixture(scope="module")
def blobs_fits(spark):
    """(m_sl, m_rec): ``_blobs()`` fitted once with
    recursive_contraction=False and once with True. The fit is
    deterministic, and no test mutates either model."""
    df = to_df(spark, _blobs())
    m_sl = MRHDBSCAN(recursive_contraction=False, **_PARAMS).fit(df)
    m_rec = MRHDBSCAN(recursive_contraction=True, **_PARAMS).fit(df)
    return m_sl, m_rec


def _fit_pair(spark, X, constraints=None, **kw):
    """One recursive fit and its driver oracle."""
    params = dict(_PARAMS, **kw)
    m_rec = MRHDBSCAN(recursive_contraction=True, **params).fit(
        to_df(spark, X), constraints=constraints
    )
    oracle = _driver_oracle(m_rec, params["min_cluster_size"], constraints)
    return oracle, m_rec


def test_recursive_matches_driver_blobs(blobs_fits):
    _, m_rec = blobs_fits
    assert m_rec.n_iterations >= 1  # cross edges + genealogy exercised
    _assert_equivalent(_driver_oracle(m_rec, _PARAMS["min_cluster_size"]), m_rec)


def test_recursive_matches_driver_lattice(spark):
    # duplicate-heavy data drives tie-group events through both levels
    oracle, m_rec = _fit_pair(spark, _lattice(), min_cluster_size=4)
    _assert_equivalent(oracle, m_rec)


def test_recursive_matches_driver_deep_genealogy(spark):
    # tiny local cap forces several sampling iterations -> a genealogy
    # tree with real depth, multiple bins, and above-frontier creators
    oracle, m_rec = _fit_pair(
        spark, _blobs(n=900, seed=23), max_local_size=48,
        max_samples_per_subset=8,
    )
    assert m_rec.n_iterations >= 2
    _assert_equivalent(oracle, m_rec)


def test_recursive_constraints_fall_back(spark):
    # constraints are driver-mapped per-vertex; the recursive path
    # must fall back to the single-level contraction — warning the
    # caller that the explicitly-requested pass did not run — and
    # still match the driver result
    X = _blobs(n=330, seed=19)
    constraints = to_df(spark, X[:0]).sparkSession.createDataFrame(
        [(5, 200, "cl"), (12, 30, "ml"), (250, 260, "ml")],
        schema="point_a long, point_b long, kind string",
    )
    with pytest.warns(RuntimeWarning, match="downgraded.*constraints"):
        oracle, m_rec = _fit_pair(spark, X, constraints=constraints)
    _assert_equivalent(oracle, m_rec)


def test_recursive_hierarchy_levels_delegates(blobs_fits):
    """Round 11 (closes the round-9 refusal): hierarchy_levels under
    recursive contraction DELEGATES to the batched hierarchy_at over
    the writer's own level set instead of raising — same levels as
    the non-recursive matrix (compact AND full: cluster births +
    member noise gates), same partition per level up to a label
    bijection, same long format."""
    m_sl, m_rec = blobs_fits

    def _matrix(frame):
        out: dict = {}
        for r in frame.collect():
            out.setdefault(float(r["level_weight"]), {})[
                int(r["point_id"])
            ] = int(r["label"])
        return out

    for full in (False, True):
        mat_sl = _matrix(m_sl.hierarchy_levels(full=full))
        mat_rec = _matrix(m_rec.hierarchy_levels(full=full))
        ws_sl, ws_rec = sorted(mat_sl), sorted(mat_rec)
        assert len(ws_sl) == len(ws_rec), f"level count differs (full={full})"
        assert np.allclose(ws_sl, ws_rec), f"level values differ (full={full})"
        if full:
            assert len(ws_sl) >= 3
        for w_sl, w_rec in zip(ws_sl, ws_rec):
            _assert_same_partition(mat_sl[w_sl], mat_rec[w_rec], w_sl)


def test_genealogy_bins_cover_and_split():
    # a 2-level genealogy: root 0 -> {1, 2}; 1 -> {3, 4}; 2, 3, 4 leaves
    parent_of = {1: 0, 2: 0, 3: 1, 4: 1}
    leaf_size = {2: 100, 3: 400, 4: 380}
    leaf_bin, n_bins = _genealogy_bins(parent_of, leaf_size, 4)
    # every leaf has a bin
    assert set(leaf_bin) == {2, 3, 4}
    assert all(b is not None for b in leaf_bin.values())
    # budget 880/4=220: node 1 (780) splits -> leaves 3 and 4 are
    # their own frontier subtrees and land in different bins
    assert leaf_bin[3] != leaf_bin[4]
    assert 1 <= n_bins <= 4


def test_genealogy_bins_affinity_merges_connected_subtrees():
    # same tree; heavy cross-edge traffic between leaves 3 and 4 must
    # co-bin them (their joint mass 780 <= 2x budget 440? no: cap is
    # 2*220=440 < 780 -> NOT merged; but with a wider target the cap
    # admits the merge)
    parent_of = {1: 0, 2: 0, 3: 1, 4: 1}
    leaf_size = {2: 100, 3: 400, 4: 380}
    pairs = [(3, 4)] * 50 + [(2, 3)]
    leaf_bin, _ = _genealogy_bins(parent_of, leaf_size, 4, affinity=pairs)
    assert leaf_bin[3] != leaf_bin[4]  # cap 440 blocks the 780 merge
    # budget 880/2=440, cap 880: the 50-pair (3,4) merge now fits and
    # wins over the 1-pair (2,3) merge
    leaf_bin2, _ = _genealogy_bins(parent_of, leaf_size, 2, affinity=pairs)
    assert leaf_bin2[3] == leaf_bin2[4]


def test_genealogy_bins_single_bin():
    # everything under budget: one bin for all leaves
    parent_of = {1: 0, 2: 0}
    leaf_size = {1: 3, 2: 4}
    leaf_bin, n_bins = _genealogy_bins(parent_of, leaf_size, 1)
    assert n_bins == 1
    assert leaf_bin[1] == leaf_bin[2]


def test_contract_bin_weighted_randomized():
    """Level-2 kernel differential: contracting a retained graph with
    weighted vertices must preserve the hierarchy build_hierarchy
    produces on the uncontracted retained graph (same contract the
    level-1 randomized differential pins, plus masses and credits)."""
    rng = np.random.default_rng(7)
    for _ in range(25):
        n = int(rng.integers(6, 90))
        mcl = int(rng.integers(2, 7))
        perm = rng.permutation(n)
        src = np.array(
            [perm[int(rng.integers(0, i))] for i in range(1, n)], np.int64
        )
        dst = np.array([perm[i] for i in range(1, n)], np.int64)
        w = rng.choice(rng.uniform(0.1, 5.0, size=max(2, n // 3)), size=n - 1)
        core = rng.uniform(0.05, 5.0, size=n)
        full_src = np.concatenate([src, np.arange(n)])
        full_dst = np.concatenate([dst, np.arange(n)])
        full_w = np.concatenate([np.asarray(w, np.float64), core])
        # weighted vertices: a third of them carry mass 2..5
        masses = np.ones(n)
        heavy = rng.choice(n, size=n // 3, replace=False)
        masses[heavy] = rng.integers(2, 6, size=len(heavy))
        n_boundary = int(rng.integers(0, max(1, n // 8)))
        boundary = frozenset(
            int(x) for x in rng.choice(n, size=n_boundary, replace=False)
        )
        res_full = hk.build_hierarchy(full_src, full_dst, full_w, masses, mcl)

        kind = np.concatenate(
            [np.ones(len(full_src), np.int32), np.full(n, 2, np.int32)]
        )
        a = np.concatenate([full_src, np.arange(n, dtype=np.int64)])
        b = np.concatenate([full_dst, np.zeros(n, np.int64)])
        ww = np.concatenate([full_w, masses])
        k2, a2, b2, w2, d2 = contract_bin(kind, a, b, ww, boundary, mcl)
        edges = k2 == 1
        es, ed, ew = a2[edges], b2[edges], w2[edges]
        v2m = k2 == 2
        verts = np.unique(np.concatenate([es, ed, a2[v2m]]))
        idx = {int(g): i for i, g in enumerate(verts)}
        vw = np.ones(len(verts))
        for vid, m in zip(a2[v2m], w2[v2m]):
            vw[idx[int(vid)]] = m
        credit = np.full(len(verts), np.nan)
        for vid, c in zip(a2[k2 == 3], w2[k2 == 3]):
            credit[idx[int(vid)]] = c
        lu = np.fromiter((idx[int(x)] for x in es), np.int64, len(es))
        lv = np.fromiter((idx[int(x)] for x in ed), np.int64, len(ed))
        res_red = hk.build_hierarchy(
            lu, lv, ew, vw, mcl,
            vertex_credit=credit if np.isfinite(credit).any() else None,
        )

        def tkey(c):
            return (
                -1.0 if np.isnan(c.birth) else round(float(c.birth), 9),
                -1.0 if np.isnan(c.death) else round(float(c.death), 9),
                float(c.n_points),
            )

        t_full = sorted(tkey(c) for c in res_full.clusters.values())
        t_red = sorted(tkey(c) for c in res_red.clusters.values())
        assert t_full == t_red
        s_full = sorted(
            round(float(c.stability), 6) for c in res_full.clusters.values()
        )
        s_red = sorted(
            round(float(c.stability), 6) for c in res_red.clusters.values()
        )
        np.testing.assert_allclose(
            np.array(s_full), np.array(s_red), rtol=1e-6, atol=1e-6
        )
        # per-point labels through the membership map
        assign = {int(p): int(r) for p, r in zip(a2[k2 == 0], b2[k2 == 0])}
        detach = {int(p): float(d) for p, d in zip(a2[k2 == 0], d2[k2 == 0])}
        lab_red_of = {int(verts[i]): int(res_red.labels[i]) for i in range(len(verts))}
        noise_red_of = {
            int(verts[i]): float(res_red.noise_level[i]) for i in range(len(verts))
        }
        fwd: dict = {}
        for p in range(n):
            lf = int(res_full.labels[p])
            lr = lab_red_of[assign[p]]
            assert (lf == 0) == (lr == 0), f"noise mismatch at {p}"
            if lf != 0:
                assert fwd.setdefault(lf, lr) == lr
            # noise level: own detach weight if chain-coalesced, else
            # the representative's
            nf = float(res_full.noise_level[p])
            d = detach[p]
            nr = d if np.isfinite(d) else noise_red_of[assign[p]]
            assert nf == pytest.approx(nr, rel=1e-9, abs=1e-12)


# ---------------------------------------------------------------------------
# hierarchy_at(eps): single dendrogram cut — available in every mode,
# and the ONLY level query under recursive contraction (round 9)
# ---------------------------------------------------------------------------


def _cut(model, eps):
    return {
        int(r["point_id"]): int(r["label"])
        for r in model.hierarchy_at(eps).collect()
    }


def _assert_same_partition(a: dict, b: dict, eps):
    assert set(a) == set(b)
    noise_a = {p for p, l in a.items() if l == 0}
    noise_b = {p for p, l in b.items() if l == 0}
    assert noise_a == noise_b, f"noise sets differ at eps={eps}"
    fwd: dict = {}
    bwd: dict = {}
    for p, la in a.items():
        if la == 0:
            continue
        lb = b[p]
        assert fwd.setdefault(la, lb) == lb, f"split at eps={eps}, p={p}"
        assert bwd.setdefault(lb, la) == la, f"merge at eps={eps}, p={p}"


def test_hierarchy_at_matches_level_matrix(blobs_fits):
    """Non-recursive: hierarchy_at(w) at every recorded full level
    must equal that hierarchy_levels row verbatim (same rule, one W)."""
    m, _ = blobs_fits
    matrix: dict = {}
    for r in m.hierarchy_levels(full=True).collect():
        matrix.setdefault(float(r["level_weight"]), {})[
            int(r["point_id"])
        ] = int(r["label"])
    ws = sorted(matrix)
    assert len(ws) >= 3
    for w in (ws[0], ws[len(ws) // 2], ws[-1]):
        assert _cut(m, w) == matrix[w], f"cut at recorded level {w}"


def test_hierarchy_at_recursive_matches_single_level(blobs_fits):
    """Recursive contraction: the level replayed from the durable
    pieces (level-2 labels at eps + exact level-1 detach weights) must
    equal the non-recursive cut at the same eps, up to a label
    bijection — at recorded levels, between them, below the lowest and
    above the highest."""
    m_sl, m_rec = blobs_fits
    res, _ = m_sl._hier
    ws = sorted({float(w) for w, _ in hk.hierarchy_levels(res, full=True)})
    probes = {
        ws[0], ws[len(ws) // 2], ws[-1],
        (ws[0] + ws[-1]) / 2.0, ws[0] / 2.0, ws[-1] * 1.5,
    }
    for eps in sorted(probes):
        _assert_same_partition(_cut(m_sl, eps), _cut(m_rec, eps), eps)


def test_hierarchy_at_multi_level_matches_per_eps(blobs_fits):
    """Round 10: hierarchy_at accepts a LIST of levels and replays the
    durable pieces once (one broadcast join, one membership join, long
    format). Differential: multi-eps == the per-eps calls verbatim in
    BOTH modes; recursive multi-eps == non-recursive cut up to a label
    bijection; duplicate levels collapse."""
    m_sl, m_rec = blobs_fits
    res, _ = m_sl._hier
    ws = sorted({float(w) for w, _ in hk.hierarchy_levels(res, full=True)})
    probes = sorted(
        {ws[0], ws[len(ws) // 2], ws[-1], (ws[0] + ws[-1]) / 2.0, ws[-1] * 1.5}
    )

    def _multi(model, levels):
        out: dict = {}
        for r in model.hierarchy_at(levels).collect():
            out.setdefault(float(r["level_weight"]), {})[
                int(r["point_id"])
            ] = int(r["label"])
        return out

    for m in (m_sl, m_rec):
        multi = _multi(m, probes)
        assert sorted(multi) == probes
        for e in probes:
            assert multi[e] == _cut(m, e), f"eps={e} differs from single call"
    rec_multi = _multi(m_rec, probes)
    for e in probes:
        _assert_same_partition(_cut(m_sl, e), rec_multi[e], e)
    # duplicates collapse; empty list refuses
    e0 = probes[0]
    assert (
        m_sl.hierarchy_at([e0, e0]).count()
        == m_sl.hierarchy_at(e0).count()
    )
    import pytest as _pt

    with _pt.raises(ValueError, match="at least one level"):
        m_sl.hierarchy_at([])


def test_hierarchy_at_broadcast_cap(blobs_fits, monkeypatch):
    """hierarchy_at's level frame and the global steps' representative
    frames share one broadcast rule: hinted up to ``_broadcast_cap``
    rows (8M local, 2M on a cluster), a shuffle join past it, the same
    rows either way. The rule takes the row count, so no large frame
    is built here."""
    from bubbles.plans import mrhdbscan as mr

    assert mr._broadcast_cap("local[4]") == 8_000_000
    assert mr._broadcast_cap("spark://host:7077") == 2_000_000
    m_sl, m_rec = blobs_fits
    tiny = m_sl._spark.range(1)

    def hinted(df):
        return "broadcast" in df._jdf.queryExecution().analyzed().toString()

    # the perfbench hierarchy queries (≈17.8k vertices × 8 levels,
    # ≈4.9k × 16) keep the hint; a 4936 × 2171-level full matrix drops it
    for n_rows, want in (
        (17_793 * 8, True),
        (4_936 * 16, True),
        (8_000_000, True),
        (4_936 * 2_171, False),
    ):
        assert hinted(mr._broadcast_if_small(m_sl._spark, tiny, n_rows)) == want
    levels = sorted(hk.hierarchy_level_set(m_sl._hier[0]))[:3]
    for m in (m_sl, m_rec):
        want = sorted(tuple(r) for r in m.hierarchy_at(levels).collect())
        monkeypatch.setattr(mr, "_broadcast_cap", lambda master: 0)
        got = sorted(tuple(r) for r in m.hierarchy_at(levels).collect())
        monkeypatch.undo()
        assert got == want


def test_hierarchy_at_requires_retention(spark):
    from bubbles.plans.mrhdbscan import MRHDBSCANModel

    m = MRHDBSCANModel(
        labels=None, cluster_tree=None, outlier_scores=None, mst_edges=None
    )
    with pytest.raises(ValueError, match="hierarchy retention"):
        m.hierarchy_at(1.0)
