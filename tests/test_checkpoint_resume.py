"""Durable fit checkpointing (MRHDBSCAN(checkpoint_dir=...)).

SCALE.md's "iteration state" row promises that at cluster scale the
per-iteration localCheckpoint() becomes a reliable parquet checkpoint
that survives executor (and driver) loss. These tests pin that
contract: with checkpoint_dir set, every loop-level lineage cut is a
parquet round-trip plus a per-iteration JSON manifest, and a FRESH
fit() call pointed at the directory resumes at the last completed
iteration boundary with labels bit-identical to an uninterrupted run.
"""

from __future__ import annotations

import shutil

import pytest

from bubbles.plans.mrhdbscan import MRHDBSCAN, _load_fit_manifest

from tests.test_contracted import _blobs, to_df

PARAMS = dict(
    min_pts=4,
    min_cluster_size=5,
    max_local_size=48,
    max_samples_per_subset=8,
    seed=23,
)


def _labels(model):
    return sorted(
        (r["point_id"], r["label"]) for r in model.labels.collect()
    )


def _canon(labels):
    # partition up to cluster renaming: noise (0) pinned, clusters
    # renumbered by first appearance in point_id order
    ren: dict[int, int] = {0: 0}
    out = []
    for pid, lbl in labels:
        if lbl not in ren:
            ren[lbl] = len(ren)
        out.append((pid, ren[lbl]))
    return out


def test_durable_fit_matches_and_resumes(spark, tmp_path):
    X = _blobs(n=900, seed=23)
    df = to_df(spark, X)
    ck = str(tmp_path / "fitck")

    baseline = MRHDBSCAN(**PARAMS).fit(df)
    assert baseline.n_iterations >= 2  # resume boundary is non-trivial

    durable = MRHDBSCAN(**PARAMS, checkpoint_dir=ck).fit(df)
    # the parquet round-trip re-splits the data, which reorders float
    # partial sums in the bubble aggregation: cluster ids renumber and
    # a handful of boundary points may flip — the partitions must
    # still agree almost everywhere. Exactness is only promised
    # BETWEEN runs on the same checkpoint lineage (resume, below).
    canon_base = dict(_canon(_labels(baseline)))
    canon_dur = dict(_canon(_labels(durable)))
    n_diff = sum(1 for p, l in canon_dur.items() if canon_base[p] != l)
    assert n_diff <= 0.05 * len(canon_dur), f"{n_diff} points diverged"
    expected = _labels(durable)

    # every completed iteration committed a manifest, and the durable
    # artifacts are plain parquet a new session could read
    state = _load_fit_manifest(spark, ck)
    assert state is not None
    assert state["iteration"] == baseline.n_iterations
    assert state["leaf_names"]
    for name in state["leaf_names"]:
        assert spark.read.parquet(f"{ck}/{name}").count() > 0
    # the global step's contraction checkpoint is durable too (an
    # executor loss there must not lose the pass — localCheckpoint
    # blocks are unrecoverable)
    assert spark.read.parquet(f"{ck}/global_contract").count() > 0

    # simulate a mid-fit crash: keep only iteration 0's commit (drop
    # later manifests), then re-fit with the same dir. The loop must
    # RESUME — warning the caller — from the end-of-iteration-0 state
    # on disk (not session lineage) and reproduce identical labels.
    for it in range(2, state["iteration"] + 1):
        shutil.rmtree(f"{ck}/manifest/it{it:05d}", ignore_errors=True)
    partial = _load_fit_manifest(spark, ck)
    assert partial is not None and partial["iteration"] == 1

    with pytest.warns(RuntimeWarning, match="resuming fit"):
        resumed = MRHDBSCAN(**PARAMS, checkpoint_dir=ck).fit(df)
    assert _labels(resumed) == expected
    assert resumed.n_iterations == baseline.n_iterations


def test_model_save_load_roundtrip(spark, tmp_path):
    from bubbles.plans.mrhdbscan import MRHDBSCANModel

    X = _blobs(n=240, seed=3)
    m = MRHDBSCAN(
        min_pts=4, min_cluster_size=5, max_local_size=64,
        max_samples_per_subset=16, seed=7,
    ).fit(to_df(spark, X))
    path = str(tmp_path / "model")
    m.save(path)
    # round-8: load signals the hierarchy_levels limitation EAGERLY
    with pytest.warns(UserWarning, match="NOT hierarchy_levels"):
        loaded = MRHDBSCANModel.load(spark, path)
    assert loaded.n_iterations == m.n_iterations
    for rel in MRHDBSCANModel._SAVE_RELATIONS:
        # repr-compare: exact float64 round-trip, and NaN == NaN
        # (cluster_tree carries NaN birth levels for the root)
        a = sorted(repr(tuple(r)) for r in getattr(m, rel).collect())
        b = sorted(repr(tuple(r)) for r in getattr(loaded, rel).collect())
        assert a == b, f"{rel} did not round-trip"
    # hierarchy retention is driver state and not persisted
    with pytest.raises(ValueError):
        loaded.hierarchy_levels()


def test_checkpoint_dir_unused_without_manifest(spark, tmp_path):
    # an empty/never-used directory must behave like a fresh fit (no
    # spurious resume), and a tiny single-iteration fit still commits
    X = _blobs(n=120, seed=5)
    df = to_df(spark, X)
    ck = str(tmp_path / "fresh")
    m = MRHDBSCAN(
        min_pts=4, min_cluster_size=5, max_local_size=64,
        max_samples_per_subset=16, seed=7, checkpoint_dir=ck,
    ).fit(df)
    assert m.labels.count() == len(X)


def test_global_step_resumes_from_durable_cut(spark, tmp_path):
    """Round-8 (VERDICT r7 task 5): a kill AFTER the global
    contraction cut must restart from the durable cut on resume — the
    loop iterations are not recomputed and the contraction parquet is
    read back, not rewritten. An incomplete cut (no _SUCCESS marker)
    is not trusted and is recomputed, still bit-identically."""
    import glob
    import os

    X = _blobs(n=900, seed=23)
    df = to_df(spark, X)
    ck = str(tmp_path / "gck")
    m = MRHDBSCAN(**PARAMS, checkpoint_dir=ck).fit(df)
    expected = _labels(m)

    def mtimes(pat):
        return {
            p: os.path.getmtime(p)
            for p in glob.glob(f"{ck}/{pat}/*.parquet")
        }

    cut_before = mtimes("global_contract")
    loop_before = mtimes("it*_current")
    assert cut_before and loop_before

    # the on-disk state after a completed loop + contraction cut IS
    # the kill-after-the-cut state; a same-fingerprint fit must resume
    with pytest.warns(RuntimeWarning, match="resuming fit"):
        m2 = MRHDBSCAN(**PARAMS, checkpoint_dir=ck).fit(df)
    assert _labels(m2) == expected
    assert mtimes("global_contract") == cut_before, "cut was recomputed"
    assert mtimes("it*_current") == loop_before, "loop was recomputed"

    # incomplete cut (kill DURING the cut write): not trusted, recomputed
    os.remove(f"{ck}/global_contract/_SUCCESS")
    with pytest.warns(RuntimeWarning, match="resuming fit"):
        m3 = MRHDBSCAN(**PARAMS, checkpoint_dir=ck).fit(df)
    assert _labels(m3) == expected
    assert mtimes("global_contract") != cut_before, "stale cut reused"


def test_resume_raises_on_fingerprint_mismatch(spark, tmp_path):
    """Round-8 ADVICE: the manifest stores a parameter/input
    fingerprint, and fit() against an existing checkpoint_dir with
    different parameters or data must RAISE — silently resuming
    incompatible state produces wrong clusters."""
    params = dict(
        min_pts=4, min_cluster_size=5, max_local_size=48,
        max_samples_per_subset=8, seed=23,
    )
    X = _blobs(n=400, seed=11)
    df = to_df(spark, X)
    ck = str(tmp_path / "fpck")
    MRHDBSCAN(**params, checkpoint_dir=ck).fit(df)

    # different parameter -> refuse
    with pytest.raises(ValueError, match="fingerprint"):
        MRHDBSCAN(**{**params, "min_pts": 5}, checkpoint_dir=ck).fit(df)
    # different input (row count) -> refuse
    with pytest.raises(ValueError, match="fingerprint"):
        MRHDBSCAN(**params, checkpoint_dir=ck).fit(df.limit(300))
    # identical params + data still resume cleanly
    with pytest.warns(RuntimeWarning, match="resuming fit"):
        m = MRHDBSCAN(**params, checkpoint_dir=ck).fit(df)
    assert m.labels.count() == len(X)
