"""Isolated per-layer rows of the traced run: the fit's operators on the
workload's own input as the fit's first iteration sees it, and the
numpy kernels on a fixed-seed leaf-shaped input of the workload."""

from __future__ import annotations

import statistics
import time

import numpy as np
from pyspark.sql import functions as F

from bubbles.kernels.bubble_kernel import local_bubble_model
from bubbles.kernels.contract_kernel import contract_subset_edges
from bubbles.kernels.hdbscan_kernel import build_hierarchy, core_distances, mst_edges
from bubbles.operators.bubble_agg import bubble_aggregate
from bubbles.operators.nearest import nearest_representative_bulk
from bubbles.operators.sampling import stratified_sample_exact

from workloads import Workload, generate

KERNEL_SEED = 0  # kernel inputs do not depend on --seed
SAMPLE_SEED = 42  # MRHDBSCAN's default seed, as the fit's iteration 0
KERNEL_REPS = 3  # each kernel row is the median of this many calls


def operator_rows(spark, tracer, w: Workload, df, dim: int):
    """Trace sample -> assign -> aggregate once, mirroring iteration 0 of
    the fit (every point in subset 0). Returns (metrics, bubbles) where
    ``bubbles`` is the collected bubble table, the input of the bubble
    kernel row."""
    p = w.fit
    par = spark.sparkContext.defaultParallelism
    current = (
        df.select("point_id", "features", F.lit(0).cast("long").alias("subset_id"))
        .repartition(par)
        .localCheckpoint()
    )
    counts = spark.createDataFrame([(0, w.n_points)], "subset_id long, __n long")
    mls = p["max_local_size"]
    with tracer.span("op.stratified_sample") as s_sample:
        sample = (
            stratified_sample_exact(
                current,
                "subset_id",
                p["sample_fraction"],
                seed=SAMPLE_SEED,
                max_per_key=min(p["max_samples_per_subset"], mls),
                min_ratio=2.0 / mls,
                ratio_cap=mls,
                counts=counts,
            )
            .select("sample_ord", "point_id", "features")
            .toArrow()
        )
    order = np.argsort(sample.column("sample_ord").to_numpy(), kind="stable")
    packed = {
        0: (
            sample.column("point_id").to_numpy()[order],
            np.asarray(sample.column("features").to_pylist(), np.float64)[order],
        )
    }
    bcs: list = []
    with tracer.span("op.nearest_representative") as s_near:
        assigned = nearest_representative_bulk(current, packed, bc_out=bcs).localCheckpoint()
    for b in bcs:
        b.destroy()
    with tracer.span("op.bubble_aggregate") as s_agg:
        bubbles = bubble_aggregate(assigned, dim).toArrow()
    metrics = {}
    for key, s in (
        ("stratified_sample", s_sample),
        ("nearest_representative", s_near),
        ("bubble_aggregate", s_agg),
    ):
        metrics[f"op.{key}_s"] = s["wall_s"]
        metrics[f"op.{key}_shuffle_mb"] = s["shuffle_write_mb"]
    return metrics, bubbles


def _median_time(fn):
    times, out = [], None
    for _ in range(KERNEL_REPS):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times), out


def kernel_rows(w: Workload, bubbles) -> dict:
    """Median per-call times of the exact-leaf kernels on the
    workload's leaf shape (the ``kernel_leaf`` points nearest one
    fitted point), of the contraction of that leaf's MST, and of the
    bubble local model on the operator rows' bubbles."""
    X, _, _, _ = generate(w, KERNEL_SEED)
    near = np.argsort(((X - X[0]) ** 2).sum(axis=1), kind="stable")
    leaf = np.ascontiguousarray(X[near[: w.kernel_leaf]])
    n = len(leaf)
    min_pts, mcl = w.fit["min_pts"], w.fit["min_cluster_size"]

    t_core, core = _median_time(lambda: core_distances(leaf, min_pts))
    t_mst, (src, dst, wt) = _median_time(lambda: mst_edges(leaf, core))
    t_hier, _ = _median_time(
        lambda: build_hierarchy(src, dst, wt, np.ones(n), mcl)
    )
    # a leaf's boundary holds the endpoints of the few bubble-level
    # cross edges; every 64th vertex stands in for them
    boundary = frozenset(int(v) for v in range(0, n, 64))
    t_contract, _ = _median_time(
        lambda: contract_subset_edges(src, dst, wt, boundary, mcl)
    )

    rep = np.asarray(bubbles.column("rep").to_pylist(), np.float64)
    t_bubble, _ = _median_time(
        lambda: local_bubble_model(
            rep,
            bubbles.column("n").to_numpy(),
            bubbles.column("extent").to_numpy(),
            bubbles.column("nn_dist").to_numpy(),
            bubbles.column("bubble_id").to_numpy(),
            min_pts,
            mcl,
            max_subset_weight=float(w.fit["max_local_size"]),
        ),
    )
    pairs = 2 * n * n
    return {
        "kernel.core_distances_s": t_core,
        "kernel.mst_edges_s": t_mst,
        "kernel.build_hierarchy_s": t_hier,
        "kernel.pair_evals": pairs,
        "kernel.ns_per_pair": (t_core + t_mst) / pairs * 1e9,
        "kernel.contract_subset_edges_s": t_contract,
        "kernel.local_bubble_model_s": t_bubble,
    }
