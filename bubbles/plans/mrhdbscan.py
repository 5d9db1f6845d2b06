"""MRHDBSCAN — MLlib-style estimator over DataFrames.

The paper's recursive-sampling + Data-Bubbles scheme (Santos et al.,
IEEE TBD 2021) re-expressed Spark-first. Reference driver:
``源代码/main/Main.java:69-413`` (Stage A ingest, Stage B recursive
partition loop, Stage C global edge merge, Stage D dendrogram).

Per-iteration dataflow (all DataFrame ops; kernels only inside
``applyInPandas``):

  sizes     groupBy(subset).count                       (A1)
  small     exact HDBSCAN* MST per subset               (X3/X8, kernel)
  samples   deterministic exact stratified sample       (X1)
  assign    broadcast join + min(struct) argmin         (J1)
  bubbles   per-dimension sum/count aggregation         (A2, B1-B3 fixed)
  model     per-subset bubble kernel                    (A3/X9/X10/X11)
  relabel   broadcast join on (subset, bubble) → new subsets (J2)

The loop re-checkpoints per pass (the reference's object files,
S3/S4) and the final hierarchy is built once on the driver from the
contracted merged edge relation (replacing the broken Stage D loop,
bug B7).

Termination guard the reference lacks: a subset that fails to shrink
twice is processed exactly regardless of size.
"""

from __future__ import annotations

import os
import sys
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bubbles.kernels import hdbscan_kernel as hk
from bubbles.kernels.bubble_kernel import local_bubble_model
from bubbles.operators.bubble_agg import bubble_aggregate
from bubbles.operators.nearest import nearest_representative_bulk
from bubbles.operators.sampling import stratified_sample_exact
from bubbles.sources.points import checkpoint_parquet

_EDGE_SCHEMA = "subset_id long, src long, dst long, weight double"
_MODEL_SCHEMA = "subset_id long, kind int, a long, b long, w double"

# recursive_contraction="auto" switches the level-2 pass on past this
# many fitted points: below it the single collect + driver build is
# seconds and the extra distributed pass is pure overhead; above it
# the driver term grows linearly in retained events (measured 111-145 s
# at 19.8M points) while the level-2 pass amortizes across executors.
_RECURSIVE_MIN_POINTS = 2_000_000

# relabel (J2) broadcast ceiling, in mapping rows (= #bubbles): below
# it the per-iteration relabel map ships as a broadcast hint; past it
# a broadcast would pressure every executor (~10M rows ≈ 240 MB) and
# the join falls back to a plain shuffle on (subset_id, label) —
# SCALE.md "relabel" row. Module-level so tests can force a tiny
# ceiling and assert the shuffle plan.
_RELABEL_BROADCAST_MAX = 10_000_000


def _cut_or_local(df: DataFrame, name: str, cut) -> DataFrame:
    # global-step lineage cut: uses fit()'s _cut (durable parquet when
    # checkpoint_dir is set) when provided; plain localCheckpoint for
    # direct callers/tests. localCheckpoint blocks are NOT recoverable
    # on executor loss, so the durable route matters exactly as much
    # here as in the loop.
    return df.localCheckpoint() if cut is None else cut(df, name)


def _relabel_join(
    bubble_labels: DataFrame,
    map_df: DataFrame,
    n_mapping: int,
    n_bubbles_max: int | None = None,
) -> DataFrame:
    """The fit loop's J2 relabel join (bubble -> fresh subset id).

    Two relations with DIFFERENT cardinalities get hints here: the
    driver-built mapping (one row per NEW subset, exactly
    ``n_mapping``) and the joined relabel relation (one row per
    BUBBLE — many bubbles share a label, so it can be orders of
    magnitude larger). Each hint is gated on its own count: the
    mapping on ``n_mapping``, the relabel on ``n_bubbles_max`` (a
    driver-known upper bound; when None it defaults to ``n_mapping``,
    correct only for callers whose bubble_labels has one row per
    mapping entry). Past ``_RELABEL_BROADCAST_MAX`` the hint is
    dropped so Spark plans a shuffle equi-join (AQE may still pick
    broadcast from runtime stats — the point is that WE stop forcing
    it past the ceiling).
    """
    if n_mapping <= _RELABEL_BROADCAST_MAX:
        map_df = F.broadcast(map_df)
    relabel = bubble_labels.join(map_df, on=["subset_id", "label"]).select(
        "subset_id", "bubble_id", "new_subset_id"
    )
    n_relabel = n_mapping if n_bubbles_max is None else n_bubbles_max
    if n_relabel <= _RELABEL_BROADCAST_MAX:
        relabel = F.broadcast(relabel)
    return relabel


def _hadoop_exists(spark, path: str) -> bool:
    # Hadoop-FS existence probe (works for file://, hdfs://, s3a://
    # alike — anywhere checkpoint_dir can point)
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def _write_fit_manifest(spark, ckdir: str, state: dict) -> None:
    # One JSON row per COMPLETED iteration, each in its own directory
    # (never overwritten): a crash mid-write loses at most the current
    # iteration's manifest, and resume takes the max complete one.
    # DataFrame text write so the manifest lands on the same
    # Hadoop-compatible FS as the parquet checkpoints.
    import json

    (
        spark.createDataFrame([(json.dumps(state),)], "state string")
        .coalesce(1)
        .write.mode("overwrite")
        .text(f"{ckdir}/manifest/it{state['iteration']:05d}")
    )


def _load_fit_manifest(spark, ckdir: str) -> dict | None:
    import json

    from pyspark.errors import AnalysisException

    try:
        rows = spark.read.text(f"{ckdir}/manifest/it*").collect()
    except AnalysisException as e:
        # only "no manifest yet" means a fresh fit; any OTHER failure
        # (FS hiccup, permissions) must propagate — silently starting
        # over would overwrite the durable state resume exists to
        # protect
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return None
        raise
    states = []
    for r in rows:
        try:
            states.append(json.loads(r["value"]))
        except ValueError:
            continue
    if not states:
        return None
    state = max(states, key=lambda s: s["iteration"])
    # JSON stringifies int dict keys; restore them
    for k in ("stalls", "parent_of", "leaf_size"):
        state[k] = {int(a): int(b) for a, b in state[k].items()}
    return state


def _genealogy_bins(
    parent_of: dict[int, int],
    leaf_size: dict[int, int],
    n_bins_target: int,
    affinity: list[tuple[int, int]] | None = None,
):
    """Cut the subset-genealogy tree into contiguous-subtree bins.

    Every cross edge connects descendants of the genealogy node whose
    bubble model created it, so binning WHOLE subtrees keeps those
    edges intra-bin. The frontier is grown by splitting the heaviest
    node until every subtree holds ≤ total/n_bins_target points.

    ``affinity``: optional (leaf_subset_a, leaf_subset_b) pairs — the
    cross edges' endpoint leaf subsets. Frontier subtrees joined by
    the most pairs are greedily merged (size-capped at 2× the split
    budget) before packing, internalizing edges whose creator sits
    ABOVE the frontier (the early iterations' inter-cluster edges,
    whose endpoints land in every subtree's dense core and would
    otherwise poison level-2 spine purity bin-wide). Merged groups
    are then LPT-packed into at most ``n_bins_target`` bins placed by
    Murmur3 representatives (same trick as the leaf-kernel stage).

    Returns (leaf_bin, n_bins): ``leaf_bin`` maps each leaf subset to
    its bin representative. Cross edges are routed by their
    endpoints' bins (same bin → intra-bin; else driver).
    """
    import heapq

    children: dict[int, list[int]] = {}
    for c, p in parent_of.items():
        children.setdefault(p, []).append(c)
    mass = dict(leaf_size)
    # child ids are always larger than their parent's: accumulate up
    for nid in sorted(parent_of, reverse=True):
        p = parent_of[nid]
        mass[p] = mass.get(p, 0) + mass.get(nid, 0)
    total = mass.get(0, 0)
    budget = max(1, total // max(1, n_bins_target))
    frontier: set[int] = set()
    heap = [(-mass.get(0, 0), 0)]
    while heap:
        neg, node = heapq.heappop(heap)
        if -neg > budget and node in children:
            for c in children[node]:
                heapq.heappush(heap, (-mass.get(c, 0), c))
        else:
            frontier.add(node)

    memo: dict[int, int] = {f: f for f in frontier}

    def to_frontier(node: int) -> int:
        chain = []
        cur = node
        while cur not in memo:
            chain.append(cur)
            cur = parent_of[cur]
        val = memo[cur]
        for x in chain:
            memo[x] = val
        return val

    # greedy affinity merge: union-find over frontier nodes, heaviest
    # pair-count first, component mass capped so bins stay balanced
    uf = {f: f for f in frontier}
    csize = {f: float(mass.get(f, 0)) for f in frontier}

    def find(x: int) -> int:
        while uf[x] != x:
            uf[x] = uf[uf[x]]
            x = uf[x]
        return x

    if affinity:
        from collections import Counter

        cnt: Counter = Counter()
        for sa, sb in affinity:
            fa, fb = to_frontier(int(sa)), to_frontier(int(sb))
            if fa != fb:
                cnt[(min(fa, fb), max(fa, fb))] += 1
        cap = 2.0 * budget
        for (fa, fb), _c in cnt.most_common():
            ra, rb = find(fa), find(fb)
            if ra != rb and csize[ra] + csize[rb] <= cap:
                if ra > rb:
                    ra, rb = rb, ra
                uf[rb] = ra
                csize[ra] += csize[rb]

    comp_roots = sorted({find(f) for f in frontier})
    n_bins = max(1, min(n_bins_target, len(comp_roots)))
    reps = _partition_reps(n_bins)
    bin_of = _lpt_bins(comp_roots, {r: csize[r] for r in comp_roots}, n_bins)
    node_bin = {f: reps[bin_of[find(f)]] for f in frontier}
    leaf_bin = {int(s): node_bin[to_frontier(int(s))] for s in leaf_size}
    return leaf_bin, n_bins


def _features_matrix(col: pd.Series) -> np.ndarray:
    return np.array([np.asarray(v, dtype=np.float64) for v in col], dtype=np.float64)


def _murmur3_32_long(v: int, seed: int = 42) -> int:
    """Spark's Murmur3_x86_32.hashLong (seed 42) — the hash behind
    HashPartitioning of a LONG column. Validated bit-exact against
    ``F.hash`` and ``repartition(n, col)`` placement; lets the driver
    PREDICT which partition a long key lands in without any job."""

    def mix_k1(k1: int) -> int:
        k1 = (k1 * 0xCC9E2D51) & 0xFFFFFFFF
        k1 = ((k1 << 15) | (k1 >> 17)) & 0xFFFFFFFF
        return (k1 * 0x1B873593) & 0xFFFFFFFF

    def mix_h1(h1: int, k1: int) -> int:
        h1 ^= k1
        h1 = ((h1 << 13) | (h1 >> 19)) & 0xFFFFFFFF
        return (h1 * 5 + 0xE6546B64) & 0xFFFFFFFF

    v &= 0xFFFFFFFFFFFFFFFF
    h1 = mix_h1(seed, mix_k1(v & 0xFFFFFFFF))
    h1 = mix_h1(h1, mix_k1((v >> 32) & 0xFFFFFFFF))
    h1 ^= 8
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & 0xFFFFFFFF
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & 0xFFFFFFFF
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


def _partition_reps(n_bins: int) -> list[int]:
    """One representative long per partition of a
    ``repartition(n_bins, <long col>)`` exchange: reps[p] hashes to
    partition p. Pure driver-side search (no job) over small ints;
    coupon-collector expected cost ~n_bins·ln(n_bins) candidates."""
    reps: dict[int, int] = {}
    v = 0
    while len(reps) < n_bins:
        p = _murmur3_32_long(v) % n_bins
        if p not in reps:
            reps[p] = v
        v += 1
    return [reps[p] for p in range(n_bins)]


def _lpt_bins(items: list, weights: dict, n_bins: int) -> dict:
    """Longest-processing-time bin packing: heaviest item first onto
    the lightest bin — makespan ≤ 4/3·OPT. Returns item -> bin."""
    import heapq

    heap = [(0.0, b) for b in range(n_bins)]
    heapq.heapify(heap)
    out = {}
    for it in sorted(items, key=lambda x: (-weights[x], x)):
        w, b = heapq.heappop(heap)
        out[it] = b
        heapq.heappush(heap, (w + weights[it], b))
    return out


def _exact_edges_arrays(X, ids, min_pts: int, metric: str):
    """One subset's exact MST edge arrays (the per-subset body of the
    binned exact-leaf kernel)."""
    uniq = np.unique(X, axis=0)
    grouped = len(uniq) < 0.7 * len(X)
    if grouped:
        # duplicate-heavy subset: collapsed O(m²) variant
        src, dst, w = hk.mst_edges_grouped(X, ids, min_pts, metric)
    else:
        core = hk.core_distances(X, min_pts, metric)
        src, dst, w = hk.mst_edges(X, core, metric, self_edges=True, ids=ids)
    return src, dst, w, len(uniq), grouped


def _make_exact_edges_kernel_binned(min_pts: int, metric: str):
    """Bin-level exact-leaf kernel: ONE pandas group per LPT bin,
    looping the member subsets inside the kernel. applyInPandas costs
    ~0.3-1 ms of Arrow/dispatch per GROUP; at 19.8M points iteration
    2 holds 266k micro-subsets, so per-subset groups spent ~118 s on
    dispatch alone (profiled) while the actual MSTs were microseconds
    each. Grouping by bin cuts the group count to ~2x cores. Same
    per-subset arrays (bit-identical edges), same schema — only the
    grouping granularity changes."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        X_all = _features_matrix(pdf["features"])
        ids_all = pdf["point_id"].to_numpy(np.int64)
        subs = pdf["subset_id"].to_numpy(np.int64)
        order = np.argsort(subs, kind="stable")
        sorted_subs = subs[order]
        cuts = np.flatnonzero(np.diff(sorted_subs)) + 1
        starts = np.concatenate(([0], cuts))
        ends = np.concatenate((cuts, [len(subs)]))
        out_sid, out_src, out_dst, out_w = [], [], [], []
        for lo, hi in zip(starts, ends):
            rows = order[lo:hi]
            src, dst, w, _, _ = _exact_edges_arrays(
                X_all[rows], ids_all[rows], min_pts, metric
            )
            out_sid.append(
                np.full(len(src), int(sorted_subs[lo]), dtype=np.int64)
            )
            out_src.append(np.asarray(src, dtype=np.int64))
            out_dst.append(np.asarray(dst, dtype=np.int64))
            out_w.append(np.asarray(w, dtype=np.float64))
        if not out_sid:
            z = np.array([], dtype=np.int64)
            return pd.DataFrame(
                {"subset_id": z, "src": z, "dst": z,
                 "weight": np.array([], dtype=np.float64)}
            )
        return pd.DataFrame(
            {
                "subset_id": np.concatenate(out_sid),
                "src": np.concatenate(out_src),
                "dst": np.concatenate(out_dst),
                "weight": np.concatenate(out_w),
            }
        )

    return kernel


def _make_local_model_kernel(min_pts: int, min_cluster_size: int, metric: str, tau: int):
    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        subset = int(pdf["subset_id"].iloc[0])
        rep = _features_matrix(pdf["rep"])
        n_b = pdf["n"].to_numpy(np.float64)
        extent = pdf["extent"].to_numpy(np.float64)
        nn = pdf["nn_dist"].to_numpy(np.float64)
        ids = pdf["bubble_id"].to_numpy(np.int64)
        m = local_bubble_model(
            rep, n_b, extent, nn, ids, min_pts, min_cluster_size, metric,
            max_subset_weight=float(tau),
        )
        rows = {
            "subset_id": [],
            "kind": [],
            "a": [],
            "b": [],
            "w": [],
        }
        for bid, lbl in zip(m.bubble_ids, m.labels):
            rows["subset_id"].append(subset)
            rows["kind"].append(0)
            rows["a"].append(int(bid))
            rows["b"].append(int(lbl))
            rows["w"].append(0.0)
        for s, d, w in zip(m.inter_src, m.inter_dst, m.inter_w):
            rows["subset_id"].append(subset)
            rows["kind"].append(1)
            rows["a"].append(int(s))
            rows["b"].append(int(d))
            rows["w"].append(float(w))
        return pd.DataFrame(rows)

    return kernel


@dataclass
class MRHDBSCANModel:
    labels: DataFrame  # (point_id, label)  0 = noise
    cluster_tree: DataFrame  # (label, parent, birth_level, death_level, stability, n_points)
    outlier_scores: DataFrame  # (point_id, score, core_distance)
    mst_edges: DataFrame  # (src, dst, weight) incl. self edges
    n_iterations: int = 0
    _hier = None  # (HierarchyResult, verts) for hierarchy_levels()
    _membership = None  # DataFrame(point_id, rep_id, core_distance)
    _levels_mode = "exact"  # "recursive": hierarchy_at replays _l2
    _spark = None
    _fit_params = None  # {"min_pts", "metric"} — predict()'s defaults
    _predict_reference = None  # persisted (features+label+core+levels)
    _predict_index_path = None  # persisted ANN index (save(index=...))
    _predict_index_kind = None  # "ivf" | "lsh" — which index lives there
    _predict_index_cache = None  # memoized (path, meta, cids, cmat)
    _membership_l1 = None  # recursive mode: point -> level-1 rep
    _l2 = None  # recursive mode: (rep_id, rep2, detach)

    def hierarchy_levels(self, full: bool = False) -> DataFrame:
        """Per-level label matrix as rows (level_weight, point_id,
        label) — the reference's hierarchy CSV contract
        (Main.java:556-565). The compact default holds the cluster
        birth levels; ``full=True`` adds every level where a point
        turns noise (the reference's default non-compact hierarchy).
        Served in every mode by ``hierarchy_at`` over that level set,
        whose label rule is ``hk.hierarchy_levels``' row for row. The
        driver holds only the level list. Outside recursive mode the
        matrix is refused past 50M cells (retained vertices × levels),
        the documented limit of the level writer."""
        if self._hier is None:
            raise ValueError("hierarchy retention disabled")
        res, verts = self._hier
        recursive = self._levels_mode == "recursive"
        levels = hk.hierarchy_level_set(res, full=full and not recursive)
        if full and recursive:
            import pyarrow as pa

            # a level-1 representative turns noise at its exact detach
            # weight, NaN inheriting its level-2 vertex's noise level —
            # the gate hierarchy_at applies; together these ARE the
            # level-1 noise levels of the non-recursive writer.
            # Bounded collect: one row per distinct level.
            nl_df = self._spark.createDataFrame(
                pa.table(
                    {
                        "rep2": pa.array(np.asarray(verts, np.int64), pa.int64()),
                        "__nl": pa.array(
                            np.asarray(res.noise_level, np.float64), pa.float64()
                        ),
                    }
                )
            )
            levels |= {
                float(r["__g"])
                for r in self._l2.join(
                    _broadcast_if_small(self._spark, nl_df, len(verts)), on="rep2"
                )
                .select(_detach_gate("__nl").alias("__g"))
                .filter(F.col("__g") > 0)
                .distinct()
                .collect()
            }
        if not levels:
            return self._spark.createDataFrame(
                [], schema="level_weight double, point_id long, label long"
            )
        cells = len(verts) * len(levels)
        if not recursive and cells > hk.HIERARCHY_MAX_CELLS:
            raise ValueError(
                f"hierarchy matrix would have {cells} cells "
                f"(> {hk.HIERARCHY_MAX_CELLS}); query fewer levels with "
                f"hierarchy_at"
            )
        return self.hierarchy_at(sorted(levels))

    def hierarchy_at(self, eps) -> DataFrame:
        """Per-point labels at one or more dendrogram levels — the
        "cut the dendrogram at ε" query, WITHOUT the n×levels matrix
        (``hierarchy_levels`` is this query over the matrix's level
        set). ``eps`` is a single distance or a sequence of them
        (round 10): a multi-level query
        replays the durable pieces ONCE — one driver-side label pass
        per level over the bounded reduced graph, ONE level-frame join
        (broadcast under ``_broadcast_cap``) and ONE membership join
        total, returning the levels in long
        format — instead of re-walking the membership relation per
        level (the practical way to ask for k cuts at >2M points).
        Duplicate levels are collapsed. Returns (level_weight,
        point_id, label); label semantics are exactly one row of the
        level writer: deepest chain cluster with birth ≥ eps > death
        (root active everywhere), noise (0) once the point's detach
        level exceeds eps.

        Recursive mode replays the level from the durable pieces: a
        level-1 representative's noise gate is its EXACT detach weight
        (contract_kernel v2 carries it; a member can outlive its chunk
        vertex's reduced-graph noise transition, so the chunk's own
        noise level must NOT gate it — NaN detach inherits the chunk
        gate); while clustered, its label is the chunk's deepest chain
        cluster active at eps (the pure chain rule, noise gate
        skipped); points share their level-1 representative's
        trajectory exactly (v1 contraction purity contract).
        Differential-tested against the non-recursive level matrix."""
        if self._hier is None:
            raise ValueError("hierarchy retention disabled")
        import pyarrow as pa

        try:
            eps_list = [float(e) for e in eps]
        except TypeError:
            eps_list = [float(eps)]
        if not eps_list:
            raise ValueError("hierarchy_at needs at least one level")
        eps_list = sorted(set(eps_list))
        res, verts = self._hier
        nv = len(verts)
        v64 = np.asarray(verts, np.int64)
        if self._levels_mode == "recursive":
            # one bounded label pass per level, ONE long level frame
            # (k·|reduced graph| rows, broadcast under _broadcast_cap),
            # then the two durable joins exactly once for all k levels
            lab_cols = [
                hk.labels_at_level(res, e, apply_noise=False).astype(np.int64)
                for e in eps_list
            ]
            rep_df = self._spark.createDataFrame(
                pa.table(
                    {
                        "level_weight": pa.array(
                            np.repeat(np.asarray(eps_list, np.float64), nv), pa.float64()
                        ),
                        "rep2": pa.array(np.tile(v64, len(eps_list)), pa.int64()),
                        "label": pa.array(np.concatenate(lab_cols), pa.int64()),
                        "__nl": pa.array(
                            np.tile(
                                np.asarray(res.noise_level, np.float64),
                                len(eps_list),
                            ),
                            pa.float64(),
                        ),
                    }
                )
            )
            rep1 = self._l2.join(
                _broadcast_if_small(self._spark, rep_df, len(eps_list) * nv),
                on="rep2",
            ).select(
                "rep_id",
                "level_weight",
                F.when(_detach_gate("__nl") > F.col("level_weight"), F.lit(0))
                .otherwise(F.col("label"))
                .alias("label"),
            )
            # rep1 is O(level-1 retained · k) — can be millions; plain
            # equi-join, AQE picks the strategy
            return self._membership_l1.join(rep1, on="rep_id").select(
                "level_weight", "point_id", "label"
            )
        lab_cols = [
            hk.labels_at_level(res, e).astype(np.int64) for e in eps_list
        ]
        rep_df = self._spark.createDataFrame(
            pa.table(
                {
                    "level_weight": pa.array(
                        np.repeat(np.asarray(eps_list, np.float64), nv), pa.float64()
                    ),
                    "rep_id": pa.array(np.tile(v64, len(eps_list)), pa.int64()),
                    "label": pa.array(np.concatenate(lab_cols), pa.int64()),
                }
            )
        )
        return self._membership.join(
            _broadcast_if_small(self._spark, rep_df, len(eps_list) * nv),
            on="rep_id",
        ).select("level_weight", "point_id", "label")

    def predict(
        self,
        fitted_points: DataFrame | None = None,
        new_points: DataFrame | None = None,
        min_pts: int | None = None,
        metric: str | None = None,
        **kwargs,
    ) -> DataFrame:
        """Out-of-sample cluster assignment (approximate_predict):
        label NEW points against this fitted clustering without
        refitting — works identically on a Structured Streaming
        ``new_points`` frame (single broadcast + mapInPandas, zero
        shuffles).

        Call shapes:
        * ``model.predict(fitted_points, new_points)`` — re-supply the
          fitted (point_id, features) alongside the new ones.
        * ``model.predict(new_points)`` — score against the model's
          persisted prediction reference (``save(path,
          fitted_points=...)`` + ``load``); no training data needed.

        ``min_pts``/``metric`` default to the FIT's parameters (carried
        on the model and persisted in the save meta); pass them only to
        deliberately deviate. See
        bubbles.plans.predict.approximate_predict for the membership
        semantics and the reference-size contract."""
        from bubbles.plans.predict import approximate_predict

        if new_points is None:
            # single-frame shape: the one positional arg is the new
            # points; the reference comes from the persisted sample
            fitted_points, new_points = None, fitted_points
        if new_points is None:
            raise ValueError("predict needs a new_points DataFrame")
        fp = self._fit_params or {}
        return approximate_predict(
            self, fitted_points, new_points,
            min_pts=fp.get("min_pts", 4) if min_pts is None else min_pts,
            metric=fp.get("metric", "euclidean") if metric is None else metric,
            **kwargs,
        )

    def predict_stream(
        self,
        new_points: DataFrame,
        output_path: str,
        checkpoint_dir: str,
        available_now: bool = False,
        **predict_kwargs,
    ):
        """Score a STREAMING new-points frame with the model's full
        BATCH predict semantics via ``foreachBatch`` — each micro-batch
        goes through ``predict`` as an ordinary batch, so it can ride
        the persisted distributed index exactly (the in-plan
        ``predict(readStream_df)`` route is restricted to the
        broadcast sampled-reference path, which is approximate past
        the reference cap). Predictions land under
        ``<output_path>/batch_id=<id>/`` (idempotent overwrite per
        batch). Returns the started StreamingQuery. See
        bubbles.plans.predict.predict_stream."""
        from bubbles.plans.predict import predict_stream

        return predict_stream(
            self, new_points, output_path, checkpoint_dir,
            available_now=available_now, **predict_kwargs,
        )

    # ------------------------------------------------------------------
    _SAVE_RELATIONS = ("labels", "cluster_tree", "outlier_scores", "mst_edges")

    def save(
        self,
        path: str,
        fitted_points: DataFrame | None = None,
        predict_rows_per_cluster: int = 20_000,
        features_col: str = "features",
        index: str | None = None,
        index_kwargs: dict | None = None,
    ) -> None:
        """Persist the model's four relations as parquet under
        ``path`` plus a one-row JSON meta (n_iterations, levels mode,
        fit params). Distributed writes — nothing is collected. The
        hierarchy retention state (``hierarchy_levels``/``hierarchy_at``)
        is driver-side and NOT persisted: a loaded model serves labels/
        tree/outliers/MST; refit for the hierarchy queries.

        ``fitted_points`` (point_id, features of the fitted data)
        additionally persists a PREDICTION REFERENCE so the loaded
        model can ``predict(new_points)`` with no training data on
        hand: the features are joined with labels, core distances and
        tree levels, then capped per cluster (noise included) to
        ``predict_rows_per_cluster`` rows by a deterministic hash-
        stride systematic sample — per-cluster stratification keeps
        every decision boundary represented no matter how skewed the
        cluster sizes are, and the stride rule (keep point_id where
        xxhash64 % ceil(n_c/cap) == 0) needs one tiny per-label count
        instead of a per-cluster sort window. Set
        ``predict_rows_per_cluster=0`` to persist every fitted row.

        ``index="ivf"`` additionally persists the DISTRIBUTED-predict
        index over that reference (centroids + capped inverted lists
        under ``path/predict_index`` — see
        bubbles.plans.predict.build_predict_index): a loaded model's
        over-cap / ``index="ivf"`` predict then pays probe + re-rank
        only, never re-assigning the reference per scoring batch.
        ``index_kwargs`` (n_centroids, n_probe, max_bucket_size, seed,
        n_salts, expected_batch_size) tune the build; defaults match
        the cold auto path so persisted-index predict == fresh-index
        predict exactly (pass ``expected_batch_size`` to size the
        centroids for warm per-batch throughput instead).

        ``index="lsh"`` persists the LSH variant instead (capped
        per-table sign-bit buckets under the same dir — see
        build_predict_lsh_index): the index ``choose_index`` routes
        streaming-build / churny corpora to, now with the same warm
        probe+re-rank amortization. ``index_kwargs`` there: planes,
        tables, seed, max_bucket_size, n_probes, probe_alloc."""
        import json
        import os

        if index is not None:
            if index not in ("ivf", "lsh"):
                raise ValueError(
                    f"only index='ivf' or 'lsh' can be persisted, got "
                    f"{index!r}"
                )
            if fitted_points is None:
                raise ValueError(
                    "index persistence needs fitted_points (the index is "
                    "built over the persisted prediction reference)"
                )
            # pre-validate the fit metric UP FRONT: the index build runs
            # after every relation and the prediction reference are
            # written, and a late failure there would leave a half-
            # written directory with no meta that load() cannot read
            # (ADVICE r10)
            fit_metric = (self._fit_params or {}).get("metric", "euclidean")
            if fit_metric not in ("euclidean", "cosine"):
                raise ValueError(
                    f"persisted predict index supports euclidean/cosine, "
                    f"but this model was fitted with metric "
                    f"{fit_metric!r}; save without index= and predict "
                    f"through the broadcast path"
                )

        spark = self.labels.sparkSession
        # refresh-in-place guard: a relation loaded FROM this path
        # cannot be overwrite-written to it (Spark truncates the
        # directory its own scan is reading) — materialize the blocks
        # first when any input file lives under the target
        norm = path.rstrip("/")
        cands = {norm, os.path.abspath(norm)}
        # build the prediction reference BEFORE any overwrite: its plan
        # joins labels/outlier_scores/cluster_tree, which the loop below
        # may be about to rewrite in place
        ref = None
        if fitted_points is not None:
            from bubbles.plans.predict import reference_frame

            ref = reference_frame(self, fitted_points, features_col)
            if predict_rows_per_cluster:
                # bounded collect: one row per cluster label (+ noise)
                counts = ref.groupBy("label").count().collect()
                strides = [
                    (
                        int(r["label"]),
                        max(1, -(-int(r["count"]) // predict_rows_per_cluster)),
                    )
                    for r in counts
                ]
                stride_map = spark.createDataFrame(
                    strides, "label long, __stride long"
                )
                ref = (
                    ref.join(F.broadcast(stride_map), on="label")
                    .filter(
                        F.pmod(F.xxhash64("point_id"), F.col("__stride")) == 0
                    )
                    .drop("__stride")
                    .select(
                        "point_id", "features", "label", "core_distance",
                        "birth_level", "death_level",
                    )
                )
            try:
                ref_reads_target = any(
                    norm in f or os.path.abspath(norm) in f
                    for f in ref.inputFiles()
                )
            except Exception:
                ref_reads_target = True
            if ref_reads_target:
                ref = ref.localCheckpoint()
        for name in self._SAVE_RELATIONS:
            rel = getattr(self, name)
            try:
                reads_target = any(
                    f"{c}/{name}" in f for c in cands for f in rel.inputFiles()
                )
            except Exception:
                reads_target = True  # cannot prove safety -> materialize
            if reads_target:
                rel = rel.localCheckpoint()
            rel.write.mode("overwrite").parquet(f"{path}/{name}")
            if reads_target:
                # the overwrite just invalidated the files the model's
                # own attribute scans (and Spark's SESSION-shared file-
                # status cache still lists them): rebind the attribute
                # to the materialized blocks and drop the stale listing
                # so a post-save read can't FILE_NOT_EXIST
                setattr(self, name, rel)
                spark.catalog.refreshByPath(f"{path}/{name}")
        if ref is not None:
            ref.write.mode("overwrite").parquet(f"{path}/predict_reference")
            # same refresh-in-place discipline: a model whose
            # _predict_reference was loaded FROM this path must not
            # keep scanning the pre-overwrite part files (and the
            # index build below re-reads this path immediately)
            spark.catalog.refreshByPath(f"{path}/predict_reference")
            self._predict_reference = spark.read.parquet(
                f"{path}/predict_reference"
            )
        if index is not None:
            from bubbles.plans.predict import (
                build_predict_index,
                build_predict_lsh_index,
            )

            fp = self._fit_params or {}
            # build FROM the parquet just written so the index provably
            # matches the persisted reference (and the build re-reads
            # columnar data, not the join plan)
            build_fn = (
                build_predict_index if index == "ivf" else build_predict_lsh_index
            )
            build_fn(
                spark.read.parquet(f"{path}/predict_reference"),
                f"{path}/predict_index",
                metric=fp.get("metric", "euclidean"),
                **(index_kwargs or {}),
            )
            self._predict_index_path = f"{path}/predict_index"
            self._predict_index_kind = index
            # the artifact at this path just changed — a memoized
            # (meta, centroids) from a previous build MUST NOT serve
            # the next predict (ADVICE r10: stale centroids/scale
            # against the new members parquet would be silently wrong)
            self._predict_index_cache = None
        meta = {
            "n_iterations": int(self.n_iterations),
            "levels_mode": self._levels_mode,
            "fit_params": self._fit_params,
            "predict_reference": ref is not None,
            # the index KIND ("ivf"/"lsh"); pre-r11 metas stored a bool
            # (True meant ivf) — load() accepts both
            "predict_index": index,
            "format_version": 2,
        }
        (
            spark.createDataFrame([(json.dumps(meta),)], "meta string")
            .coalesce(1)
            .write.mode("overwrite")
            .text(f"{path}/meta")
        )

    @classmethod
    def load(cls, spark, path: str) -> "MRHDBSCANModel":
        """Load a model persisted by :meth:`save`.

        Warns at load time that the hierarchy queries are unavailable
        (hierarchy retention is driver state and never persisted) so
        the limitation surfaces here, not at the first
        ``hierarchy_levels()`` call deep in a pipeline."""
        import json
        import warnings

        meta = json.loads(
            spark.read.text(f"{path}/meta").collect()[0]["value"]
        )
        model = cls(
            **{
                name: spark.read.parquet(f"{path}/{name}")
                for name in cls._SAVE_RELATIONS
            },
            n_iterations=int(meta["n_iterations"]),
        )
        model._levels_mode = meta.get("levels_mode", "exact")
        model._spark = spark
        model._fit_params = meta.get("fit_params")
        if meta.get("predict_reference"):
            model._predict_reference = spark.read.parquet(
                f"{path}/predict_reference"
            )
        if meta.get("predict_index"):
            model._predict_index_path = f"{path}/predict_index"
            kind = meta["predict_index"]
            model._predict_index_kind = kind if kind in ("ivf", "lsh") else "ivf"
        warnings.warn(
            "loaded model serves labels/cluster_tree/outlier_scores/"
            "mst_edges but NOT hierarchy_levels or hierarchy_at "
            "(hierarchy retention is driver state and is not persisted); "
            "refit for the hierarchy queries",
            UserWarning,
            stacklevel=2,
        )
        return model


class MRHDBSCAN:
    """df(point_id, features ARRAY<DOUBLE>) → MRHDBSCANModel.

    Parameters mirror the reference CLI (Main.java:417-528):
    min_pts = minPts, min_cluster_size = minClSize, sample_fraction =
    k, max_local_size = processing_units τ, distance = dist_function.
    """

    def __init__(
        self,
        min_pts: int = 4,
        min_cluster_size: int = 4,
        sample_fraction: float = 0.2,
        max_local_size: int = 4096,
        max_samples_per_subset: int = 1024,
        distance: str = "euclidean",
        seed: int = 42,
        max_iterations: int = 20,
        features_col: str = "features",
        id_col: str = "point_id",
        dim: int | None = None,
        recursive_contraction: bool | str = "auto",
        checkpoint_dir: str | None = None,
    ):
        if recursive_contraction not in (True, False, "auto"):
            raise ValueError("recursive_contraction must be True/False/'auto'")
        # recursive (level-2) contraction: re-contract the retained-
        # event graph in a second distributed pass, binned by subset
        # genealogy so cross edges stay intra-bin, before the driver
        # hierarchy build — bounds the driver input to ~O(n/mcl +
        # cross-bin edges) instead of O(retained events) (SCALE.md
        # "distributed structure pass"). 'auto' enables it past
        # _RECURSIVE_MIN_POINTS fitted points; constraints fall back to
        # the single-level path. The level-2 pass contracts with the
        # chain-coalescing kernel (contract_kernel v2).
        self.recursive_contraction = recursive_contraction
        self.min_pts = min_pts
        self.min_cluster_size = min_cluster_size
        self.sample_fraction = sample_fraction
        self.max_local_size = max_local_size
        self.max_samples_per_subset = max_samples_per_subset
        self.distance = distance
        self.seed = seed
        self.max_iterations = max_iterations
        self.features_col = features_col
        self.id_col = id_col
        # feature dimensionality; pass it to skip the one-row probe job
        # at the start of fit (useful when fit is called in a loop)
        self.dim = dim
        # Durable iteration state (SCALE.md "iteration state" row): by
        # default the fit loop cuts lineage with localCheckpoint(),
        # which dies with an executor. With checkpoint_dir set, every
        # loop-level cut becomes a parquet round-trip under that
        # directory (the reference's S3/S4 object-file checkpoints) and
        # a one-row JSON manifest is committed per completed iteration,
        # so a NEW session can call fit() with the same parameters +
        # checkpoint_dir and resume at the last completed iteration
        # boundary with bit-identical results (the sampler orders by
        # xxhash64(id, seed), never by physical row order). Each
        # manifest stores a parameter/input fingerprint; fit() raises
        # instead of resuming when the directory was written by a fit
        # with different parameters or input (clean it between
        # unrelated fits). NOTE: the returned model's relations are
        # lazy plans rooted in the checkpoint parquet — a LATER fit()
        # on the same directory overwrites those files and stales any
        # earlier model handle; materialize (collect/save) a model
        # before re-fitting into its directory.
        self.checkpoint_dir = checkpoint_dir

    # ------------------------------------------------------------------
    def fit(self, df: DataFrame, constraints: DataFrame | None = None) -> MRHDBSCANModel:
        """``constraints``: optional DataFrame(point_a, point_b, kind)
        with kind in ('ml','cl') (X14, 源代码/main/Main.java:590-597
        format); applied during global cluster selection."""
        spark = df.sparkSession
        profile = bool(os.environ.get("SPARK_GRAFT_PROFILE"))
        _t = [time.time()]

        def _tick(phase: str):
            # per-phase wall timing (SPARK_GRAFT_PROFILE=1): every
            # printed phase ends on a Spark action, so the elapsed time
            # is real work, not lazy-plan construction
            if profile:
                now = time.time()
                print(f"## fit {phase}: {now - _t[0]:.2f}s", file=sys.stderr)
                _t[0] = now

        dim = self.dim or len(df.select(self.features_col).first()[0])
        par = spark.sparkContext.defaultParallelism
        ckdir = self.checkpoint_dir

        # set True once a fingerprint-matched resume loads (and no
        # constraints are in play — they are not fingerprinted and can
        # change a contraction cut's content between runs)
        reuse_cuts = [False]

        def _cut(d: DataFrame, name: str) -> DataFrame:
            # loop-level lineage cut: in-session by default, durable
            # parquet round-trip when checkpoint_dir is set. On a
            # fingerprint-matched RESUME, a cut that the interrupted
            # run COMPLETED (its _SUCCESS marker exists) is read back
            # instead of recomputed — the whole fit is deterministic
            # from the durable boundary state, so the content is
            # bit-identical, and this is what lets a kill INSIDE the
            # global step restart from the durable contraction cut
            # rather than refitting that step.
            if ckdir is None:
                return d.localCheckpoint()
            path = f"{ckdir}/{name}"
            if reuse_cuts[0] and _hadoop_exists(spark, f"{path}/_SUCCESS"):
                return spark.read.parquet(path)
            return checkpoint_parquet(d, path)

        fingerprint = None
        if ckdir is not None:
            # identity of this fit (round-8 ADVICE): resuming a
            # checkpoint written under different parameters or input
            # would silently produce wrong clusters, so every manifest
            # stores this dict and fit() RAISES on mismatch instead of
            # resuming. The df.count() is one extra scan, paid only in
            # durable mode where every loop cut is already a parquet
            # round-trip.
            fingerprint = {
                "min_pts": self.min_pts,
                "min_cluster_size": self.min_cluster_size,
                "sample_fraction": self.sample_fraction,
                "max_local_size": self.max_local_size,
                "max_samples_per_subset": self.max_samples_per_subset,
                "distance": self.distance,
                "seed": self.seed,
                "max_iterations": self.max_iterations,
                "recursive_contraction": self.recursive_contraction,
                # presence only (pair content is not hashed): a
                # constraints run and a non-constraints run must never
                # resume each other — the global step differs, and the
                # cut-reuse fast path below is only safe without
                # constraints
                "has_constraints": constraints is not None,
                "n_rows": df.count(),
            }
        resume = _load_fit_manifest(spark, ckdir) if ckdir else None
        if resume is not None:
            import warnings

            stored = resume.get("fingerprint")
            if stored != fingerprint:
                raise ValueError(
                    f"checkpoint_dir {ckdir!r} holds a fit manifest with a "
                    f"different parameter/input fingerprint — refusing to "
                    f"resume incompatible state (clean the directory, or "
                    f"rerun with the original parameters and input). "
                    f"stored={stored!r} current={fingerprint!r}"
                )
            warnings.warn(
                f"resuming fit from {ckdir} at iteration "
                f"{resume['iteration']} (clean the directory to start "
                "fresh)",
                RuntimeWarning,
                stacklevel=2,
            )
            # fingerprint matched: completed cuts on disk are
            # bit-identical to what this run would recompute — unless
            # constraints (not fingerprinted) could change the global
            # step's cut content
            reuse_cuts[0] = constraints is None
            current = spark.read.parquet(f"{ckdir}/{resume['current_name']}")
            # same width guard as the fresh path: a checkpoint written
            # small (or from a narrower session) must not pin every
            # downstream per-point stage to 1-2 partitions
            if current.rdd.getNumPartitions() < par:
                current = current.repartition(par)
            _tick(f"resume load (iteration {resume['iteration']})")
        else:
            current = df.select(
                F.col(self.id_col).cast("long").alias("point_id"),
                F.col(self.features_col).cast("array<double>").alias("features"),
                F.lit(0).cast("long").alias("subset_id"),
            )
            # A small input arrives in fewer splits than cores (one parquet
            # file = 1-2 splits) and every per-point stage downstream —
            # assignment mapInPandas, aggregation partials — inherits that
            # width. Widen once; at scale the split count already exceeds
            # the core count and this is a no-op (the getNumPartitions read
            # is driver-side plan inspection, no job).
            if current.rdd.getNumPartitions() < par:
                current = current.repartition(par)
            current = _cut(current, "ingest_current")
            # durable mode re-reads the cut as parquet, which may
            # arrive in fewer splits than cores (maxPartitionBytes on
            # a small relation) — re-apply the width guard so every
            # per-point stage keeps its parallelism. Deterministic
            # (round-robin repartition local-sorts first), and the
            # resume path applies the identical guard, so interrupted
            # and uninterrupted durable runs stay bit-identical.
            if current.rdd.getNumPartitions() < par:
                current = current.repartition(par)
            _tick("ingest checkpoint")

        exact_kernel = _make_exact_edges_kernel_binned(self.min_pts, self.distance)
        model_kernel = _make_local_model_kernel(
            self.min_pts, self.min_cluster_size, self.distance, self.max_local_size
        )

        leaf_parts: list[DataFrame] = []  # (subset_id, src, dst, weight)
        cross_parts: list[DataFrame] = []  # (creator, src, dst, weight)
        leaf_names: list[str] = []  # durable-mode parquet names
        cross_names: list[str] = []
        stalls: dict[int, int] = {0: 0}
        next_subset_id = 1
        iteration = 0
        n_leaf_subsets = 0
        # subset genealogy for the recursive-contraction binning:
        # parent_of[child] = the subset whose bubble model spawned it;
        # leaf_size[s] = point count when s went to the exact-leaf path
        parent_of: dict[int, int] = {}
        leaf_size: dict[int, int] = {}
        if resume is not None:
            leaf_names = list(resume["leaf_names"])
            cross_names = list(resume["cross_names"])
            leaf_parts = [
                spark.read.parquet(f"{ckdir}/{n}") for n in leaf_names
            ]
            cross_parts = [
                spark.read.parquet(f"{ckdir}/{n}") for n in cross_names
            ]
            stalls = resume["stalls"]
            next_subset_id = int(resume["next_subset_id"])
            iteration = int(resume["iteration"])
            n_leaf_subsets = int(resume["n_leaf_subsets"])
            parent_of = resume["parent_of"]
            leaf_size = resume["leaf_size"]

        def _filter_subsets(df, ids):
            # a literal isin() list blows up the plan once subsets are
            # many; broadcast-join a tiny id relation instead
            if len(ids) <= 32:
                return df.filter(F.col("subset_id").isin([int(x) for x in ids]))
            id_df = spark.createDataFrame(
                [(int(x),) for x in ids], schema="subset_id long"
            )
            return df.join(F.broadcast(id_df), on="subset_id", how="left_semi")

        while True:
            # toArrow, not collect(): driver-side materializations in
            # this loop scale with the SUBSET count (143k rows at 6M
            # points) and Arrow is the only collect path that doesn't
            # depend on the caller session's arrow.pyspark.enabled conf
            # (default FALSE in Spark 4 — row-pickle collect of the 5.5M
            # reduced events measured 45 s vs ~5 s via Arrow)
            _sz = (
                current.groupBy("subset_id")
                .agg(F.count("*").alias("cnt"))
                .toArrow()
            )
            sizes = dict(
                zip(
                    (int(x) for x in _sz.column("subset_id").to_pylist()),
                    (int(x) for x in _sz.column("cnt").to_pylist()),
                )
            )
            _tick(f"it{iteration} sizes ({len(sizes)} subsets)")
            if profile:
                top = sorted(sizes.values(), reverse=True)[:12]
                sq = sorted(sizes.values())
                n_s = len(sq)
                qs = [sq[int(q * (n_s - 1))] for q in (0.0, 0.25, 0.5, 0.75, 1.0)]
                # O(c²) kernel-work proxy: sum of squared subset sizes
                work = sum(c * c for c in sq)
                at_cap = sum(1 for c in sq if c > self.max_local_size * 0.95)
                print(
                    f"##   sizes: n={sum(sizes.values())} subsets={n_s} "
                    f"q={qs} at_cap={at_cap} sum_sq={work:.3g} top12={top}",
                    file=sys.stderr,
                )
            force_exact = iteration >= self.max_iterations
            small = [
                s
                for s, c in sizes.items()
                if c <= self.max_local_size or stalls.get(s, 0) >= 2 or force_exact
            ]
            # hoist the set OUT of the comprehension: `if s not in
            # set(small)` re-builds it per element — O(|sizes|·|small|)
            # driver CPU, measured 100%-driver / 0%-executor for ~700 s
            # at 6M points (143 733 leaf subsets at iteration 2) while
            # being invisible at 600k (476 subsets)
            small_set = set(small)
            big = [s for s in sizes if s not in small_set]

            if small:
                # pin the kernel stage's width with an explicit
                # repartition (REPARTITION_BY_NUM — AQE never coalesces
                # it): the O(m²) MST kernels are CPU-bound on a few MB
                # of rows, and byte-based AQE coalescing otherwise
                # merges the whole stage into one task (measured 7.4s →
                # 1.6s at sf0.01).
                # Work balance: the driver already holds every subset's
                # size, and kernel cost is O(c²) — hashing subset_id
                # lets the ~1 s cap-sized subsets collide in one task
                # while quartile-sized ones finish in 10 ms (sf0.1
                # lineitem: 29 of 476 subsets at the 4096 cap, stage
                # 9.7 s). Instead, LPT-pack subsets into 2·cores bins
                # by c², then PLACE each bin in its own partition via a
                # representative long whose Murmur3 hash mod n_bins is
                # that partition (driver-predicted, no job — see
                # _murmur3_32_long). groupBy(__bin) matches the
                # repartition key exactly, so no re-shuffle. Measured
                # 9.7 s → ~4 s on the same stage.
                n_bins = 2 * min(par, len(small))
                reps = _partition_reps(n_bins)
                work = {s: float(sizes[s]) ** 2 for s in small}
                bin_of = _lpt_bins(small, work, n_bins)
                # ship the (subset -> bin-representative) assignment as
                # a broadcast INNER join, not a literal create_map: at
                # ~750 subsets the 1500-literal map made Catalyst
                # planning/codegen the stage's dominant cost (kernels
                # occupied only the last ~2.5 s of an 8.2 s stage on
                # Skin), and element_at on a literal map is a linear
                # scan per row besides. The inner join also subsumes
                # the small-subset filter.
                bin_df = spark.createDataFrame(
                    [(int(s), int(reps[bin_of[s]])) for s in small],
                    schema="subset_id long, __bin long",
                )
                small_df = current.join(F.broadcast(bin_df), on="subset_id")
                # groupBy __bin ONLY: the binned kernel loops member
                # subsets internally, so pandas-group dispatch scales
                # with bins (~2x cores), not subsets (266k at 19.8M
                # pts — profiled 118 s of pure dispatch before this)
                edges = (
                    small_df.repartition(n_bins, "__bin")
                    .groupBy("__bin")
                    .applyInPandas(exact_kernel, schema=_EDGE_SCHEMA)
                )
                leaf_name = f"it{iteration:05d}_leaves"
                leaf_parts.append(_cut(edges, leaf_name))
                leaf_names.append(leaf_name)
                n_leaf_subsets += len(small)
                for s in small:
                    leaf_size[int(s)] = int(sizes[s])
                _tick(f"it{iteration} exact leaves ({len(small)} subsets)")
            if not big:
                break

            big_df = _filter_subsets(current, big)
            big_total = sum(sizes[s] for s in big)
            if big_total * 2 < sum(sizes.values()):
                # the sampler + assignment together make several passes
                # over big_df; once the big subsets are a minority of
                # the data, one materialization pays for itself (each
                # later pass scans big_total rows instead of the whole
                # checkpointed relation)
                big_df = _cut(big_df, f"it{iteration:05d}_big")
                _tick(f"it{iteration} big checkpoint ({big_total} pts)")
            # the sizes agg above already counted every subset — hand
            # the per-key counts to the sampler instead of letting it
            # re-scan big_df for them (driver-bounded: one row per big
            # subset)
            counts_df = spark.createDataFrame(
                [(int(s), int(sizes[s])) for s in big],
                schema="subset_id long, __n long",
            )
            samples = stratified_sample_exact(
                big_df,
                "subset_id",
                self.sample_fraction,
                seed=self.seed + iteration,
                max_per_key=min(self.max_samples_per_subset, self.max_local_size),
                # scale rule for the sample width: a subset of c points
                # must fan out into >= 2c/max_local_size bubbles or its
                # children come back above the local cap and force
                # another sampling round. With the flat user cap alone,
                # a 6M-point iteration-0 subset sampled at 768 produced
                # ~7.8k-point bubbles -> 143k-subset fragmentation at
                # iteration 2 and a barely-contractible global graph
                # (5.5M retained events). The floor is inert below
                # max_samples_per_subset·max_local_size/2 points (e.g.
                # 1.57M at the 768/4096 bench config).
                min_ratio=2.0 / self.max_local_size,
                ratio_cap=self.max_local_size,
                counts=counts_df,
            )
            # driver-bounded sample collect (the reference ships samples
            # in the FirstStep closure the same way, Main.java:140-169);
            # Arrow path + vectorized packing (row-pickle collect of
            # 283k feature rows was multi-second at 6M points)
            spdf = (
                samples.select("subset_id", "sample_ord", "point_id", "features")
                .toArrow()
                .to_pandas()
            )
            _tick(f"it{iteration} sample collect ({len(spdf)} rows)")
            spdf = spdf.sort_values(["subset_id", "sample_ord"], kind="mergesort")
            packed = {}
            for s, grp in spdf.groupby("subset_id", sort=False):
                packed[int(s)] = (
                    grp["point_id"].to_numpy(np.int64),
                    np.array([np.asarray(f, dtype=np.float64) for f in grp["features"]]),
                )
            _bcs: list = []
            assigned = _cut(
                nearest_representative_bulk(
                    big_df, packed, metric=self.distance, bc_out=_bcs
                ),
                f"it{iteration:05d}_assign",
            )
            # the cut materialized the assignment, so the per-iteration
            # sample broadcast (up to ~GB at wide samples) is dead —
            # destroy it instead of letting one accumulate per
            # iteration for the fit's lifetime
            for _b in _bcs:
                _b.destroy()
            _tick(f"it{iteration} assign checkpoint")
            bubbles = bubble_aggregate(assigned, dim)
            model_out = _cut(
                bubbles.repartition(2 * min(par, len(big)), "subset_id")
                .groupBy("subset_id")
                .applyInPandas(model_kernel, schema=_MODEL_SCHEMA),
                f"it{iteration:05d}_model",
            )
            _tick(f"it{iteration} bubble model")
            cross_part = model_out.filter(F.col("kind") == 1).select(
                F.col("subset_id").alias("creator"),
                F.col("a").alias("src"),
                F.col("b").alias("dst"),
                F.col("w").alias("weight"),
            )
            if ckdir is not None:
                # cut explicitly so resume can reload cross edges
                # without replaying the model filter over it*_model
                cross_name = f"it{iteration:05d}_cross"
                cross_part = _cut(cross_part, cross_name)
                cross_names.append(cross_name)
            cross_parts.append(cross_part)
            bubble_labels = model_out.filter(F.col("kind") == 0).select(
                "subset_id", F.col("a").alias("bubble_id"), F.col("b").alias("label")
            )
            # induce fresh global subset ids (reference Main.java:272-290
            # does the same renumbering on the driver)
            _pt = (
                bubble_labels.select("subset_id", "label").distinct().toArrow()
            )
            pairs = sorted(
                zip(
                    (int(x) for x in _pt.column("subset_id").to_pylist()),
                    (int(x) for x in _pt.column("label").to_pylist()),
                )
            )
            _tick(f"it{iteration} relabel distinct")
            mapping = []
            new_stalls: dict[int, int] = {}
            per_parent: dict[int, int] = {}
            for sid, _lbl in pairs:
                per_parent[sid] = per_parent.get(sid, 0) + 1
            for sid, lbl in pairs:
                nid = next_subset_id
                next_subset_id += 1
                mapping.append((sid, lbl, nid))
                parent_of[nid] = sid
                parent_stall = stalls.get(sid, 0)
                new_stalls[nid] = parent_stall + 1 if per_parent[sid] == 1 else 0
            stalls = new_stalls
            map_df = spark.createDataFrame(
                mapping, schema="subset_id long, label long, new_subset_id long"
            )
            # relabel has one row per BUBBLE (>> len(mapping), which
            # counts new SUBSETS) — bound it by the per-subset sample
            # cap the sampler enforces (the width floor can raise the
            # flat cap up to max_local_size) so the broadcast hint is
            # gated on what is actually shipped
            relabel = _relabel_join(
                bubble_labels,
                map_df,
                len(mapping),
                n_bubbles_max=len(big) * self.max_local_size,
            )
            current = _cut(
                assigned.join(relabel, on=["subset_id", "bubble_id"]).select(
                    "point_id",
                    "features",
                    F.col("new_subset_id").alias("subset_id"),
                ),
                f"it{iteration:05d}_current",
            )
            # same width guard as ingest (durable parquet re-read can
            # narrow; no-op for localCheckpoint)
            if current.rdd.getNumPartitions() < par:
                current = current.repartition(par)
            _tick(f"it{iteration} relabel checkpoint")
            if ckdir is not None:
                # commit the completed iteration: everything the loop
                # needs to restart from this boundary in a new session
                _write_fit_manifest(
                    spark,
                    ckdir,
                    {
                        "iteration": iteration + 1,
                        "fingerprint": fingerprint,
                        "current_name": f"it{iteration:05d}_current",
                        "leaf_names": leaf_names,
                        "cross_names": cross_names,
                        "stalls": stalls,
                        "parent_of": parent_of,
                        "leaf_size": leaf_size,
                        "next_subset_id": next_subset_id,
                        "n_leaf_subsets": n_leaf_subsets,
                    },
                )
            iteration += 1

        if not leaf_parts:
            # empty input: a well-formed empty model (degenerate-input
            # contract — callers compose fit() into pipelines where an
            # upstream filter may legitimately leave nothing)
            model = MRHDBSCANModel(
                labels=spark.createDataFrame([], "point_id long, label long"),
                cluster_tree=spark.createDataFrame(
                    [],
                    "label long, parent long, birth_level double, "
                    "death_level double, stability double, n_points double",
                ),
                outlier_scores=spark.createDataFrame(
                    [], "point_id long, score double, core_distance double"
                ),
                mst_edges=spark.createDataFrame(
                    [], "src long, dst long, weight double"
                ),
                n_iterations=iteration,
            )
            model._spark = spark
            model._fit_params = {"min_pts": self.min_pts, "metric": self.distance}
            return model
        leaf_edges = leaf_parts[0]
        for e in leaf_parts[1:]:
            leaf_edges = leaf_edges.unionByName(e)
        cross_edges = None
        if cross_parts:
            cross_edges = cross_parts[0]
            for e in cross_parts[1:]:
                cross_edges = cross_edges.unionByName(e)
            cross_edges = _cut(cross_edges, "merged_cross")

        constr = None
        if constraints is not None:
            constr = [
                (r["kind"], int(r["point_a"]), int(r["point_b"]))
                for r in constraints.select("kind", "point_a", "point_b").collect()
            ]
            bad_kinds = {k for k, _, _ in constr} - {"ml", "cl"}
            if bad_kinds:
                raise ValueError(
                    f"constraint kind must be 'ml' or 'cl', got {sorted(bad_kinds)}"
                )
        use_recursive = (
            self.recursive_contraction is True
            or (
                self.recursive_contraction == "auto"
                and sum(leaf_size.values()) >= _RECURSIVE_MIN_POINTS
            )
        ) and constr is None and cross_edges is not None
        if self.recursive_contraction is True and constr is not None:
            import warnings

            warnings.warn(
                "recursive_contraction=True downgraded to the "
                "single-level contraction: the recursive pass does "
                "not support constraints",
                RuntimeWarning,
                stacklevel=3,
            )
        if cross_edges is not None:
            cross_edges = cross_edges.drop("creator")
        if use_recursive:
            return self._global_step_recursive(
                spark,
                leaf_edges,
                cross_edges,
                iteration,
                parent_of,
                leaf_size,
                tick=_tick,
                n_subsets=n_leaf_subsets,
                cut=_cut,
            )
        return self._global_step_contracted(
            spark,
            leaf_edges,
            cross_edges,
            iteration,
            constr,
            tick=_tick,
            n_subsets=n_leaf_subsets,
            cut=_cut,
        )

    # ------------------------------------------------------------------
    def _global_step_contracted(
        self,
        spark,
        leaf_edges: DataFrame,
        cross_edges,
        iteration,
        constraints=None,
        tick=lambda phase: None,
        n_subsets: int | None = None,
        cut=None,
    ) -> MRHDBSCANModel:
        """Scale path for Stage C/D (SCALE.md global-step analysis,
        replacing the reference's all-edges driver collect,
        源代码/main/Main.java:350-411): per-subset merge forests are
        contracted distributively (``contract_kernel``), the driver
        builds the hierarchy over retained events + cross edges only,
        and per-point labels/noise/GLOSH come back through ONE join
        (broadcast under ``_broadcast_cap``) against the distributed
        membership relation — no O(n) collect anywhere."""
        from bubbles.kernels.contract_kernel import (
            CONTRACT_SCHEMA,
            make_contract_kernel,
        )

        if cross_edges is not None:
            # driver-bounded: one row per inter-cluster edge (O(#bubbles))
            cpdf = cross_edges.toArrow().to_pandas()
        else:
            cpdf = pd.DataFrame({"src": [], "dst": [], "weight": []})
        boundary = frozenset(map(int, cpdf["src"])) | frozenset(
            map(int, cpdf["dst"])
        )
        bc = spark.sparkContext.broadcast(boundary)
        par = spark.sparkContext.defaultParallelism
        width = 2 * (par if n_subsets is None else min(par, max(1, n_subsets)))
        phase1 = (
            # explicit width pin for the same reason as the leaf-kernel
            # stage: the contraction replay is CPU-bound per subset and
            # must not be AQE-coalesced into one task — but no wider
            # than ~2x the subset count (empty Python tasks still pay
            # the dispatch floor)
            leaf_edges.repartition(width, "subset_id")
            .groupBy("subset_id")
            .applyInPandas(
                make_contract_kernel(bc, self.min_cluster_size),
                schema=CONTRACT_SCHEMA,
            )
        )
        phase1 = _cut_or_local(phase1, "global_contract", cut)
        tick("global contract checkpoint")
        membership = phase1.filter(F.col("kind") == 0).select(
            F.col("a").alias("point_id"),
            F.col("b").alias("rep_id"),
            F.col("w").alias("core_distance"),
        )
        # Arrow collect: the reduced-event relation is the one driver
        # materialization that scales with retained events (5.5M rows
        # at 6M points / mcl=2000) — row-pickle collect measured 45 s
        # vs ~5 s on the Arrow path
        red = phase1.filter(F.col("kind") > 0).toArrow().to_pandas()
        tick(f"global reduced collect ({len(red)} rows)")
        rep_constraints = None
        if constraints:
            cpoints = sorted(
                {int(a) for _, a, _ in constraints} | {int(b) for _, _, b in constraints}
            )
            rep_of = {
                int(r["point_id"]): int(r["rep_id"])
                for r in membership.filter(
                    F.col("point_id").isin(cpoints)
                ).collect()
            }
            rep_constraints = [
                (k, rep_of[int(a)], rep_of[int(b)])
                for k, a, b in constraints
                if int(a) in rep_of and int(b) in rep_of
            ]
        res, verts = _reduced_hierarchy(
            red,
            cpdf["src"].to_numpy(np.int64),
            cpdf["dst"].to_numpy(np.int64),
            cpdf["weight"].to_numpy(np.float64),
            self.min_cluster_size,
            rep_constraints,
        )
        tick(f"global hierarchy ({len(verts)} verts)")
        reps = _broadcast_if_small(
            spark, _rep_frame(spark, "rep_id", verts, res), len(verts)
        )
        return self._model(
            spark, membership, reps, res, verts, leaf_edges, cross_edges, iteration
        )

    # ------------------------------------------------------------------
    def _global_step_recursive(
        self,
        spark,
        leaf_edges: DataFrame,
        cross_edges: DataFrame,
        iteration,
        parent_of: dict[int, int],
        leaf_size: dict[int, int],
        tick=lambda phase: None,
        n_subsets: int | None = None,
        cut=None,
    ) -> MRHDBSCANModel:
        """Recursive (two-level) contraction — the distributed
        structure pass SCALE.md's global-step analysis calls for past
        ~10M points. Level 1 contracts each leaf subset's merge forest
        as in ``_global_step_contracted`` but tags rows with the
        producing subset; level 2 groups the retained events by
        genealogy bin (whole subtrees of the subset-recursion tree, so
        cross edges created inside a bin's subtree stay local), joins
        in the bin's intra-bin cross edges, and re-contracts with the
        chain-coalescing kernel against the tiny cross-BIN boundary.
        The driver then builds the exact hierarchy over second-level
        retained events + cross-bin edges only — O(n/mcl + cross-bin)
        rows instead of O(retained events) — and labels/noise/GLOSH
        come back through rep-space joins (one broadcast join over the
        level-1 retained relation + the usual membership join), never
        an O(n) collect."""
        from bubbles.kernels.contract_kernel import (
            CONTRACT2_SCHEMA,
            CONTRACT_TAGGED_SCHEMA,
            make_bin_contract_kernel,
            make_contract_kernel_tagged,
        )

        import pyarrow as pa

        cpdf = cross_edges.toArrow().to_pandas()  # src,dst,weight
        boundary1 = frozenset(map(int, cpdf["src"])) | frozenset(
            map(int, cpdf["dst"])
        )
        bc1 = spark.sparkContext.broadcast(boundary1)
        par = spark.sparkContext.defaultParallelism
        # hash-bin dispatch: pandas-group cost must scale with bins
        # (~2x cores), never with the leaf-subset count (957k at 40M
        # points — per-subset grouping measured ~150 s of dispatch);
        # the kernel loops member subsets inside each group. Hash
        # placement (vs LPT) is fine here: contraction work is
        # O(E log E) per subset, far flatter than the leaf kernel's
        # O(c^2).
        nbins1 = 2 * (par if n_subsets is None else min(par, max(1, n_subsets)))
        # place each hash bin in its own partition via Murmur3
        # representatives (as the leaf-kernel stage does): a raw
        # pmod(hash) bin value would itself be re-hashed by the
        # exchange and collide, leaving some tasks with 2-3 bins and
        # others empty
        creps = _partition_reps(nbins1)
        phase1 = (
            leaf_edges.withColumn(
                "__cbin",
                F.element_at(
                    F.array(*[F.lit(int(r)) for r in creps]),
                    (F.pmod(F.xxhash64("subset_id"), F.lit(nbins1)) + 1).cast(
                        "int"
                    ),
                ),
            )
            .repartition(nbins1, "__cbin")
            .groupBy("__cbin")
            .applyInPandas(
                make_contract_kernel_tagged(bc1, self.min_cluster_size),
                schema=CONTRACT_TAGGED_SCHEMA,
            )
        )
        phase1 = _cut_or_local(phase1, "global_contract_l1", cut)
        tick("global contract checkpoint (level 1)")
        membership = phase1.filter(F.col("kind") == 0).select(
            F.col("a").alias("point_id"),
            F.col("b").alias("rep_id"),
            F.col("w").alias("core_distance"),
        )

        # endpoint -> leaf subset, via one broadcast join over the
        # level-1 membership rows (result is O(#cross edges), tiny);
        # Arrow both ways — python row lists measured seconds at 1.25M
        # endpoints
        eps = np.fromiter(boundary1, np.int64, len(boundary1))
        ep_df = spark.createDataFrame(pa.table({"a": pa.array(eps, pa.int64())}))
        sub_pdf = (
            phase1.filter(F.col("kind") == 0)
            .join(F.broadcast(ep_df), on="a")
            .select("a", "subset_id")
            .toArrow()
            .to_pandas()
        )
        sub_map = pd.Series(
            sub_pdf["subset_id"].to_numpy(np.int64),
            index=sub_pdf["a"].to_numpy(np.int64),
        )
        src_sub = cpdf["src"].map(sub_map)
        dst_sub = cpdf["dst"].map(sub_map)
        known = src_sub.notna() & dst_sub.notna()
        leaf_bin, n_bins = _genealogy_bins(
            parent_of,
            leaf_size,
            2 * par,
            affinity=list(
                zip(
                    src_sub[known].astype(np.int64),
                    dst_sub[known].astype(np.int64),
                )
            ),
        )
        tick(f"global bin map ({len(sub_pdf)} endpoints, {n_bins} bins)")
        bin_items = sorted(leaf_bin.items())
        bin_df = spark.createDataFrame(
            pa.table(
                {
                    "subset_id": pa.array([s for s, _ in bin_items], pa.int64()),
                    "__gbin": pa.array([b for _, b in bin_items], pa.int64()),
                }
            )
        )
        retained = (
            phase1.filter(F.col("kind") > 0)
            .join(F.broadcast(bin_df), on="subset_id")
            .select("__gbin", "kind", "a", "b", "w")
        )
        # route the (driver-resident, O(#bubbles)) cross edges by their
        # endpoints' bins: same bin -> injected into that bin's level-2
        # graph; spanning two bins -> straight to the driver. Any
        # routing is CORRECT (driver-routed edges just mark their
        # endpoints boundary); unknown endpoints fall back to the
        # driver rather than failing the fit.
        bin_map = pd.Series(
            [b for _, b in bin_items],
            index=np.array([s for s, _ in bin_items], np.int64),
        )
        src_bin = src_sub.map(bin_map)
        dst_bin = dst_sub.map(bin_map)
        intra = src_bin.notna() & dst_bin.notna() & (src_bin == dst_bin)
        xsrc = cpdf["src"][~intra].to_numpy(np.int64)
        xdst = cpdf["dst"][~intra].to_numpy(np.int64)
        xw = cpdf["weight"][~intra].to_numpy(np.float64)
        n_intra = int(intra.sum())
        if n_intra:
            retained = retained.unionByName(
                spark.createDataFrame(
                    pa.table(
                        {
                            "__gbin": pa.array(
                                src_bin[intra].to_numpy(np.int64), pa.int64()
                            ),
                            "kind": pa.array(
                                np.ones(n_intra, np.int32), pa.int32()
                            ),
                            "a": pa.array(
                                cpdf["src"][intra].to_numpy(np.int64), pa.int64()
                            ),
                            "b": pa.array(
                                cpdf["dst"][intra].to_numpy(np.int64), pa.int64()
                            ),
                            "w": pa.array(
                                cpdf["weight"][intra].to_numpy(np.float64),
                                pa.float64(),
                            ),
                        }
                    )
                )
            )
        tick(
            f"global cross-edge routing ({len(xsrc)} cross-bin / "
            f"{len(cpdf)} total)"
        )
        bc2 = spark.sparkContext.broadcast(frozenset(xsrc) | frozenset(xdst))
        phase2 = (
            retained.repartition(n_bins, "__gbin")
            .groupBy("__gbin")
            .applyInPandas(
                make_bin_contract_kernel(bc2, self.min_cluster_size),
                schema=CONTRACT2_SCHEMA,
            )
        )
        phase2 = _cut_or_local(phase2, "global_contract_l2", cut)
        tick(f"global contract checkpoint (level 2, {n_bins} bins)")
        m2 = phase2.filter(F.col("kind") == 0).select(
            F.col("a").alias("rep_id"),
            F.col("b").alias("rep2"),
            F.col("w2").alias("detach"),
        )
        red = phase2.filter(F.col("kind") > 0).toArrow().to_pandas()
        tick(f"global reduced collect ({len(red)} rows)")
        res, verts = _reduced_hierarchy(red, xsrc, xdst, xw, self.min_cluster_size)
        tick(f"global hierarchy ({len(verts)} verts)")
        # per-rep1 relation: join the small level-2 table over the
        # distributed level-1 membership; chunk members carry their
        # true detach weight as the noise level (contract_kernel v2
        # exactness contract)
        rep2_df = _broadcast_if_small(
            spark, _rep_frame(spark, "rep2", verts, res), len(verts)
        )
        rep1_df = m2.join(rep2_df, on="rep2").select(
            "rep_id",
            "label",
            _detach_gate("noise_level").alias("noise_level"),
            "eps_max",
        )
        # sized by the level-1 retained-vertex count (cheap count on a
        # checkpoint)
        rep1_df = _broadcast_if_small(spark, rep1_df, m2.count())
        model = self._model(
            spark, membership, rep1_df, res, verts, leaf_edges, cross_edges, iteration
        )
        # point -> level-2 representative composition (kept for model
        # introspection; the hierarchy queries replay from the two
        # pieces below instead)
        model._membership = membership.join(
            m2.select("rep_id", "rep2"), on="rep_id"
        ).select("point_id", F.col("rep2").alias("rep_id"), "core_distance")
        # the two durable pieces hierarchy_at(eps) replays a single
        # level from: point -> level-1 rep (exact trajectory sharing)
        # and level-1 rep -> (level-2 chunk, exact detach weight)
        model._membership_l1 = membership
        model._l2 = m2.select("rep_id", "rep2", "detach")
        model._levels_mode = "recursive"
        return model

    def _model(
        self, spark, membership, reps, res, verts, leaf_edges, cross_edges, iteration
    ) -> MRHDBSCANModel:
        """The tail both global steps share: per-point labels and GLOSH
        through ONE join of the distributed membership (point_id,
        rep_id, core_distance) with the per-representative ``reps``
        (rep_id, label, noise_level, eps_max) — contracted members
        share their representative's noise level and deepest cluster
        exactly — plus the hierarchy retention state."""
        joined = membership.join(reps, on="rep_id")
        # GLOSH (HDBSCANStar.java:653-686): 1 - eps_max / noise level
        scores_df = joined.select(
            "point_id",
            F.when(
                F.col("noise_level") > 0,
                F.lit(1.0) - F.col("eps_max") / F.col("noise_level"),
            )
            .otherwise(F.lit(0.0))
            .alias("score"),
            "core_distance",
        )
        # every mode stores the same leaf ∪ cross edge relation
        all_edges = leaf_edges.drop("subset_id")
        if cross_edges is not None:
            all_edges = all_edges.unionByName(cross_edges)
        model = MRHDBSCANModel(
            labels=joined.select("point_id", "label"),
            cluster_tree=_tree_df(spark, res),
            outlier_scores=scores_df,
            mst_edges=all_edges,
            n_iterations=iteration,
        )
        model._hier = (res, verts)
        model._membership = membership
        model._spark = spark
        model._fit_params = {"min_pts": self.min_pts, "metric": self.distance}
        return model


def _broadcast_cap(master: str) -> int:
    """Row count up to which a driver-built frame is joined with a
    broadcast hint. Past ~2M rows (≈80 MB) a broadcast stresses every
    executor's memory and a shuffle join is the right plan; in local
    mode the "broadcast" lives in the one shared JVM heap, so the
    cheap path stays cheap much longer."""
    return 8_000_000 if master.startswith("local") else 2_000_000


def _broadcast_if_small(spark, df: DataFrame, n_rows: int) -> DataFrame:
    if n_rows <= _broadcast_cap(spark.sparkContext.master):
        return F.broadcast(df)
    return df


def _detach_gate(noise_col: str):
    """A level-1 representative's noise level under recursive
    contraction: its exact detach weight, or — NaN/NULL detach — its
    level-2 vertex's noise level ``noise_col``."""
    return (
        F.when(F.col("detach").isNull() | F.isnan("detach"), F.col(noise_col))
        .otherwise(F.col("detach"))
    )


def _reduced_hierarchy(
    red: pd.DataFrame, xsrc, xdst, xw, min_cluster_size, constraints=None
):
    """Driver hierarchy over a collected reduced relation plus the
    cross edges routed straight to the driver. ``red`` rows: kind 1 =
    edge (a, b, w); kind 2 = vertex a of mass w; kind 3 = vertex a's
    pre-aggregated stability credit w (chain-coalesced vertices only).
    ``constraints``: (kind, rep_a, rep_b) in representative ids.
    Returns (HierarchyResult, verts), verts the sorted vertex ids."""
    e1 = red[red["kind"] == 1]
    src = np.concatenate([e1["a"].to_numpy(np.int64), np.asarray(xsrc, np.int64)])
    dst = np.concatenate([e1["b"].to_numpy(np.int64), np.asarray(xdst, np.int64)])
    wts = np.concatenate([e1["w"].to_numpy(np.float64), np.asarray(xw, np.float64)])
    # kind-2 vertex-weight rows can name vertices that touch no edge
    # (an n=1 subset has a representative but no MST edge); they must
    # still exist in the hierarchy as isolated noise
    v2 = red[red["kind"] == 2]
    v2_ids = v2["a"].to_numpy(np.int64)
    verts = np.unique(np.concatenate([src, dst, v2_ids]))
    # vectorized global-id -> local-index remap: verts is sorted and
    # every endpoint is present, so searchsorted IS the lookup (a dict
    # + per-element genexp was several seconds of driver CPU at 3M
    # reduced edges / 1.5M verts)
    lu = np.searchsorted(verts, src)
    lv = np.searchsorted(verts, dst)
    vw = np.ones(len(verts))
    vw[np.searchsorted(verts, v2_ids)] = v2["w"].to_numpy(np.float64)
    k3 = red[red["kind"] == 3]
    vertex_credit = None
    if len(k3):
        vertex_credit = np.full(len(verts), np.nan)
        vertex_credit[
            np.searchsorted(verts, k3["a"].to_numpy(np.int64))
        ] = k3["w"].to_numpy(np.float64)
    local_constraints = None
    if constraints:
        local_constraints = [
            (k, int(np.searchsorted(verts, a)), int(np.searchsorted(verts, b)))
            for k, a, b in constraints
        ]
    res = hk.build_hierarchy(
        lu, lv, wts, vw, min_cluster_size,
        constraints=local_constraints, vertex_credit=vertex_credit,
    )
    return res, verts


def _rep_frame(spark, key: str, verts, res) -> DataFrame:
    """(key, label, noise_level, eps_max) per hierarchy vertex, shipped
    as an Arrow table: createDataFrame(pandas) falls back to row
    pickling when the caller session leaves arrow.pyspark.enabled at
    its Spark-4 default (false), and at 6M points this frame is
    millions of rows."""
    import pyarrow as pa

    min_death = hk.cluster_min_death(res)
    eps_max = np.fromiter(
        (min_death[int(c)] for c in res.last_cluster), np.float64, len(verts)
    )
    return spark.createDataFrame(
        pa.table(
            {
                key: pa.array(verts, pa.int64()),
                "label": pa.array(res.labels.astype(np.int64), pa.int64()),
                "noise_level": pa.array(res.noise_level, pa.float64()),
                "eps_max": pa.array(eps_max, pa.float64()),
            }
        )
    )


def _tree_df(spark, res) -> DataFrame:
    rows = [
        (
            int(c.label),
            int(c.parent),
            float(c.birth),
            float(c.death),
            float(c.stability),
            float(c.n_points),
        )
        for c in res.clusters.values()
    ]
    return spark.createDataFrame(
        rows,
        schema="label long, parent long, birth_level double, death_level double, "
        "stability double, n_points double",
    )
