"""Single-node exact HDBSCAN* kernel (numpy).

Semantics follow the reference implementation
(``源代码/hdbscanstar/HDBSCANStar.java``, ``Cluster.java``,
``UndirectedGraph.java``; cited per function below) with the
paper-formula fixes of SURVEY.md §2.9. The hierarchy is built
bottom-up (union-find over ascending edge weights, tie groups merged
as one event) which is provably equivalent to the reference's
top-down tied-edge removal (``HDBSCANStar.java:208-492``) but runs in
O(E α(V)) instead of O(V·levels).

This kernel is (a) the exact leaf path for subsets ≤ max_local_size,
run per-group via applyInPandas, and (b) the driver-side global
dendrogram step over the merged edge set.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

# ---------------------------------------------------------------------------
# Distances (numpy twins of bubbles.functions.distances column builders).
# Reference: 源代码/distance/*.java (5 strategy classes).
# ---------------------------------------------------------------------------


def _rows_euclidean(X: np.ndarray, x: np.ndarray) -> np.ndarray:
    d = X - x
    return np.sqrt(np.einsum("ij,ij->i", d, d))


def _rows_manhattan(X: np.ndarray, x: np.ndarray) -> np.ndarray:
    return np.abs(X - x).sum(axis=1)


def _rows_chebyshev(X: np.ndarray, x: np.ndarray) -> np.ndarray:
    return np.abs(X - x).max(axis=1)


def _rows_cosine(X: np.ndarray, x: np.ndarray) -> np.ndarray:
    # 1 - (x·y)/(|x||y|), ref 源代码/distance/CosineSimilarity.java:28-40
    num = X @ x
    den = np.sqrt(np.einsum("ij,ij->i", X, X)) * np.sqrt(x @ x)
    with np.errstate(divide="ignore", invalid="ignore"):
        out = 1.0 - num / den
    return np.where(den == 0, 1.0, out)


def _rows_pearson(X: np.ndarray, x: np.ndarray) -> np.ndarray:
    # 1 - cov(x,y)/(σx σy) over vector components,
    # ref 源代码/distance/PearsonCorrelation.java:28-55
    Xc = X - X.mean(axis=1, keepdims=True)
    xc = x - x.mean()
    num = Xc @ xc
    den = np.sqrt(np.einsum("ij,ij->i", Xc, Xc)) * np.sqrt(xc @ xc)
    with np.errstate(divide="ignore", invalid="ignore"):
        out = 1.0 - num / den
    return np.where(den == 0, 1.0, out)


ROW_DISTANCES = {
    "euclidean": _rows_euclidean,
    "manhattan": _rows_manhattan,
    "chebyshev": _rows_chebyshev,
    "cosine": _rows_cosine,
    "pearson": _rows_pearson,
}


def pairwise_distances(X: np.ndarray, metric: str = "euclidean") -> np.ndarray:
    """Full symmetric distance matrix (small n only — leaf kernels)."""
    fn = ROW_DISTANCES[metric]
    n = X.shape[0]
    D = np.empty((n, n), dtype=np.float64)
    for i in range(n):
        D[i] = fn(X, X[i])
    np.fill_diagonal(D, 0.0)
    return D


# ---------------------------------------------------------------------------
# Core distances. Reference: HDBSCANStar.java:71-106 — the k-1 smallest
# distances *including the self distance 0* are kept; the core distance is
# the last of them, i.e. sorted_row[k-2] with the diagonal 0 present.
# ---------------------------------------------------------------------------


def core_distances(X: np.ndarray, k: int, metric: str = "euclidean") -> np.ndarray:
    # NOTE (round 11): two "obvious" rewrites of this pass were tried,
    # measured, and rejected — (1) materializing the full n×n distance
    # matrix and sharing it with Prim is bit-identical and neutral
    # single-threaded but 4x SLOWER under 32 concurrent kernel workers
    # (134 MB/task streams DRAM; the per-row loop's working set stays
    # cache-resident), and (2) row-blocked broadcasting (8-128 row
    # blocks) is neutral-to-slower at every block size. The per-row
    # loop is the measured optimum on this shape (OPTIMIZATION_r11.md).
    n = X.shape[0]
    if k <= 1:
        return np.zeros(n)
    kk = min(k - 1, n)  # buffer holds k-1 smallest incl. self-0
    fn = ROW_DISTANCES[metric]
    out = np.empty(n)
    for i in range(n):
        row = fn(X, X[i])
        row[i] = 0.0
        if kk >= n:
            out[i] = np.max(row)
        else:
            out[i] = np.partition(row, kk - 1)[kk - 1]
    return out


# ---------------------------------------------------------------------------
# Prim MST over mutual-reachability distances, with optional self edges.
# Reference: HDBSCANStar.java:124-205 (start at last point; update with
# strict <, select next point with <= i.e. last arg-min; self edges
# weighted by core distance). Vectorized per-iteration over neighbors.
# ---------------------------------------------------------------------------


def mst_edges(
    X: np.ndarray,
    core: np.ndarray,
    metric: str = "euclidean",
    self_edges: bool = True,
    ids: np.ndarray | None = None,
    row_distance=None,
):
    """Return (src, dst, weight) arrays of the mutual-reachability MST.

    ``ids`` maps local indices to global vertex ids (reference passes
    ``indices``/``idBubbles`` the same way). ``row_distance(i)`` may
    override the metric (used by the bubble kernel for F6 distances).
    """
    n = X.shape[0]
    if ids is None:
        ids = np.arange(n, dtype=np.int64)
    if n == 1:
        if self_edges:
            return ids.copy(), ids.copy(), core.copy()
        return np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0)

    if row_distance is None:
        fn = ROW_DISTANCES[metric]
        row_distance = lambda i: fn(X, X[i])  # noqa: E731

    attached = np.zeros(n, dtype=bool)
    nearest_w = np.full(n, np.inf)
    # inf, not empty (ADVICE r11): with non-finite inputs (NaN features
    # make every mrd comparison false; inf distances leave nearest_w at
    # inf) the argmin can re-pick an attached vertex, so a vertex may
    # never be selected as `current` — its final_w slot must then read
    # as the old masked-copy code's inf, not uninitialized memory
    final_w = np.full(n, np.inf)
    nearest_nb = np.zeros(n, dtype=np.int64)
    # reusable per-iteration buffers (round 11): the loop used to
    # allocate ~5 fresh n-arrays per iteration (mrd, two masks, the
    # np.where copy); with out= targets and the invariant that
    # attached entries hold nearest_w == inf (snapshotted into final_w
    # at attach time, never updated again since `upd` excludes
    # attached), the masked copy IS nearest_w itself. argmin input
    # values are identical, so edges are bit-identical (pinned by a
    # 30-trial tie-heavy differential while measuring: -22% kernel).
    mrd = np.empty(n)
    cmp_buf = np.empty(n, dtype=bool)
    upd = np.empty(n, dtype=bool)
    rev_w = nearest_w[::-1]

    current = n - 1
    attached[current] = True
    for _ in range(n - 1):
        d = row_distance(current)
        np.maximum(core, core[current], out=mrd)
        np.maximum(d, mrd, out=mrd)
        np.less(mrd, nearest_w, out=cmp_buf)
        np.logical_not(attached, out=upd)
        np.logical_and(upd, cmp_buf, out=upd)
        nearest_w[upd] = mrd[upd]
        nearest_nb[upd] = current
        # reference scans 0..n-1 keeping <=, i.e. picks the LAST argmin
        current = n - 1 - int(np.argmin(rev_w))
        final_w[current] = nearest_w[current]
        nearest_w[current] = np.inf
        attached[current] = True

    # Edge for every vertex except the start (HDBSCANStar.java:189-193):
    keep = np.ones(n, dtype=bool)
    keep[n - 1] = False
    src = ids[nearest_nb[keep]]
    dst = ids[keep]
    w = final_w[keep]
    if self_edges:
        src = np.concatenate([src, ids])
        dst = np.concatenate([dst, ids])
        w = np.concatenate([w, core])
    return src.astype(np.int64), dst.astype(np.int64), w


def mst_edges_grouped(
    X: np.ndarray,
    ids: np.ndarray,
    k: int,
    metric: str = "euclidean",
):
    """Exact mutual-reachability MST with duplicate collapsing.

    Lattice-like data (integer features, categorical grids) has huge
    duplicate groups; the O(n²) loops then waste n²/m² work. Identical
    points have pairwise MRD == their common core distance, and any
    crossing edge costs ≥ that, so the true MST decomposes into
    per-group chains at weight core(u) plus an MST over the m unique
    points — O(m²) instead of O(n²). Weight multiset (hence the
    hierarchy) is exact; edge topology differs from the direct Prim
    only within ties, which the reference itself resolves arbitrarily
    (HDBSCANStar.java:177 `<=` scan).

    Core distances count multiplicity: core(u) = the (k−1)-th smallest
    distance including each duplicate (self group at distance 0).
    """
    n = X.shape[0]
    U, inv = np.unique(X, axis=0, return_inverse=True)
    m = len(U)
    counts = np.bincount(inv).astype(np.int64)
    fn = ROW_DISTANCES[metric]

    # deterministic group representative: the min id in the group
    rep_idx = np.full(m, -1, dtype=np.int64)
    order_by_id = np.argsort(ids, kind="stable")
    for i in order_by_id[::-1]:
        rep_idx[inv[i]] = i  # last write = smallest id
    rep_ids = ids[rep_idx]

    core_u = np.zeros(m)
    if k > 1:
        need = k - 1
        for u in range(m):
            row = fn(U, U[u])
            row[u] = 0.0
            o = np.argsort(row, kind="stable")
            cum = np.cumsum(counts[o])
            pos = int(np.searchsorted(cum, need))
            core_u[u] = row[o[min(pos, m - 1)]]

    src, dst, w = mst_edges(
        U, core_u, metric, self_edges=False, ids=np.arange(m, dtype=np.int64)
    )
    out_src = [rep_ids[src], rep_ids[dst]]
    out_w = [w]
    # intra-group chains at the group's core distance + self edges
    self_src = ids
    self_dst = ids
    self_w = core_u[inv]
    chain_src = []
    chain_dst = []
    chain_w = []
    by_group = np.argsort(inv, kind="stable")
    starts = np.searchsorted(inv[by_group], np.arange(m))
    ends = np.append(starts[1:], n)
    for g in range(m):
        members = by_group[starts[g] : ends[g]]
        if len(members) > 1:
            mids = ids[members]
            mids = mids[mids != rep_ids[g]]
            chain_src.append(np.full(len(mids), rep_ids[g], dtype=np.int64))
            chain_dst.append(mids)
            chain_w.append(np.full(len(mids), core_u[g]))
    src_all = np.concatenate(
        [out_src[0]] + chain_src + [self_src]
    )
    dst_all = np.concatenate([out_src[1]] + chain_dst + [self_dst])
    w_all = np.concatenate(out_w + chain_w + [self_w])
    return src_all.astype(np.int64), dst_all.astype(np.int64), w_all


# ---------------------------------------------------------------------------
# Hierarchy: bottom-up union-find merge forest with tie groups, then
# condensation to a cluster tree with stabilities, flat EOM selection,
# and GLOSH. Matches the reference's top-down semantics
# (HDBSCANStar.java:208-492 point level; HdbscanDataBubbles.java:256-375
# weighted bubble level; Cluster.java:80-142 stability/propagation).
# ---------------------------------------------------------------------------


@dataclass
class ClusterNode:
    label: int
    parent: int  # parent label, 0 for root
    birth: float  # NaN for root (ref: Main root birthLevel NaN)
    death: float = np.nan  # NaN while alive
    stability: float = 0.0
    n_points: float = 0.0  # member weight at birth
    children: list = field(default_factory=list)  # child labels


@dataclass
class HierarchyResult:
    clusters: dict  # label -> ClusterNode
    labels: np.ndarray  # flat EOM partition per vertex (0 = noise)
    last_cluster: np.ndarray  # deepest cluster label each vertex reached
    noise_level: np.ndarray  # weight at which each vertex became noise (0 = never)
    selected: list  # labels chosen by EOM


def _inv(x) -> np.float64:
    """1/x with Java double semantics made explicit: duplicate points
    produce 0-weight MST edges, and the reference's ``1.0 / weight``
    yields +inf which then loses every ``<`` comparison as intended
    (HDBSCANStar.java double arithmetic). Returning the inf explicitly
    keeps numpy's divide-by-zero RuntimeWarning meaningful for real
    bugs elsewhere. NaN (root birth) passes through as NaN."""
    x = np.float64(x)
    if x == 0.0:
        return np.float64("inf")
    return np.float64(1.0) / x


def _merge_forest(u: np.ndarray, v: np.ndarray, w: np.ndarray, n: int):
    """Single-linkage merge forest with exact-equality tie groups.

    Self edges (u==v) are skipped: as shown by tracing the reference's
    tied-edge removal (HDBSCANStar.java:251-271), a vertex becomes
    noise when its last *tree* edge is removed, so self edges never
    change the hierarchy shape — they only pad the edge list.

    Returns (children, merge_w, roots, self_w): leaves are node ids
    0..n-1; internal nodes n.., ``children[i - n]`` lists child node
    ids, ``merge_w[i - n]`` the merge weight. ``self_w`` holds each
    vertex's self-edge weight (0 if none) — needed only for vertices
    with *no* real edges, which the reference detaches as noise when
    their self edge is removed.
    """
    real = u != v
    self_w = np.zeros(n)
    if (~real).any():
        np.maximum.at(self_w, u[~real], w[~real])
    u, v, w = u[real], v[real], w[real]
    order = np.argsort(w, kind="stable")
    m = len(order)
    # python lists + inlined path-halving union-find: this loop is the
    # driver-build hot spot (profiled 24 s of a 34 s build at 1.5M
    # vertices) — np scalar boxing, attribute lookups and the tie-group
    # dict machinery all removed from the singleton-weight fast path.
    # Outputs are bit-identical to the previous two-pass-compression
    # implementation: path halving finds the same roots, and a
    # singleton group's sorted([node_a, node_b]) equals the dict
    # path's sorted(olds).
    ws = w[order].tolist()
    us = u[order].tolist()
    vs = v[order].tolist()
    # same[i]: ws[i+1] == ws[i] (exact float equality, inf==inf True,
    # NaN never equal — matching the old `ws[j] == W` grouping)
    if m > 1:
        same = (w[order][1:] == w[order][:-1]).tolist()
    else:
        same = []
    same.append(False)
    parent = list(range(n))
    rank = [0] * n
    node_of = list(range(n))  # UF-root -> current forest node id
    children: list[list[int]] = []
    merge_w: list[float] = []

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    i = 0
    while i < m:
        if not same[i]:
            # singleton weight group — no tie bookkeeping needed
            a = find(us[i])
            b = find(vs[i])
            W = ws[i]
            i += 1
            if a == b:
                continue
            na = node_of[a]
            nb = node_of[b]
            if rank[a] < rank[b]:
                a, b = b, a
            parent[b] = a
            if rank[a] == rank[b]:
                rank[a] += 1
            node_of[a] = n + len(children)
            children.append([na, nb] if na < nb else [nb, na])
            merge_w.append(W)
            continue
        W = ws[i]
        j = i
        pending: dict[int, set] = {}
        while j < m and ws[j] == W:
            a, b = find(us[j]), find(vs[j])
            j += 1
            if a == b:
                continue
            olds = pending.pop(a, None) or {node_of[a]}
            olds |= pending.pop(b, None) or {node_of[b]}
            if rank[a] < rank[b]:
                a, b = b, a
            parent[b] = a
            if rank[a] == rank[b]:
                rank[a] += 1
            pending[a] = olds
        for r, olds in pending.items():
            node_id = n + len(children)
            children.append(sorted(olds))
            merge_w.append(float(W))
            node_of[r] = node_id
        i = j
    roots = sorted({node_of[find(x)] for x in range(n)})
    return children, merge_w, roots, self_w


def build_hierarchy(
    u: np.ndarray,
    v: np.ndarray,
    w: np.ndarray,
    vertex_weights: np.ndarray,
    min_cluster_size: int,
    constraints: list | None = None,
    vertex_credit: np.ndarray | None = None,
) -> HierarchyResult:
    """Cluster tree + flat EOM labels + noise levels over an edge set.

    ``vertex_credit``: optional per-vertex pre-aggregated stability
    credit (NaN = none) for chain-coalesced virtual vertices
    (contract_kernel v2). A credited vertex stands for a run of
    sub-``min_cluster_size`` attachments at weights w_i with masses
    m_i; its credit is Σ m_i/w_i computed in the original attach
    order. When the subtree containing it turns noise at weight W,
    its contribution is credit − mass·(1/birth) instead of
    mass·(1/W − 1/birth) — exactly the sum of the per-event terms the
    un-coalesced graph would have produced (up to float re-grouping,
    which is why the coalesced path is opt-in and differential-tested
    with allclose, not bit-equality).

    ``vertex_weights`` is all-ones for the point-level hierarchy and
    the bubble cardinalities ``nB`` for the bubble-level one
    (HdbscanDataBubbles.java:330-337 counts members by summing nB).
    Vertices are 0..len(vertex_weights)-1 (caller maps global ids).

    ``constraints``: optional [(kind, a, b), ...] with kind 'ml'
    (must-link) or 'cl' (cannot-link) over local vertex ids (X14,
    源代码/hdbscanstar/Constraint.java:14-60). Scoring follows
    HDBSCANStar.calculateNumConstraintsSatisfied (:738-789) evaluated
    per cluster over its member subtree: ML grants +2 to every
    cluster containing both endpoints; CL grants +1 to every cluster
    containing exactly one (incl. the case where the other endpoint
    is already noise); a CL endpoint that turned noise exactly at a
    cluster's birth level credits the parent's propagated count
    (the reference's virtual-child rule, Cluster.java:145-157).
    Selection prefers higher constraint satisfaction, breaking ties
    by stability (Cluster.propagate, Cluster.java:98-142).
    """
    n = len(vertex_weights)
    vw = np.asarray(vertex_weights, dtype=np.float64)
    children, merge_w, roots, self_w = _merge_forest(u, v, w, n)

    def node_children(node: int):
        return children[node - n] if node >= n else []

    # subtree weight per node (iterative post-order)
    sub_w = np.zeros(n + len(children))
    sub_w[:n] = vw
    for idx in range(len(children)):  # children only reference lower ids
        sub_w[n + idx] = sum(sub_w[c] for c in children[idx])

    credit_fixed = mass_nc = None
    if vertex_credit is not None:
        vc = np.asarray(vertex_credit, dtype=np.float64)
        has_c = ~np.isnan(vc)
        # per-subtree split of noise contributions: credited vertices
        # carry a fixed Σ m_i/w_i term, uncredited mass contributes
        # mass/W at the noise event
        credit_fixed = np.zeros(n + len(children))
        mass_nc = np.zeros(n + len(children))
        credit_fixed[:n] = np.where(has_c, vc, 0.0)
        mass_nc[:n] = np.where(has_c, 0.0, vw)
        for idx in range(len(children)):
            ch = children[idx]
            credit_fixed[n + idx] = sum(credit_fixed[c] for c in ch)
            mass_nc[n + idx] = sum(mass_nc[c] for c in ch)

    def subtree_vertices(node: int):
        out = []
        stack = [node]
        while stack:
            x = stack.pop()
            if x < n:
                out.append(x)
            else:
                stack.extend(children[x - n])
        return out

    clusters: dict[int, ClusterNode] = {}
    last_cluster = np.zeros(n, dtype=np.int64)
    noise_level = np.zeros(n, dtype=np.float64)

    root_cl = ClusterNode(label=1, parent=0, birth=np.nan, n_points=float(vw.sum()))
    clusters[1] = root_cl
    next_label = 2

    # stack of (forest_node, cluster_label); multiple forest roots all
    # start inside cluster 1 (reference: every vertex starts labeled 1,
    # Main/HDBSCANStar init; a disconnected edge set only occurs in the
    # degenerate global case).
    stack = [(r, 1) for r in roots]
    while stack:
        node, cl = stack.pop()
        C = clusters[cl]
        if node < n:
            if vw[node] < min_cluster_size and self_w[node] > 0:
                # vertex isolated with only a self edge: the reference
                # detaches it as noise when that edge is removed
                # (HDBSCANStar.java:251-271 trace)
                C.stability += float(vw[node] * (_inv(self_w[node]) - _inv(C.birth)))
                noise_level[node] = self_w[node]
                last_cluster[node] = cl
            else:
                # cluster alive at the bottom with a single vertex
                last_cluster[node] = cl
            continue
        W = np.float64(merge_w[node - n])
        kids = node_children(node)
        # IEEE division (1/0 = inf) to match Java double semantics
        inv_W = _inv(W)
        inv_birth = _inv(C.birth)  # NaN for root
        big = [k for k in kids if sub_w[k] >= min_cluster_size]
        small = [k for k in kids if sub_w[k] < min_cluster_size]
        for k in small:
            verts = subtree_vertices(k)
            if credit_fixed is None:
                C.stability += float(sub_w[k] * (inv_W - inv_birth))
            else:
                C.stability += float(
                    credit_fixed[k]
                    + mass_nc[k] * inv_W
                    - sub_w[k] * inv_birth
                )
            for x in verts:
                noise_level[x] = W
                last_cluster[x] = cl
        if len(big) >= 2:
            # true split: C dies, each big component is a new cluster
            # (ref HdbscanDataBubbles.java:352-372)
            C.death = W
            for k in big:
                C.stability += float(sub_w[k] * (inv_W - inv_birth))
                lbl = next_label
                next_label += 1
                clusters[lbl] = ClusterNode(
                    label=lbl, parent=cl, birth=float(W), n_points=float(sub_w[k])
                )
                C.children.append(lbl)
                stack.append((k, lbl))
        elif len(big) == 1:
            stack.append((big[0], cl))
        else:
            C.death = W  # everything went noise

    # --- constraint satisfaction per cluster (X14) ---
    n_constr = {lbl: 0 for lbl in clusters}
    virt_constr = {lbl: 0 for lbl in clusters}
    if constraints:
        parent_map = {lbl: c.parent for lbl, c in clusters.items()}

        def chain(x: int) -> set:
            out = set()
            lbl = int(last_cluster[x])
            while lbl != 0:
                out.add(lbl)
                lbl = parent_map[lbl]
            return out

        for kind, a, b in constraints:
            ca, cb = chain(int(a)), chain(int(b))
            if kind == "ml":
                for lbl in ca & cb:
                    n_constr[lbl] += 2
            else:
                for lbl in ca ^ cb:
                    n_constr[lbl] += 1
                # virtual-child credit (HDBSCANStar.java:766-782): a CL
                # endpoint that went noise exactly when its parent split
                # credits the parent's propagated count
                for x in (int(a), int(b)):
                    P = int(last_cluster[x])
                    W = noise_level[x]
                    if W > 0 and P in clusters and any(
                        clusters[ch].birth == W for ch in clusters[P].children
                    ):
                        virt_constr[P] += 1

    # --- EOM selection (Cluster.propagate: constraints first, then
    # stability with parent winning ties ≥) ---
    # process labels descending = children before parents
    prop_stab = {lbl: 0.0 for lbl in clusters}
    prop_constr = dict(virt_constr)
    prop_desc = {lbl: [] for lbl in clusters}
    min_death = {}
    for lbl in sorted(clusters, reverse=True):
        C = clusters[lbl]
        if not C.children:
            min_death[lbl] = C.death
            choice = [lbl]
            chosen_stab = C.stability
            chosen_constr = n_constr[lbl]
        else:
            min_death[lbl] = min(min_death[ch] for ch in C.children)
            if n_constr[lbl] > prop_constr[lbl]:
                take_self = True
            elif n_constr[lbl] < prop_constr[lbl]:
                take_self = False
            else:
                # NaN stability (root) compares False → descendants win
                take_self = C.stability >= prop_stab[lbl]
            if take_self:
                choice = [lbl]
                chosen_stab = C.stability
                chosen_constr = n_constr[lbl]
            else:
                choice = prop_desc[lbl]
                chosen_stab = prop_stab[lbl]
                chosen_constr = prop_constr[lbl]
        if C.parent != 0:
            prop_stab[C.parent] += chosen_stab
            prop_constr[C.parent] += chosen_constr
            prop_desc[C.parent].extend(choice)
        else:
            prop_desc[lbl] = choice if lbl != 1 else prop_desc[lbl]
    # solution = root's propagated descendants (HDBSCANStar.java:567-571);
    # root itself is never selectable.
    selected = [lbl for lbl in prop_desc.get(1, []) if lbl != 1]
    selected_set = set(selected)

    # flat labels: walk up from each vertex's deepest cluster to the
    # unique selected ancestor (selection is an antichain)
    parent_of = {lbl: c.parent for lbl, c in clusters.items()}
    flat = np.zeros(n, dtype=np.int64)
    memo: dict[int, int] = {}

    def resolve(lbl: int) -> int:
        seen = []
        x = lbl
        while x != 0 and x not in memo:
            if x in selected_set:
                memo[x] = x
                break
            seen.append(x)
            x = parent_of[x]
        val = memo.get(x, 0)
        for s in seen:
            memo[s] = val
        return val

    for i in range(n):
        flat[i] = resolve(int(last_cluster[i]))

    return HierarchyResult(
        clusters=clusters,
        labels=flat,
        last_cluster=last_cluster,
        noise_level=noise_level,
        selected=selected,
    )


def cluster_min_death(result: HierarchyResult) -> dict:
    """Per-cluster eps_max: the propagated lowest descendant death
    level (Cluster.propagate's lowestChildDeath, Cluster.java:98-142)."""
    clusters = result.clusters
    min_death: dict[int, float] = {}
    for lbl in sorted(clusters, reverse=True):
        C = clusters[lbl]
        if not C.children:
            min_death[lbl] = C.death
        else:
            min_death[lbl] = min(min_death[ch] for ch in C.children)
    return min_death


def glosh_scores(result: HierarchyResult, core: np.ndarray) -> np.ndarray:
    """GLOSH outlier scores (HDBSCANStar.java:653-686):
    score = 1 - eps_max(lastCluster)/eps(point), 0 when eps == 0,
    where eps_max is the propagated lowest child death level."""
    min_death = cluster_min_death(result)
    n = len(result.noise_level)
    scores = np.zeros(n)
    for i in range(n):
        eps = result.noise_level[i]
        if eps != 0:
            eps_max = min_death[int(result.last_cluster[i])]
            scores[i] = 1.0 - eps_max / eps
    return scores


# the documented size limit of the per-level label matrix (points × levels)
HIERARCHY_MAX_CELLS = 50_000_000


def hierarchy_level_set(result: HierarchyResult, full: bool = False) -> set:
    """The levels ``hierarchy_levels`` emits a row for: the distinct
    cluster birth levels, plus every positive noise level when
    ``full``."""
    levels = {
        float(c.birth)
        for c in result.clusters.values()
        if c.label != 1 and not np.isnan(c.birth)
    }
    if full:
        levels |= {float(w) for w in result.noise_level if w > 0}
    return levels


def hierarchy_levels(
    result: HierarchyResult,
    max_cells: int = HIERARCHY_MAX_CELLS,
    full: bool = False,
):
    """Reconstruct the per-level label matrix — the reference's
    hierarchy CSV contract (Main.java:556-565: one line per significant
    level, ``level_weight, label_1..label_n``).

    Rows are (level_weight, labels array) ordered by level descending.
    Compact (default): levels = distinct cluster birth levels (where
    clusters are born — the reference's ``compact=true`` hierarchy; a
    death-by-split shares its children's birth level). ``full=True``
    additionally includes every distinct noise level — all levels
    where any object changes clusters or becomes noise, the
    reference's default non-compact hierarchy (a one-big-child merge
    with no noise changes nothing and gets no line in either mode).

    A point's label at level W: clusters are *active* from their birth
    level down to their death, so: label = deepest chain cluster with
    birth ≥ W > death (root active everywhere); noise (0) once
    W < noise_level(p) is reached, i.e. noise_level(p) > W.
    Guarded by ``max_cells`` (n × levels) — this is an O(n·levels)
    output intended for the exact path / small n.
    """
    clusters = result.clusters
    n = len(result.last_cluster)
    births = sorted(hierarchy_level_set(result, full), reverse=True)
    if not births:
        return []
    if n * len(births) > max_cells:
        raise ValueError(
            f"hierarchy matrix would have {n * len(births)} cells "
            f"(> {max_cells}); raise max_cells explicitly if intended"
        )
    parent_of = {lbl: c.parent for lbl, c in clusters.items()}
    birth_of = {lbl: c.birth for lbl, c in clusters.items()}
    # per point: chain bottom-up (deepest first)
    chains = []
    for p in range(n):
        ch = []
        lbl = int(result.last_cluster[p])
        while lbl != 0:
            ch.append(lbl)
            lbl = parent_of[lbl]
        chains.append(ch)
    out = []
    for W in births:
        labels = np.zeros(n, dtype=np.int64)
        for p in range(n):
            if result.noise_level[p] > W:
                continue  # already noise at this level
            for lbl in chains[p]:
                b = birth_of[lbl]
                if lbl == 1 or (not np.isnan(b) and b >= W):
                    labels[p] = lbl
                    break
        out.append((W, labels))
    return out


def labels_at_level(
    result: HierarchyResult, W: float, apply_noise: bool = True
) -> np.ndarray:
    """Single-level variant of ``hierarchy_levels``' per-point rule
    (identical semantics, arbitrary W): label = deepest chain cluster
    with birth >= W > death (root active everywhere), noise (0) once
    noise_level(p) > W. O(n · chain depth), no n×levels matrix — this
    is what makes a dendrogram cut answerable at scales where the full
    matrix writer refuses.

    ``apply_noise=False`` skips the vertex's own noise gate and
    returns the pure chain label: callers that track a FINER noise
    level per member (a coalesced chunk's members carry exact detach
    weights below the chunk vertex's reduced-graph noise level) gate
    externally with that, and take the chain label for the window
    where the member outlives its chunk vertex."""
    clusters = result.clusters
    n = len(result.last_cluster)
    parent_of = {lbl: c.parent for lbl, c in clusters.items()}
    birth_of = {lbl: c.birth for lbl, c in clusters.items()}
    labels = np.zeros(n, dtype=np.int64)
    for p in range(n):
        if apply_noise and result.noise_level[p] > W:
            continue
        lbl = int(result.last_cluster[p])
        while lbl != 0:
            b = birth_of[lbl]
            if lbl == 1 or (not np.isnan(b) and b >= W):
                labels[p] = lbl
                break
            lbl = parent_of[lbl]
    return labels


# ---------------------------------------------------------------------------
# One-call exact pipeline (the applyInPandas leaf kernel and the test
# oracle): X -> labels, tree, scores, mst.
# ---------------------------------------------------------------------------


@dataclass
class ExactResult:
    labels: np.ndarray
    tree: list  # list[ClusterNode]
    scores: np.ndarray
    mst: tuple  # (src, dst, weight) with global ids


def hdbscan_exact(
    X: np.ndarray,
    min_pts: int = 4,
    min_cluster_size: int = 4,
    metric: str = "euclidean",
    ids: np.ndarray | None = None,
    self_edges: bool = True,
    constraints: list | None = None,
) -> ExactResult:
    """``constraints``: [(kind, id_a, id_b), ...] in GLOBAL ids."""
    X = np.asarray(X, dtype=np.float64)
    n = X.shape[0]
    if ids is None:
        ids = np.arange(n, dtype=np.int64)
    core = core_distances(X, min_pts, metric)
    src, dst, w = mst_edges(X, core, metric, self_edges=self_edges, ids=ids)
    # hierarchy works on local indices
    id_to_local = {int(g): i for i, g in enumerate(ids)}
    lu = np.fromiter((id_to_local[int(x)] for x in src), np.int64, len(src))
    lv = np.fromiter((id_to_local[int(x)] for x in dst), np.int64, len(dst))
    local_constraints = None
    if constraints:
        local_constraints = [
            (k, id_to_local[int(a)], id_to_local[int(b)])
            for k, a, b in constraints
            if int(a) in id_to_local and int(b) in id_to_local
        ]
    res = build_hierarchy(
        lu, lv, w, np.ones(n), min_cluster_size, constraints=local_constraints
    )
    scores = glosh_scores(res, core)
    return ExactResult(
        labels=res.labels,
        tree=[c for c in res.clusters.values()],
        scores=scores,
        mst=(src, dst, w),
    )
