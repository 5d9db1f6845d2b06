"""Distributed contraction of per-subset merge forests (X12 scale path).

Phase 1 of the contracted global dendrogram (SCALE.md "global-step"
analysis): each leaf subset's single-linkage merge forest is built
locally (inside ``applyInPandas``) and every maximal *pure* subtree —
one containing no cross-edge endpoint — whose mass is below
``min_cluster_size`` collapses to a single weighted virtual vertex
attached at its separation weight. Top-down, such a subtree detaches
from the global hierarchy exactly at that weight with mass below the
cluster threshold, so all of its members turn noise there and its
internal structure is unreachable by any cross edge: replacing it by
one virtual vertex preserves cluster births/deaths, stabilities,
per-point noise levels and GLOSH bit-for-bit (see
tests/test_contracted.py differentials vs the driver path).

The reference's global stage collects every edge to the driver
(源代码/main/Main.java:350-411, Stage C/D); this kernel bounds the
driver input to retained events (cross-edge chains + >=mcl crown
events) instead of ~2n edges.

Virtual siblings that detach at the *same* event are coalesced into
bins of total mass < min_cluster_size — exact, since stability is
linear in mass and all members share the event's noise level.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from bubbles.kernels.hdbscan_kernel import _inv, _merge_forest

# phase-1 tagged output rows:
#   kind 0  membership    a=point_id  b=rep_id  w=self/core weight
#   kind 1  reduced edge  a=src       b=dst     w=weight (a==b self edge)
#   kind 2  vertex weight a=rep_id    b=0       w=contracted mass
CONTRACT_SCHEMA = "kind int, a long, b long, w double"


def _init_mass(verts: np.ndarray, total: int, vertex_mass) -> np.ndarray:
    """Leaf-mass array for the contraction: all-ones at level 1
    (vertices are points); at level 2 (recursive contraction) the
    vertices are level-1 virtual representatives whose masses arrive
    as ``vertex_mass = (ids_sorted, vals)`` — absent ids default 1."""
    mass = np.ones(total)
    if vertex_mass is not None:
        ids, vals = vertex_mass
        pos = np.searchsorted(ids, verts)
        ok = (pos < len(ids)) & (ids[np.minimum(pos, len(ids) - 1)] == verts)
        mass[: len(verts)][ok] = vals[pos[ok]]
    return mass


def contract_subset_edges(
    src: np.ndarray,
    dst: np.ndarray,
    w: np.ndarray,
    boundary,
    min_cluster_size: int,
    vertex_mass=None,
):
    """Contract one subset's edge set. Returns four arrays matching
    ``CONTRACT_SCHEMA``. ``boundary`` is the global set of cross-edge
    endpoint ids (driver-bounded: one per inter-cluster edge).
    ``vertex_mass``: optional (ids_sorted, vals) leaf masses for the
    recursive (level-2) contraction, where leaves are themselves
    contracted vertices."""
    verts = np.unique(np.concatenate([src, dst]))
    n = len(verts)
    pos = {int(g): i for i, g in enumerate(verts)}
    lu = np.fromiter((pos[int(x)] for x in src), np.int64, len(src))
    lv = np.fromiter((pos[int(x)] for x in dst), np.int64, len(dst))
    children, merge_w, roots, self_w = _merge_forest(lu, lv, w, n)
    nc = len(children)
    total = n + nc

    mass = _init_mass(verts, total, vertex_mass)
    pure = np.zeros(total, dtype=bool)
    minid = np.empty(total, dtype=np.int64)
    minid[:n] = verts
    for i in range(n):
        pure[i] = int(verts[i]) not in boundary
    for k in range(nc):  # children only reference lower node ids
        ch = children[k]
        mass[n + k] = sum(mass[c] for c in ch)
        pure[n + k] = all(pure[c] for c in ch)
        minid[n + k] = min(minid[c] for c in ch)

    out_k: list[int] = []
    out_a: list[int] = []
    out_b: list[int] = []
    out_w: list[float] = []
    assign = np.empty(n, dtype=np.int64)

    def emit(kind: int, a: int, b: int, ww: float) -> None:
        out_k.append(kind)
        out_a.append(a)
        out_b.append(b)
        out_w.append(ww)

    def contract_to(node: int, rep: int) -> None:
        st = [node]
        while st:
            x = st.pop()
            if x < n:
                assign[x] = rep
            else:
                st.extend(children[x - n])

    mcl = min_cluster_size
    stack: list[tuple[int, bool]] = []
    for root in roots:
        if pure[root] and mass[root] < mcl:
            # whole component is pure and sub-threshold: its members all
            # turn noise at the component's top merge weight (or the
            # lone vertex's self weight) — one virtual vertex suffices
            rep = int(minid[root])
            wtop = merge_w[root - n] if root >= n else float(self_w[root])
            emit(2, rep, 0, float(mass[root]))
            if wtop > 0:
                emit(1, rep, rep, float(wtop))
            contract_to(root, rep)
        else:
            stack.append((root, True))

    while stack:
        node, is_root = stack.pop()
        if node < n:
            # retained leaf (a boundary vertex); keep its self edge only
            # when isolated so the driver sees the same noise event
            emit(2, int(verts[node]), 0, float(mass[node]))
            if is_root and self_w[node] > 0:
                emit(1, int(verts[node]), int(verts[node]), float(self_w[node]))
            assign[node] = verts[node]
            continue
        W = float(merge_w[node - n])
        kids = children[node - n]
        reps: list[int] = []
        virt: list[int] = []
        for c in kids:
            if pure[c] and mass[c] < mcl:
                virt.append(c)
            else:
                reps.append(int(minid[c]))
                stack.append((c, False))
        # coalesce same-event virtual siblings while total mass < mcl
        virt.sort(key=lambda c: int(minid[c]))
        cur: list[int] = []
        cm = 0.0
        bins: list[tuple[list[int], float]] = []
        for c in virt:
            if cur and cm + mass[c] >= mcl:
                bins.append((cur, cm))
                cur, cm = [], 0.0
            cur.append(c)
            cm += float(mass[c])
        if cur:
            bins.append((cur, cm))
        for group, gm in bins:
            rep = int(min(minid[c] for c in group))
            emit(2, rep, 0, gm)
            for c in group:
                contract_to(c, rep)
            reps.append(rep)
        hub = reps[0]
        for r in reps[1:]:
            emit(1, hub, r, W)

    # membership: every point of the subset -> its retained representative,
    # carrying the point's self-edge (core-distance) weight
    mk = np.zeros(n, dtype=np.int32)
    return (
        np.concatenate([np.asarray(out_k, np.int32), mk]),
        np.concatenate([np.asarray(out_a, np.int64), verts.astype(np.int64)]),
        np.concatenate([np.asarray(out_b, np.int64), assign]),
        np.concatenate([np.asarray(out_w, np.float64), self_w.astype(np.float64)]),
    )


def make_contract_kernel(boundary_bc, min_cluster_size: int):
    """``applyInPandas`` wrapper; ``boundary_bc`` is a Spark broadcast
    of the frozenset of cross-edge endpoint ids."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        k, a, b, ww = contract_subset_edges(
            pdf["src"].to_numpy(np.int64),
            pdf["dst"].to_numpy(np.int64),
            pdf["weight"].to_numpy(np.float64),
            boundary_bc.value,
            min_cluster_size,
        )
        return pd.DataFrame({"kind": k, "a": a, "b": b, "w": ww})

    return kernel


# level-1 output tagged with the producing leaf subset, so the
# recursive (level-2) pass can map retained rows to their genealogy
# bin with one broadcast join
CONTRACT_TAGGED_SCHEMA = "kind int, a long, b long, w double, subset_id long"


def make_contract_kernel_tagged(boundary_bc, min_cluster_size: int):
    """v1 contraction wrapper that carries the leaf ``subset_id`` on
    every output row (recursive-contraction level 1). Dispatched per
    HASH BIN, not per subset: pandas-group dispatch scales with the
    subset count (957k leaf subsets at 40M points cost ~150 s of pure
    dispatch when grouped per subset — the same disease the exact-leaf
    kernel fixed with its __bin grouping), so the wrapper loops member
    subsets inside one pandas group."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        outs = []
        boundary = boundary_bc.value
        for sid, g in pdf.groupby("subset_id", sort=False):
            k, a, b, ww = contract_subset_edges(
                g["src"].to_numpy(np.int64),
                g["dst"].to_numpy(np.int64),
                g["weight"].to_numpy(np.float64),
                boundary,
                min_cluster_size,
            )
            outs.append(
                pd.DataFrame(
                    {
                        "kind": k,
                        "a": a,
                        "b": b,
                        "w": ww,
                        "subset_id": np.full(len(k), int(sid), np.int64),
                    }
                )
            )
        if not outs:
            return pd.DataFrame(
                {
                    "kind": np.empty(0, np.int32),
                    "a": np.empty(0, np.int64),
                    "b": np.empty(0, np.int64),
                    "w": np.empty(0, np.float64),
                    "subset_id": np.empty(0, np.int64),
                }
            )
        return pd.concat(outs, ignore_index=True)

    return kernel


def contract_bin(
    kind: np.ndarray,
    a: np.ndarray,
    b: np.ndarray,
    w: np.ndarray,
    boundary,
    min_cluster_size: int,
):
    """Level-2 (recursive) contraction of one genealogy bin.

    Input rows are level-1 retained rows for the bin's leaf subsets
    plus the bin's intra-bin cross edges, all in level-1 schema:
    kind 1 = edges (a==b self edges included), kind 2 = vertex masses.
    ``boundary`` is the set of cross-BIN edge endpoints — the only
    vertices whose structure must survive to the driver. The bin's
    merge forest over these rows is exactly the global single-linkage
    structure restricted to the bin (every global edge touching a
    non-boundary bin vertex is IN the bin: leaf-subset forests arrive
    whole and cross edges created at genealogy nodes inside the bin's
    subtree connect only descendants), so the v1/v2 purity lemma
    applies verbatim with level-1 virtual vertices as weighted leaves.

    Returns five arrays matching ``CONTRACT2_SCHEMA``; kind-0 rows map
    level-1 representative -> level-2 representative (w2 = detach
    weight for chain-coalesced members, NaN otherwise). Isolated
    kind-2 vertices (no edge) pass through unchanged.
    """
    e = kind == 1
    m = kind == 2
    vm_ids = a[m].astype(np.int64)
    vm_vals = w[m].astype(np.float64)
    order = np.argsort(vm_ids)
    vm_ids, vm_vals = vm_ids[order], vm_vals[order]
    src, dst, ew = a[e].astype(np.int64), b[e].astype(np.int64), w[e].astype(np.float64)
    if len(src):
        k2, a2, b2, w2, d2 = contract_subset_edges_v2(
            src, dst, ew, boundary, min_cluster_size, vertex_mass=(vm_ids, vm_vals)
        )
        connected = np.unique(np.concatenate([src, dst]))
    else:
        k2 = np.empty(0, np.int32)
        a2 = b2 = np.empty(0, np.int64)
        w2 = d2 = np.empty(0, np.float64)
        connected = np.empty(0, np.int64)
    # isolated vertices (kind-2 row, no edge): keep mass + self-map
    pos = np.searchsorted(connected, vm_ids)
    iso = ~(
        (pos < len(connected))
        & (connected[np.minimum(pos, max(len(connected) - 1, 0))] == vm_ids)
    ) if len(connected) else np.ones(len(vm_ids), dtype=bool)
    iso_ids = vm_ids[iso]
    iso_mass = vm_vals[iso]
    ni = len(iso_ids)
    return (
        np.concatenate([k2, np.full(ni, 2, np.int32), np.zeros(ni, np.int32)]),
        np.concatenate([a2, iso_ids, iso_ids]),
        np.concatenate([b2, np.zeros(ni, np.int64), iso_ids]),
        np.concatenate([w2, iso_mass, np.zeros(ni)]),
        np.concatenate([d2, np.full(2 * ni, np.nan)]),
    )


def make_bin_contract_kernel(boundary_bc, min_cluster_size: int):
    """``applyInPandas`` wrapper for the level-2 bin contraction;
    ``boundary_bc`` broadcasts the frozenset of cross-BIN endpoints."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        k, a, b, ww, ww2 = contract_bin(
            pdf["kind"].to_numpy(np.int32),
            pdf["a"].to_numpy(np.int64),
            pdf["b"].to_numpy(np.int64),
            pdf["w"].to_numpy(np.float64),
            boundary_bc.value,
            min_cluster_size,
        )
        return pd.DataFrame({"kind": k, "a": a, "b": b, "w": ww, "w2": ww2})

    return kernel


# ---------------------------------------------------------------------------
# v2: chain-coalescing contraction, used by the recursive level-2 pass
# (contract_bin above, MRHDBSCAN._global_step_recursive)
#
# v1 retains one hub edge + one virtual vertex PER MERGE EVENT along any
# spine whose running mass is >= min_cluster_size — for a cap-sized leaf
# subset (4096 points, mcl 2000) that is ~2 100 retained events, and at
# 6M points the driver input measured 5.56M rows. v2 coalesces runs of
# pure sub-mcl attachments along a PURE >= mcl spine into chunks of
# cumulative mass < mcl, carrying
#   kind 3 rows: the chunk's pre-aggregated stability credit Σ m_i/w_i
#   kind 0 w2 : each member's true detach weight (valid because the
#               spine side at every absorbed event is >= mcl, so the
#               small side turns noise exactly at its local event)
#
# PURITY of the spine node (no cross-edge endpoint anywhere in its
# subtree) is what makes the coalescing EXACT: the component at any
# threshold inside a chunk's span is contained in that pure subtree, so
# no cross edge — ours or a foreign subset's — can reach it, hence no
# global birth/split can land inside the span. Every chunk therefore
# detaches wholly inside one cluster interval: members inherit the
# chunk vertex's flat label and eps_max exactly, and their true noise
# level is their own detach weight. (Coalescing on IMPURE spines is
# NOT exact: a cross edge elsewhere in the shared component can split
# it mid-span, changing both membership masses at the born child and
# the members' flat labels — measured as n_points drift in the fit
# differential before this restriction.) Impure spines and sub-mcl
# crowns fall back to v1 per-event emission.
#
# Float caveat: the driver applies credit − mass/birth where the raw
# path sums m_i·(1/w_i − 1/birth) term by term; the re-grouping drifts
# stabilities by ulps, so v2 is differential-tested with allclose and
# exact label equality, never bit-equality (see tests/test_contract_v2).
# ---------------------------------------------------------------------------

CONTRACT2_SCHEMA = "kind int, a long, b long, w double, w2 double"


def contract_subset_edges_v2(
    src: np.ndarray,
    dst: np.ndarray,
    w: np.ndarray,
    boundary,
    min_cluster_size: int,
    vertex_mass=None,
):
    """Contract one subset's edge set with pure-spine chain coalescing.

    ``boundary`` is the global set of cross-edge endpoint ids (same
    contract as v1). Returns five arrays matching ``CONTRACT2_SCHEMA``
    (w2 = per-point detach weight for coalesced members, NaN
    otherwise). ``vertex_mass``: optional (ids_sorted, vals) leaf
    masses for the recursive (level-2) contraction.
    """
    verts = np.unique(np.concatenate([src, dst]))
    n = len(verts)
    pos = {int(g): i for i, g in enumerate(verts)}
    lu = np.fromiter((pos[int(x)] for x in src), np.int64, len(src))
    lv = np.fromiter((pos[int(x)] for x in dst), np.int64, len(dst))
    children, merge_w, roots, self_w = _merge_forest(lu, lv, w, n)
    nc = len(children)
    total = n + nc

    mass = _init_mass(verts, total, vertex_mass)
    pure = np.zeros(total, dtype=bool)
    minid = np.empty(total, dtype=np.int64)
    minid[:n] = verts
    for i in range(n):
        pure[i] = int(verts[i]) not in boundary
    for k in range(nc):  # children only reference lower node ids
        ch = children[k]
        mass[n + k] = sum(mass[c] for c in ch)
        pure[n + k] = all(pure[c] for c in ch)
        minid[n + k] = min(minid[c] for c in ch)

    out_k: list[int] = []
    out_a: list[int] = []
    out_b: list[int] = []
    out_w: list[float] = []
    out_w2: list[float] = []
    assign = np.empty(n, dtype=np.int64)
    detach = np.full(n, np.nan)

    def emit(kind: int, a: int, b: int, ww: float, ww2: float = np.nan) -> None:
        out_k.append(kind)
        out_a.append(a)
        out_b.append(b)
        out_w.append(ww)
        out_w2.append(ww2)

    def contract_to(node: int, rep: int, det: float = np.nan) -> None:
        st = [node]
        while st:
            x = st.pop()
            if x < n:
                assign[x] = rep
                detach[x] = det
            else:
                st.extend(children[x - n])

    mcl = min_cluster_size
    work: list[tuple[int, bool]] = []
    for root in roots:
        if pure[root] and mass[root] < mcl:
            rep = int(minid[root])
            wtop = merge_w[root - n] if root >= n else float(self_w[root])
            emit(2, rep, 0, float(mass[root]))
            if wtop > 0:
                emit(1, rep, rep, float(wtop))
            contract_to(root, rep)
        else:
            work.append((root, True))

    def emit_v1_node(node: int) -> None:
        """v1-style per-event emission for one structural node; pushes
        its big/impure kids onto the work queue."""
        W = float(merge_w[node - n])
        kids = children[node - n]
        reps: list[int] = []
        virt: list[int] = []
        for c in kids:
            if pure[c] and mass[c] < mcl:
                virt.append(c)
            else:
                reps.append(int(minid[c]))
                work.append((c, False))
        virt.sort(key=lambda c: int(minid[c]))
        cur: list[int] = []
        cm = 0.0
        bins: list[tuple[list[int], float]] = []
        for c in virt:
            if cur and cm + mass[c] >= mcl:
                bins.append((cur, cm))
                cur, cm = [], 0.0
            cur.append(c)
            cm += float(mass[c])
        if cur:
            bins.append((cur, cm))
        for group, gm in bins:
            rep = int(min(minid[c] for c in group))
            emit(2, rep, 0, gm)
            for c in group:
                contract_to(c, rep)
            reps.append(rep)
        hub = reps[0]
        for r in reps[1:]:
            emit(1, hub, r, W)

    while work:
        node, is_root = work.pop()
        if node < n:
            emit(2, int(verts[node]), 0, float(mass[node]))
            if is_root and self_w[node] > 0:
                emit(1, int(verts[node]), int(verts[node]), float(self_w[node]))
            assign[node] = verts[node]
            continue

        # segment descent: coalesce while the CURRENT node's whole
        # subtree is pure and its single continuing child is >= mcl
        chunk: list[tuple[int, float]] = []  # (virt node, event weight)
        chunk_mass = 0.0
        chunk_credit = np.float64(0.0)
        chunk_watt = 0.0
        hub = 0  # minid of the continuing child below the open chunk

        def flush() -> None:
            nonlocal chunk, chunk_mass, chunk_credit, chunk_watt
            if not chunk:
                return
            rep = int(min(minid[c] for c, _ in chunk))
            emit(2, rep, 0, float(chunk_mass))
            emit(3, rep, 0, float(chunk_credit))
            emit(1, hub, rep, float(chunk_watt))
            for c, cw in chunk:
                contract_to(c, rep, det=cw)
            chunk = []
            chunk_mass = 0.0
            chunk_credit = np.float64(0.0)
            chunk_watt = 0.0

        cur = node
        while True:
            W = np.float64(merge_w[cur - n])
            kids = children[cur - n]
            bigimp = [c for c in kids if mass[c] >= mcl or not pure[c]]
            if (
                not pure[cur]
                or len(bigimp) != 1
                or mass[bigimp[0]] < mcl
                or bigimp[0] < n
            ):
                # impure subtree / structural event / leaf continuation:
                # close the open chunk above it, then emit per-event
                flush()
                emit_v1_node(cur)
                break
            cc = bigimp[0]
            for c in sorted(
                (c for c in kids if c is not cc), key=lambda c: int(minid[c])
            ):
                if chunk and chunk_mass + mass[c] >= mcl:
                    flush()
                if not chunk:
                    chunk_watt = float(W)
                hub = int(minid[cc])
                chunk.append((c, float(W)))
                chunk_mass += float(mass[c])
                chunk_credit = chunk_credit + np.float64(mass[c]) * _inv(W)
            hub = int(minid[cc])
            cur = cc

    mk = np.zeros(n, dtype=np.int32)
    return (
        np.concatenate([np.asarray(out_k, np.int32), mk]),
        np.concatenate([np.asarray(out_a, np.int64), verts.astype(np.int64)]),
        np.concatenate([np.asarray(out_b, np.int64), assign]),
        np.concatenate([np.asarray(out_w, np.float64), self_w.astype(np.float64)]),
        np.concatenate([np.asarray(out_w2, np.float64), detach]),
    )
