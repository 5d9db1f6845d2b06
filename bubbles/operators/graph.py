"""Exact fixed-point PageRank — iterative graph analytics.

The MapReduce-era flagship algorithm, re-expressed declaratively: one
equi-join (ranks ⨝ edges on src) plus one aggregation (sum
contributions by dst) per iteration, chained lazily so Catalyst sees
the whole unrolled plan.  Complements ``operators.components``
(connected components) on the graph side of the engine.

Determinism uses the same discipline as ``operators.kmeans``: ranks
live in integer micro-units, the per-edge contribution is the
integer division ``rank div out_degree``, and the damping factor is
the rational 85/100 applied as ``(85 * contrib) div 100`` — every
operation is exact int64 arithmetic, so the result is independent of
partitioning/aggregation order and the DuckDB twin can unroll the
iterations as CTEs and match bit-for-bit.

    r₀(v)   = micro                      (1.0 in micro-units)
    rₜ₊₁(v) = (micro·(den-num)) div den
              + (num · Σ_{u→v} (rₜ(u) div out(u))) div den

Dangling vertices (no out-edges) keep their rank but distribute
nothing — the standard simplification (no teleport redistribution);
the twin applies the same rule via a LEFT JOIN.

Scale: edges shuffle once per iteration on src (the join) and once
on dst (the agg) — the canonical PageRank shuffle pattern; ranks are
one row per vertex.  Skewed high-in-degree vertices are a sum agg
(map-side partials absorb them); skewed high-OUT-degree vertices
fan out in the join exactly like any hot join key — AQE skew-join
handles the split.  For deep iteration counts, localCheckpoint every
few rounds to cap lineage depth (same guidance as
``plans/mrhdbscan.fit``); the default here is shallow unrolling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def pagerank(
    edges: DataFrame,
    n_iter: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
    micro: int = 1_000_000,
    damping_num: int = 85,
    damping_den: int = 100,
) -> DataFrame:
    """(vertex, rank_micro) after ``n_iter`` exact damped iterations
    over the distinct directed edge set."""
    # materialize the distinct edge relation once (round 11, guide
    # §2.4): Catalyst does not CSE shared subtrees, and e is reached
    # through verts/out_deg/contrib once per unrolled iteration plus
    # the final projection — lazily the whole upstream edge derivation
    # re-executed per reference (measured on the catalog query: 40
    # parquet scans / 59 exchanges in one plan; 0 re-scans after this
    # one cut). verts/out_deg stay lazy over the materialized e: their
    # own re-derivation is a slim scan + agg, and cutting them too was
    # measured as pure barrier cost.
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
        .localCheckpoint()
    )
    verts = (
        e.select(F.col("src").alias("vertex"))
        .union(e.select(F.col("dst").alias("vertex")))
        .distinct()
    )
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_n"))

    base = (micro * (damping_den - damping_num)) // damping_den
    ranks = verts.select(
        "vertex", F.lit(micro).cast("long").alias("rank_micro")
    )
    for _ in range(n_iter):
        contrib = (
            ranks.join(e, ranks["vertex"] == e["src"])
            .join(out_deg, "src")
            .select(
                F.col("dst").alias("vertex"),
                F.expr("rank_micro div out_n").alias("share"),
            )
            .groupBy("vertex")
            .agg(F.sum("share").alias("inflow"))
        )
        ranks = verts.join(contrib, "vertex", "left").select(
            "vertex",
            (
                F.lit(base).cast("long")
                + F.expr(
                    f"CAST({damping_num} AS BIGINT)"
                    " * coalesce(inflow, CAST(0 AS BIGINT))"
                    f" div {damping_den}"
                )
            ).alias("rank_micro"),
        )
    return ranks


def triangle_count(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """(vertex, n_triangles): exact per-vertex triangle counts over
    the undirected simple graph induced by ``edges`` (direction,
    duplicate edges and self-loops are normalized away).

    Degree-ordered orientation (the compact-forward algorithm): every
    undirected edge is oriented from its lower-(degree, id) endpoint
    to the higher one, making the graph a DAG whose out-degrees are
    bounded by O(sqrt(m)).  Wedges are then a self-equi-join of the
    oriented adjacency on the shared LOW endpoint, and a wedge closes
    into a triangle iff the oriented edge between its two high
    endpoints exists (checked with a semi-join — equi keys only,
    never a cartesian).  Each triangle is discovered exactly once (at
    its lowest-ordered vertex), so exploding the three corners yields
    exact per-vertex counts, independent of partitioning.

    Scale: the naive neighbor-pair enumeration is quadratic in the
    degree of HUB vertices (a 10M-degree vertex would emit 5*10^13
    wedges); degree orientation caps every vertex's enumerated pairs
    at C(out_deg, 2) with out_deg <= sqrt(2m), the classical
    m^(3/2) total bound.  Three shuffles: degree agg, wedge join,
    closing semi-join; all map-side-combinable or equi-keyed.
    Counts are exact integers, so a DuckDB twin that enumerates
    triangles in ID order (a completely different orientation)
    matches bit-for-bit.
    """
    e = (
        edges.select(
            F.least(src_col, dst_col).alias("a"),
            F.greatest(src_col, dst_col).alias("b"),
        )
        .filter(
            F.col("a").isNotNull()
            & F.col("b").isNotNull()
            & (F.col("a") != F.col("b"))
        )
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    keyed = (
        e.join(deg.select(F.col("v").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("d").alias("db")), "b")
    )
    a_first = F.struct(F.col("da").alias("d"), F.col("a").alias("v")) < F.struct(
        F.col("db").alias("d"), F.col("b").alias("v")
    )
    # NOTE (round 11): materializing e/oriented with localCheckpoint
    # was tried (47 exchanges -> 5 in the plan) and REVERTED: wall was
    # a wash at sf0.1 (the duplicated subtrees run concurrently on
    # idle cores) and the cached blocks OOMed a 1 GB driver session
    # that the lazy plan survives. The duplication is bounded (the
    # oriented relation is slim and its re-derivation is two equi
    # joins), so the lazy shape stays.
    # NOTE (round 12): two single-plan restructures were built, measured
    # and REVERTED (plans/r12/triangle_count_*; VERDICT.md round-12 audit):
    # (a) full window shape — degrees from a count window over exploded
    # endpoints + wedges from per-lo sorted adjacency arrays + closure
    # as marker rows under a min-over-(x,y) window: 2 scans / 6
    # exchanges in the plan but 2.3x SLOWER (22.9 vs 9.8 s interleaved
    # A/B at bench config); (b) hybrid — join-based degree attach, only
    # the wedge self-join + semi-join replaced by adjacency arrays +
    # marker window: 1.9x slower (13.3 vs 7.1 s). Root cause, verified
    # in the executed plan (plans/r12/triangle_count_runtime_reuse.txt):
    # AQE reuses identical shuffle stages at RUNTIME — the final plan
    # carries 7 ReusedExchange nodes and only 11 real shuffle stages,
    # so the apparent ~10x re-derivation largely never executes, while
    # the restructures pay real new costs (two window sorts + an
    # ObjectHashAggregate collect where codegen'd joins ran before).
    # The static-plan Exchange count is a misleading metric for THIS
    # operator; the lazy shape is the measured optimum at both tested
    # scales.
    oriented = keyed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
        F.when(
            a_first, F.struct(F.col("db").alias("d"), F.col("b").alias("v"))
        )
        .otherwise(F.struct(F.col("da").alias("d"), F.col("a").alias("v")))
        .alias("hi_key"),
    )
    wedges = (
        oriented.select(
            F.col("lo").alias("u"),
            F.col("hi").alias("x"),
            F.col("hi_key").alias("xk"),
        )
        .join(
            oriented.select(
                F.col("lo").alias("u"),
                F.col("hi").alias("y"),
                F.col("hi_key").alias("yk"),
            ),
            "u",
        )
        .filter(F.col("xk") < F.col("yk"))
        .select("u", "x", "y")
    )
    triangles = wedges.join(
        oriented.select(F.col("lo").alias("x"), F.col("hi").alias("y")),
        ["x", "y"],
        "left_semi",
    )
    return (
        triangles.select(
            F.explode(F.array("u", "x", "y")).alias("vertex")
        )
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def k_core(edges: DataFrame, k: int, max_iter: int | None = None) -> DataFrame:
    """The k-core of an undirected graph: the maximal subgraph where
    every vertex has degree >= k — the community/spam-analysis
    companion to ``connected_components`` / ``pagerank`` /
    ``triangle_count`` (a dense crawl-link k-core is a link farm; a
    collaboration-graph k-core is a research community).

    Returns (vertex, core_degree): surviving vertices with their
    degree INSIDE the k-core.

    Algorithm: iterative peeling to the standard fixpoint — drop every
    vertex with current degree < k, recompute degrees on the induced
    subgraph, repeat until stable. Each round is: one partial-agged
    degree count + two semi-joins of the edge list against the
    surviving-vertex relation (equi-joins, AQE-sized) +
    ``localCheckpoint`` to cut lineage (the connected_components
    discipline, components.py:18). Convergence is a deterministic
    count comparison, never an accumulator (retry-safe). Rounds are
    data-dependent but bounded: each round removes >= 1 vertex or
    terminates, and real graphs peel in a handful of rounds; an
    ``max_iter=None`` (default) iterates to the fixpoint: peeling
    removes at least one vertex per round, so it ALWAYS terminates
    within |V| rounds — a fixed cap is wrong for legitimately
    deep-peeling graphs (a 300-vertex path at k=2 sheds only its two
    endpoints per round, ~150 rounds to the correct empty core). Pass
    an explicit ``max_iter`` as a safety budget; exceeding it raises
    rather than returning silently-wrong cores. Not expressible as a
    bounded SQL twin (the fixpoint depth is data-dependent), so
    correctness is pinned by a brute-force Python peeling differential
    in pytest — the MRHDBSCAN-kernel check pattern."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    sym = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionAll(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    n_edges = sym.count()
    import itertools

    rounds = range(max_iter) if max_iter is not None else itertools.count()
    for _ in rounds:
        deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select(F.col("a").alias("v"))
        pruned = (
            sym.join(keep.select(F.col("v").alias("a")), on="a", how="left_semi")
            .join(keep.select(F.col("v").alias("b")), on="b", how="left_semi")
            .localCheckpoint()
        )
        n_next = pruned.count()
        sym = pruned
        if n_next == n_edges:
            return sym.groupBy(F.col("a").alias("vertex")).agg(
                F.count(F.lit(1)).alias("core_degree")
            )
        n_edges = n_next
        if n_edges == 0:
            return sym.groupBy(F.col("a").alias("vertex")).agg(
                F.count(F.lit(1)).alias("core_degree")
            )
    raise RuntimeError(
        f"k_core did not converge within {max_iter} peeling rounds"
    )
