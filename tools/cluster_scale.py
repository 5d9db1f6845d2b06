"""Scaling evidence for the CLUSTERING path: MR-HDBSCAN fit on the
bench's lineitem feature space at 60k / 600k / 6M points, recording
seconds and µs/pt into SCALEBENCH.json (key ``mrhdbscan_lineitem``).

Pipeline ops already have measured 10x/100x rows (tools/
pipeline_scale.py); this closes the same loop for the fit loop so a
super-linear regression in sampling / bubble agg / contraction is
caught by a number, not an argument.

Corpus construction mirrors bench.py's mrhdbscan_lineitem row:
- 60k  = sf0.01 lineitem (real data)
- 600k = sf0.1 lineitem (real data, the per-round benched point)
- 6M   = sf0.1 replicated 10x with a deterministic hash-derived
  jitter (±0.5 per axis, small vs the feature ranges ~[0..95]) — the
  density landscape keeps its shape, every region just gets 10x
  denser, which is exactly the "same data distribution, more of it"
  scale-up the 100 TB story cares about.

min_cluster_size scales with n (n/3000, = the benched 200 at 600k)
so the extracted hierarchy stays comparable instead of fragmenting
into thousands of micro-clusters at 6M.

Usage: python tools/cluster_scale.py [ns ...]   (default: 60000
600000 6000000). 60k/600k take warmup + median-of-3; 6M is warmup-free
single-rep (the 600k warmup already JIT-compiles every kernel) —
documented in SCALE.md.
"""

from __future__ import annotations

import json
import statistics
import sys
import time

sys.path.insert(0, ".")


def main():
    ns = [int(x) for x in sys.argv[1:]] or [60_000, 600_000, 6_000_000]

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from bubbles import MRHDBSCAN

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "48g")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    def feats(sf_dir: str):
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        return li.select(
            F.monotonically_increasing_id().alias("point_id"),
            F.array(
                F.col("l_quantity"),
                F.log1p("l_extendedprice") * F.lit(8.0),
                F.col("l_discount") * F.lit(120.0),
                F.col("l_tax") * F.lit(120.0),
            ).alias("features"),
        )

    def corpus(n: int):
        if n <= 60_000:
            return feats("/root/testdata/sf0.01")
        base = feats("/root/testdata/sf0.1")
        if n <= 600_000:
            return base
        factor = n // 600_000
        rep = spark.range(factor).select(F.col("id").alias("rep"))
        # deterministic jitter: pmod(hash, 1001)/1000 - 0.5 ∈ [-.5, .5]
        jittered = F.transform(
            "features",
            lambda v, i: v
            + (
                F.pmod(
                    F.hash(F.col("point_id") * F.lit(7) + F.col("rep") + i),
                    F.lit(1001),
                ).cast("double")
                / F.lit(1000.0)
                - F.lit(0.5)
            ),
        )
        df = base.crossJoin(rep).select(
            (F.col("point_id") * factor + F.col("rep")).alias("point_id"),
            jittered.alias("features"),
        )
        # materialize so the fit timing excludes replication
        return df.repartition(64).localCheckpoint()

    import os

    # SPARK_GRAFT_RECURSIVE: "0" forces the single-level contraction
    # (A/B baseline), "1" forces level 2, unset = the shipping "auto"
    rec_env = os.environ.get("SPARK_GRAFT_RECURSIVE")
    recursive = "auto" if rec_env is None else rec_env == "1"

    def fit(pts, n):
        model = MRHDBSCAN(
            min_pts=4,
            min_cluster_size=max(50, n // 3000),
            sample_fraction=0.05,
            max_local_size=4096,
            max_samples_per_subset=768,
            seed=42,
            dim=4,
            recursive_contraction=recursive,
        ).fit(pts)
        return model.labels.count(), model.n_iterations

    results: dict[str, dict[str, float]] = {}
    for n in ns:
        pts = corpus(n)
        reps = 3 if n <= 600_000 else 1
        if n <= 600_000:
            fit(pts, n)  # warmup (JIT, codegen, shuffle-file reuse)
        runs = []
        iters = rows = None
        for _ in range(reps):
            t0 = time.time()
            rows, iters = fit(pts, n)
            runs.append(round(time.time() - t0, 2))
        el = round(statistics.median(runs), 2)
        us_pt = round(el * 1e6 / n, 1)
        results[str(n)] = el
        print(
            f"mrhdbscan_lineitem n={n:>8d}  {el:8.2f}s  {us_pt:6.1f} µs/pt"
            f"  median of {runs}  ({rows} labeled, {iters} iters)",
            flush=True,
        )

    try:
        with open("SCALEBENCH.json") as f:
            merged = json.load(f)
    except FileNotFoundError:
        merged = {}
    key = (
        "mrhdbscan_lineitem_singlelevel"
        if recursive is False
        else "mrhdbscan_lineitem"
    )
    merged.setdefault(key, {}).update(results)
    with open("SCALEBENCH.json", "w") as f:
        json.dump(merged, f, indent=1)
    print("wrote SCALEBENCH.json")
    spark.stop()


if __name__ == "__main__":
    main()
