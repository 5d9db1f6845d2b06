"""bubbles benchmark: MRHDBSCAN fit -> predict -> hierarchy_at on one
seeded workload, on local[nproc].

    python3 perfbench/run.py --workload gauss1_leafheavy --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. Prints one JSON object as the last line of
standard output: ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (see README.md). Every call is checked; a call that fails
its check or raises counts in ``failed`` and its time is left out.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np

from checks import Gate, adjusted_rand_index, labels_by_id
from workloads import WORKLOADS, generate

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# the first fit of a session runs 2.5-3x the warm time, the second 1.05-1.25x
WARMUP_FITS = 2
# hierarchy_at calls per measured fit: the call is cheap and short, so
# each run samples it more often and reports the median
HIERARCHY_REPEATS = 5
GEN_REPEATS = 3  # set-up input generation is repeated, its median kept
# fitted points re-predicted by the self-consistency check
N_SELF_CHECK = 2000
# a small input read back as a single split would run predict's per-row
# kernel in one task
INPUT_FILES = 4


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _vm_hwm_mb() -> float:
    """Peak resident set size of this process."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc/self/status")


def start_session(work: str, cores: int):
    """A local[cores] session whose scratch files all stay under
    ``work``; workers import ``bubbles`` from the repository root."""
    for sub in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("bubbles-perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.driver.memory", "2g")
        # no hsperfdata file: it would go to the system temp dir, outside ``work``
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
        )
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # shuffle files freed by the settle step's GC are deleted there,
        # not in the middle of the next measured call
        .config("spark.cleaner.referenceTracking.blocking.shuffle", "true")
        # the fit generates more codegen fragments than the default
        # 100-entry class cache holds; a thrashing cache re-JITs per call
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # the traced run reads each call's jobs from the status store
        .config("spark.ui.retainedJobs", "5000")
        .config("spark.ui.retainedStages", "5000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def write_parquet(path: str, ids: np.ndarray, feat: np.ndarray) -> None:
    """(point_id long, features array<double>) as INPUT_FILES files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    dim = feat.shape[1]
    offsets = pa.array(np.arange(0, feat.size + 1, dim, dtype=np.int32))
    table = pa.table(
        {
            "point_id": pa.array(ids, pa.int64()),
            "features": pa.ListArray.from_arrays(
                offsets, pa.array(feat.ravel(), pa.float64())
            ),
        }
    )
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    step = -(-len(ids) // INPUT_FILES)
    for i in range(INPUT_FILES):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i}.parquet"))


def tree_levels(model, k: int) -> list[float]:
    """k geometrically spaced levels from the lowest positive cluster death
    to the highest cluster birth of the fitted tree: the fixed level list
    of the hierarchy query."""
    t = model.cluster_tree.select("birth_level", "death_level").toArrow()
    vals = np.concatenate(
        [t.column(c).to_numpy(zero_copy_only=False) for c in ("birth_level", "death_level")]
    )
    vals = vals[np.isfinite(vals) & (vals > 0)]
    lo, hi = float(vals.min()), float(vals.max())
    if hi <= lo:
        lo, hi = lo / 2.0, lo * 2.0
    return [float(x) for x in np.geomspace(lo, hi, k)]


class Bench:
    """One workload in one session: its inputs, the checked calls, and the
    attempted / failed call counts."""

    def __init__(self, spark, workload, seed: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.w = workload
        self.seed = seed
        self.attempted = 0
        self.failed = 0
        self.first_labels = None
        self.levels = None
        self.jvm_mem = self.sc._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        # largest heap use seen right after a settle step's full collection
        self.jvm_live_peak_mb = 0.0

    def write_inputs(self, work: str) -> float:
        """Generate and write the inputs GEN_REPEATS times (identical
        bytes each time); returns the median generate+write time."""
        w = self.w
        times = []
        for _ in range(GEN_REPEATS):
            t0 = time.perf_counter()
            X, comp, Q, qcomp = generate(w, self.seed)
            n = len(X)
            # self-check rows: fitted points re-predicted under their own ids
            self_ids = np.linspace(0, n - 1, N_SELF_CHECK).astype(np.int64)
            write_parquet(os.path.join(work, "fit"), np.arange(n), X)
            write_parquet(
                os.path.join(work, "queries"),
                np.concatenate([np.arange(n, n + len(Q)), self_ids]),
                np.concatenate([Q, X[self_ids]]),
            )
            times.append(time.perf_counter() - t0)
        self.comp, self.qcomp, self.self_ids = comp, qcomp, self_ids
        self.dim = X.shape[1]
        self.df = self.spark.read.parquet(os.path.join(work, "fit"))
        self.qdf = self.spark.read.parquet(os.path.join(work, "queries"))
        return statistics.median(times)

    def settle(self, drop_cached: bool) -> None:
        """Outside every timed region: free Python and JVM garbage, and
        before a fit also every persisted block of the previous cycle
        (blocking, so the cleanup does not land inside the next call).
        Records the JVM's live heap for ``driver_peak_mb``."""
        gc.collect()
        if drop_cached:
            for rdd in self.sc._jsc.getPersistentRDDs().values():
                rdd.unpersist(True)
        self.sc._jvm.System.gc()
        # right after a full collection the heap holds only live objects
        live = self.jvm_mem.getHeapMemoryUsage().getUsed() / 2**20
        self.jvm_live_peak_mb = max(self.jvm_live_peak_mb, live)

    def _count(self, gate: Gate) -> bool:
        self.attempted += 1
        if not gate.ok:
            self.failed += 1
            for msg in gate.failures:
                print(f"CHECK FAILED: {msg}", file=sys.stderr)
        return gate.ok

    # -- the three public calls, each checked ---------------------------
    def fit(self, span):
        from bubbles.plans.mrhdbscan import MRHDBSCAN

        self.settle(drop_cached=True)
        with span("fit") as rec:
            t0 = time.perf_counter()
            model = MRHDBSCAN(**self.w.fit).fit(self.df)
            tbl = model.labels.toArrow()
            dt = time.perf_counter() - t0
        if rec is not None:
            rec["iterations"] = model.n_iterations
        gate = Gate("fit")
        labels = labels_by_id(tbl, self.w.n_points, gate)
        ari = None
        if labels is not None:
            ari = adjusted_rand_index(self.comp, labels)
            gate.check(ari >= self.w.min_ari, f"ari {ari:.4f} < {self.w.min_ari}")
            if self.first_labels is None:
                self.first_labels = labels
            gate.check(
                np.array_equal(labels, self.first_labels),
                "labels differ from the first fit of this run",
            )
        return model, labels, dt, ari, self._count(gate)

    def predict(self, model, labels, span):
        self.settle(drop_cached=False)
        with span("predict"):
            t0 = time.perf_counter()
            out = model.predict(self.df, self.qdf, **self.w.predict)
            tbl = out.select("point_id", "label").toArrow()
            dt = time.perf_counter() - t0
        bc = getattr(out, "_reference_broadcast", None)
        if bc is not None:
            bc.unpersist(True)
        gate = Gate("predict")
        n, nq = self.w.n_points, self.w.n_queries
        ids = tbl.column("point_id").to_numpy()
        pred = tbl.column("label").to_numpy()
        expect = np.sort(np.concatenate([np.arange(n, n + nq), self.self_ids]))
        order = np.argsort(ids, kind="stable")
        ids, pred = ids[order], pred[order]
        gate.check(np.array_equal(ids, expect), "query ids not answered exactly once")
        ari = None
        if gate.ok:
            held = ids >= n
            ari = adjusted_rand_index(self.qcomp[ids[held] - n], pred[held])
            gate.check(
                ari >= self.w.min_ari,
                f"predict_ari {ari:.4f} < {self.w.min_ari}",
            )
            agree = np.mean(pred[~held] == labels[ids[~held]])
            gate.check(agree == 1.0, f"self-prediction agreement {agree:.4f} < 1")
        return dt, ari, self._count(gate)

    def hierarchy(self, model, span):
        if self.levels is None:
            self.levels = tree_levels(model, self.w.n_levels)
        self.settle(drop_cached=False)
        with span("hierarchy"):
            t0 = time.perf_counter()
            tbl = model.hierarchy_at(self.levels).toArrow()
            dt = time.perf_counter() - t0
        gate = Gate("hierarchy_at")
        want = self.w.n_points * len(self.levels)
        gate.check(tbl.num_rows == want, f"{tbl.num_rows} rows, expected {want}")
        return dt, self._count(gate)

    def cycle(self, tracer=None, predicts: int = 1, hierarchies: int = 1) -> dict:
        """One fit, then predict and hierarchy_at calls on the fitted model
        (they leave it unchanged). Times of passed calls are lists. A call
        that raises counts as failed and ends the cycle."""
        span = tracer.span if tracer else (lambda name: contextlib.nullcontext())
        row = {"fit_s": [], "predict_s": [], "hierarchy_s": []}
        try:
            model, labels, dt, row["ari"], ok = self.fit(span)
            if not ok:
                return row
            row["fit_s"].append(dt)
            for _ in range(predicts):
                dt, row["predict_ari"], ok = self.predict(model, labels, span)
                if ok:
                    row["predict_s"].append(dt)
            for _ in range(hierarchies):
                dt, ok = self.hierarchy(model, span)
                if ok:
                    row["hierarchy_s"].append(dt)
        except Exception:
            traceback.print_exc()
            self.attempted += 1
            self.failed += 1
        return row


def _med(rows, key):
    vals = []
    for r in rows:
        v = r.get(key)
        vals.extend(v if isinstance(v, list) else [] if v is None else [v])
    return statistics.median(vals) if vals else None


def _timed_cycles(seconds: float, one):
    """Run ``one()`` in a closed loop (one caller, one call at a time) for
    about ``seconds``: at least once, and again while the time left is at
    least half the last call's."""
    rows = []
    t0 = time.perf_counter()
    while True:
        c0 = time.perf_counter()
        rows.append(one())
        last = time.perf_counter() - c0
        if seconds - (time.perf_counter() - t0) < last / 2:
            return rows


def untraced(b: Bench, seconds: float) -> dict:
    rows = _timed_cycles(seconds, lambda: b.cycle(hierarchies=HIERARCHY_REPEATS))
    print(f"measured {len(rows)} cycles: {rows}", file=sys.stderr)
    return {
        "fit_s": (_med(rows, "fit_s"), "s"),
        "predict_s": (_med(rows, "predict_s"), "s"),
        "hierarchy_s": (_med(rows, "hierarchy_s"), "s"),
        "ari": (_med(rows, "ari"), "ARI"),
        "predict_ari": (_med(rows, "predict_ari"), "ARI"),
    }


def traced(b: Bench, seconds: float) -> dict:
    from layers import kernel_rows, operator_rows
    from sparktrace import Tracer

    tracer = Tracer(b.spark)
    cycles = 0

    def one():
        # the second fit of a cycle may run faster or slower than the
        # first, traced or not: which fit goes first alternates by seed
        # and by cycle, so that the order cancels in trace.overhead_s
        nonlocal cycles
        traced_first = (b.seed + cycles) % 2 == 0
        cycles += 1
        if traced_first:
            row = b.cycle(tracer)
            plain = b.cycle(predicts=0, hierarchies=0)
        else:
            plain = b.cycle(predicts=0, hierarchies=0)
            row = b.cycle(tracer)
        row["plain_fit_s"] = plain["fit_s"]
        return row

    rows = _timed_cycles(seconds, one)
    b.settle(drop_cached=True)
    ops, bubbles = operator_rows(b.spark, tracer, b.w, b.df, b.dim)
    for rec in tracer.spans:
        print(f"span: {json.dumps(rec)}", file=sys.stderr)

    def span_med(name, key):
        return statistics.median(s[key] for s in tracer.spans if s["name"] == name)

    m = {}
    for call, keys in (
        ("fit", ("spark_busy_s", "driver_only_s", "task_s", "jobs", "stages", "tasks",
                 "shuffle_write_mb", "iterations", "gc_s", "jit_s")),
        ("predict", ("spark_busy_s", "driver_only_s", "task_s", "jobs", "shuffle_write_mb")),
        ("hierarchy", ("driver_only_s", "spark_busy_s", "jobs")),
    ):
        for key in keys:
            m[f"{call}.{key}"] = span_med(call, key)
    m["fit.parallelism"] = m["fit.task_s"] / m["fit.spark_busy_s"]
    m["trace.overhead_s"] = _med(rows, "fit_s") - _med(rows, "plain_fit_s")
    m.update(ops)
    m.update(kernel_rows(b.w, bubbles))
    return {k: (v, _unit(k)) for k, v in m.items()}


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("ns_per_pair"):
        return "ns"
    if name.endswith("parallelism"):
        return "x"
    return "count"


def run(args) -> dict:
    w = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, cores)
        session_s = time.perf_counter() - t0
        b = Bench(spark, w, args.seed)
        gen_s = b.write_inputs(work)
        t0 = time.perf_counter()
        # warm-up: a full cycle, then fits only (the fit warms slowest)
        print(f"warm-up: {b.cycle()}", file=sys.stderr)
        for _ in range(WARMUP_FITS - 1):
            print(f"warm-up: {b.cycle(predicts=0, hierarchies=0)}", file=sys.stderr)
        warm_s = time.perf_counter() - t0
        print(
            f"setup: session {session_s:.2f}s inputs {gen_s:.2f}s "
            f"warm-up {warm_s:.2f}s",
            file=sys.stderr,
        )
        if args.trace:
            metrics = traced(b, args.seconds)
        else:
            metrics = untraced(b, args.seconds)
            metrics["setup_s"] = (session_s + gen_s + warm_s, "s")
            b.settle(drop_cached=False)  # the live heap after the last call
            py_mb = _vm_hwm_mb()
            nonheap_mb = b.jvm_mem.getNonHeapMemoryUsage().getUsed() / 2**20
            print(
                f"driver memory: python peak rss {py_mb:.1f} MB, jvm peak live heap "
                f"{b.jvm_live_peak_mb:.1f} MB, jvm non-heap {nonheap_mb:.1f} MB",
                file=sys.stderr,
            )
            metrics["driver_peak_mb"] = (py_mb + b.jvm_live_peak_mb + nonheap_mb, "MB")
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    return {
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    try:
        import bubbles
    except ImportError as e:
        print(f"perfbench: cannot import bubbles from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(bubbles.__file__).startswith(os.path.join(ROOT, "")):
        # the benchmark measures the checkout it sits in, nothing else
        print(f"perfbench: bubbles imported from {bubbles.__file__}", file=sys.stderr)
        return 2
    try:
        result = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
