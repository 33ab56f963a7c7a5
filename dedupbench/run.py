"""Dedup benchmark: closed-loop operation latency per workload, plus a
traced run for the per-stage Spark ledger.

    python3 dedupbench/run.py --workload full_2k_bounded --seed 1 \\
        --seconds 10 --trace 0

One driver process runs Spark on local[4] and one client issues the
next operation only after the previous one completed (closed loop).
An operation is one `DedupPipeline.run(resume=False)` or one
`DedupPipeline.run_incremental` batch fold, timed until its cluster
table is written. Every operation's output is checked; the last line
of stdout is one JSON object:
    {"correct", "attempted", "failed", "metrics": {name: {value, unit}}}
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). See README.md in this directory for the metric list.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".dedupbench")

# Host sizing: this host has 4 cores and 16 GB shared with others; the
# package's 16g driver-heap default is all of it. 2g holds the 2,000-clip
# workloads with room to spare.
MASTER = "local[4]"
DRIVER_MEM = "2g"
N_CLIPS = 2000
MAX_CLUSTER_SIZE = 20
RECALL_MIN = 0.99
# Dup-pair precision against the same oracle. The oracle pairs every
# bucket in full and verifies at the same config with the same kernels,
# so the pipeline's edges are a subset of its edges and its clusters
# refine the oracle's: precision is exactly 1.0 (on every seed
# measured). Anything less means over-merged clusters; joining the two
# smallest clusters of the seed-42 corpus reads 0.998, which a 0.99
# gate would pass.
PRECISION_MIN = 1.0
# Dedup stats of the 2,000-clip seed-42 corpus: part of the pipeline's
# behaviour contract, bit-identical on every run.
SEED42_STATS = {"n_candidates": 3973, "n_edges": 1953, "n_clusters": 81}
# Warm-up for full_2k_bounded: one from-scratch run on a small fixed
# corpus, while a new seed's corpus is still being generated. The JVM
# (codegen, JIT) and the Python workers start cold in every process; the
# first in-session 2k run takes 2-3x the steady time. A further 2k
# warm-up run cost ~20 s per run and did not narrow the run-to-run
# spread of op_s (0.15 vs 0.17 over ten seeds; see README.md).
WARM_CLIPS, WARM_SEED = 300, 0
# a tighter bound than the timed runs' so the small corpus's hot group
# (15 clips) is subdivided during warm-up too
WARM_MAX_CLUSTER_SIZE = 5


def _env() -> None:
    """Keep every file Spark, the JVM and the Python workers write
    inside the checkout, and let workers import the package."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # the JVM's temp files inside the checkout, no /tmp/hsperfdata; set
    # here so the package's own spark.driver.extraJavaOptions stay as
    # they are
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    sys.path.insert(0, ROOT)


def start_session():
    from record_deduplication_spark.session import build_session
    return build_session(app="dedupbench", master=MASTER, extra={
        "spark.ui.showConsoleProgress": "false",
        # the ledger reads every job and stage of the session back
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # sample the JVM's heap for jvm.peak_heap_mb every 100 ms, not
        # only at the 10 s heartbeat
        "spark.executor.metrics.pollingInterval": "100ms",
    })


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python worker
    daemon) to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # never leave the JVM behind
            proc.kill()
            proc.wait()


def jvm_peak_mb(sc) -> float:
    """The JVM's peak heap plus non-heap use over the session, from the
    status store's executor peak memory metrics (local mode: the one
    executor is the driver). Per layer only: it follows G1's heap
    sizing, and identical runs differ by up to a quarter."""
    execs = sc._jsc.sc().statusStore().executorList(True)  # noqa: SLF001
    total = 0.0
    for i in range(execs.size()):
        peak = execs.apply(i).peakMemoryMetrics()
        if peak.isDefined():
            total += sum(peak.get().getMetricValue(k) for k in
                         ("JVMHeapMemory", "JVMOffHeapMemory")) / 2 ** 20
    return total


def python_peak_rss_mb() -> float:
    """Sum of VmHWM over the Python processes of this run, from /proc:
    this process and its descendants (the workers) except the JVM,
    whose resident size follows how far G1 grew its heap (see
    jvm_peak_mb). An upper bound on the simultaneous peak."""
    kids: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            kids.setdefault(ppid, []).append(int(p))
    hwm, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                status = dict(line.split(":", 1) for line in f)
        except OSError:
            continue
        name = status["Name"].strip()
        if name != "java":
            hwm[f"{name}:{pid}"] = int(
                status.get("VmHWM", "0 kB").split()[0]) / 1024.0
    print("peak rss MB: " + ", ".join(f"{k}={v:.0f}" for k, v in hwm.items()),
          file=sys.stderr)
    return sum(hwm.values())


def dir_stats(d: str) -> tuple[int, int]:
    """(bytes, parquet data files) under a directory."""
    size = files = 0
    for base, _, names in os.walk(d):
        for n in names:
            size += os.path.getsize(os.path.join(base, n))
            files += n.endswith(".parquet")
    return size, files


class Bench:
    """One benchmark process: the session, the op loop, the checks."""

    def __init__(self, args):
        self.args = args
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.run_dir = os.path.join(WORK, "runs", str(os.getpid()))
        self.ops: list[dict] = []
        self.spark = None
        self.tracer = None
        self.prep_s = 0.0  # input preparation inside set-up, not counted
        self.builds: list = []  # corpus builds running in child processes

    def workdir(self, tag: str) -> str:
        d = os.path.join(self.run_dir, tag)
        shutil.rmtree(d, ignore_errors=True)
        return d

    # ---- the timed operation ----
    def timed(self, fn, traced: bool) -> tuple[object, float, str]:
        """Run one operation under its own job group (traced: a root
        span whose children are the patched entry points)."""
        sc = self.spark.sparkContext
        if traced:
            with self.tracer.patched(), self.tracer.span("op") as s:
                t = time.perf_counter()
                out = fn()
                wall = time.perf_counter() - t
            return out, wall, s.sid
        group = f"op:{len(self.ops)}"
        sc.setJobGroup(group, "benchmark operation")
        try:
            t = time.perf_counter()
            out = fn()
            wall = time.perf_counter() - t
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, wall, group

    def check_group(self):
        self.spark.sparkContext.setJobGroup("check", "benchmark check")

    def corpus(self, n: int, seed: int):
        """Start building (or find cached) the corpus; see corpus.Pending."""
        from corpus import corpus_dir
        self.builds.append(corpus_dir(os.path.join(WORK, "corpus"), n, seed))
        return self.builds[-1]

    def untimed(self, fn, *args):
        """Input preparation that may land inside set-up (a corpus build
        still running, a first-time fold split): excluded from setup_s."""
        t = time.perf_counter()
        out = fn(*args)
        self.prep_s += time.perf_counter() - t
        return out

    def loop(self, step) -> None:
        """Closed loop: `step(traced)` runs and checks one operation;
        the next starts only when it returned, until --seconds passed.
        A traced run alternates untraced/traced ops and ends on an
        untraced one, at least U T U, so that each traced op sits
        between untraced ones for the tracing-overhead estimate."""
        t_end = time.time() + self.args.seconds
        while True:
            traced = self.trace and len(self.ops) % 2 == 1
            step(traced)
            if time.time() >= t_end and (
                    not self.trace or (len(self.ops) >= 3
                                       and len(self.ops) % 2 == 1)):
                break

    def record(self, wall, tag, traced, clips, checks: dict, **extra):
        ok = all(checks.values())
        print(f"op {len(self.ops)}: {wall:.2f} s traced={traced} "
              f"failed={[k for k, v in checks.items() if not v]} "
              f"recall={extra.get('recall')} "
              f"precision={extra.get('precision')} "
              f"stats={extra.get('stats')}", file=sys.stderr)
        self.ops.append({"wall_s": wall, "tag": tag, "traced": traced,
                         "clips": clips, "ok": ok, **extra})

    # ---- workloads ----
    def full_2k_bounded(self) -> None:
        """From-scratch runs of the 2,000-clip corpus, size-bounded."""
        from corpus import Oracle
        from record_deduplication_spark.plans.pipeline import DedupPipeline
        # a new seed's corpus is generated in a child process while the
        # session starts and warms up
        pending = self.corpus(N_CLIPS, self.seed)
        warm = self.corpus(WARM_CLIPS, WARM_SEED).wait()

        t0 = time.perf_counter()
        self.spark = start_session()
        DedupPipeline(self.spark, self.workdir("warm")).run(
            self.spark.read.parquet(os.path.join(warm, "clips.parquet")),
            resume=False, max_cluster_size=WARM_MAX_CLUSTER_SIZE)
        corpus = self.untimed(pending.wait)
        self.input_path = os.path.join(corpus, "clips.parquet")
        clips = self.spark.read.parquet(self.input_path)
        self.setup_s = time.perf_counter() - t0 - self.prep_s
        oracle = Oracle(corpus)
        self.prepare_trace()

        def step(traced):
            wd = self.workdir("wd")
            pipe = DedupPipeline(self.spark, wd)
            try:
                res, wall, tag = self.timed(
                    lambda: pipe.run(clips, resume=False,
                                     max_cluster_size=MAX_CLUSTER_SIZE), traced)
            except Exception:  # noqa: BLE001 — a failed op is counted
                traceback.print_exc()
                self.record(0.0, None, traced, 0, {"raised": False})
                return
            self.check_group()
            c = res.clusters.toPandas()
            bounded = res.subdivided.toPandas()
            sub = bounded.merge(c, on="clip_id", how="left")
            keyed = sub[sub["cluster_key"].notna()]
            sizes = keyed.groupby("cluster_key").size()
            refines = keyed.groupby("cluster_key")["cluster_id"].nunique()
            recall, precision = oracle.scores(c)
            checks = {
                "recall": recall >= RECALL_MIN,
                "precision": precision >= PRECISION_MIN,
                "all_clips": (len(c) == c["clip_id"].nunique()
                              == res.stats["n_clips"] == N_CLIPS),
                "bounded": bool((sizes <= MAX_CLUSTER_SIZE).all()),
                "refines": bool((refines == 1).all()
                                and keyed["cluster_id"].notna().all()),
                # every clip appears once in the bounded table, and a
                # clustered clip does not lose its key
                "covers": (len(bounded) == bounded["clip_id"].nunique()
                           == len(c)
                           and set(bounded["clip_id"]) == set(c["clip_id"])
                           and bool(sub.loc[sub["cluster_id"].notna(),
                                            "cluster_key"].notna().all())),
            }
            if self.seed == 42:
                checks["seed42_stats"] = all(
                    res.stats[k] == v for k, v in SEED42_STATS.items())
            self.record(wall, tag, traced, res.stats["n_clips"], checks,
                        recall=recall, precision=precision,
                        stats=res.stats, workdir=wd,
                        input_bytes=os.path.getsize(self.input_path),
                        **self.traced_extras(pipe, wd, traced))
        self.loop(step)

    def fold_2k(self) -> None:
        """Incremental folds of ~50-clip batches into a 1,600-clip base."""
        from corpus import FOLD_BATCHES, Oracle, fold_split, same_partition
        from record_deduplication_spark.plans.pipeline import DedupPipeline
        pending = self.corpus(N_CLIPS, self.seed)

        t0 = time.perf_counter()
        self.spark = start_session()
        corpus = self.untimed(pending.wait)
        self.input_path = os.path.join(corpus, "clips.parquet")
        split = self.untimed(fold_split, self.spark, corpus)
        read = self.spark.read.parquet
        # Warm-up: a from-scratch run over base + batch 0, which is also
        # the fold check's reference when the loop folds one batch; then
        # the base run, and one fold of batch 0 into a throwaway copy of
        # the base, so the incremental path is warm too.
        ref = DedupPipeline(self.spark, self.workdir("ref")).run(
            read(split["base"], split["batches"][0]), resume=False)
        base_dir = self.workdir("base")
        base = DedupPipeline(self.spark, base_dir).run(
            read(split["base"]), resume=False)
        warm = self.workdir("warm")
        shutil.copytree(base_dir, warm)
        DedupPipeline(self.spark, warm).run_incremental(
            read(split["batches"][0]), read(split["base"], split["batches"][0]))
        shutil.rmtree(warm)
        wd = self.workdir("wd")
        shutil.copytree(base_dir, wd)
        self.setup_s = time.perf_counter() - t0 - self.prep_s
        oracle = Oracle(corpus)
        self.prepare_trace()

        state = {"k": 0, "n_edges": base.stats["n_edges"],
                 "ids": list(split["base_ids"])}

        def step(traced):
            k = state["k"]
            if k == FOLD_BATCHES:  # every batch folded: start over
                shutil.rmtree(wd)
                shutil.copytree(base_dir, wd)
                state.update(k=0, n_edges=base.stats["n_edges"],
                             ids=list(split["base_ids"]))
                k = 0
            batch = self.spark.read.parquet(split["batches"][k])
            upto = self.spark.read.parquet(split["base"],
                                           *split["batches"][:k + 1])
            pipe = DedupPipeline(self.spark, wd)
            try:
                res, wall, tag = self.timed(
                    lambda: pipe.run_incremental(batch, upto), traced)
            except Exception:  # noqa: BLE001 — a failed op is counted
                traceback.print_exc()
                self.record(0.0, None, traced, 0, {"raised": False})
                state["k"] = FOLD_BATCHES  # the workdir is suspect: restart
                return
            state["ids"] += split["batch_ids"][k]
            self.check_group()
            c = res.clusters.toPandas()
            recall, precision = oracle.scores(c)
            checks = {
                "recall": recall >= RECALL_MIN,
                "precision": precision >= PRECISION_MIN,
                "batch": res.stats["n_new_clips"] == len(split["batch_ids"][k]),
                "all_clips": (len(c) == c["clip_id"].nunique()
                              and set(c["clip_id"]) == set(state["ids"])),
            }
            self.record(wall, tag, traced, res.stats["n_new_clips"], checks,
                        recall=recall, precision=precision,
                        stats=res.stats, workdir=wd,
                        new_edges=res.stats["n_edges"] - state["n_edges"],
                        input_bytes=sum(os.path.getsize(p) for p in
                                        [split["base"], *split["batches"][:k + 1]]),
                        clusters=c, **self.traced_extras(pipe, wd, traced))
            state["n_edges"] = res.stats["n_edges"]
            state["k"] = k + 1
        self.loop(step)

        # Fold equivalence: the folded clusters must equal a from-scratch
        # run over the same clips (after the last batch: the full corpus).
        # Clusters, not edge counts: a fold legitimately keeps more edges.
        last = self.ops[-1]
        if last["ok"]:
            k = state["k"]
            self.check_group()
            if k != 1:
                ref = DedupPipeline(self.spark, self.workdir("ref")).run(
                    read(split["base"], *split["batches"][:k]), resume=False)
            if not same_partition(last["clusters"], ref.clusters.toPandas()):
                print("fold clusters differ from the from-scratch run",
                      file=sys.stderr)
                last["ok"] = False
        for op in self.ops:
            op.pop("clusters", None)

    def traced_extras(self, pipe, wd: str, traced: bool) -> dict:
        """What the per-layer rollup needs from a traced op's workdir
        before the next op replaces it: the op's stage windows, read
        back from the public metrics() table, and the workdir's size."""
        if not traced:
            return {}
        from pyspark.sql import functions as F
        m = pipe.store.metrics()
        last = m.agg(F.max("run_id")).collect()[0][0]
        rows = (m.where(F.col("run_id") == last)
                .select("stage", "ts_start", "ts_end", "duration_s")
                .collect())
        return {"stage_rows": [tuple(r) for r in rows],
                "disk": dir_stats(wd)}

    # ---- results ----
    def prepare_trace(self) -> None:
        if self.trace:
            from spans import Tracer
            self.tracer = Tracer(self.spark.sparkContext)

    def op_jobs(self, ledger, op) -> list[int]:
        if op["traced"]:
            groups = [s.group for s in self.tracer.subtree(op["tag"])]
        else:
            groups = [op["tag"]]
        return ledger.in_groups(groups)

    def end_to_end(self, ledger, rss_mb: float) -> dict:
        """{name: (value, unit)}; medians over the passing operations
        (0 when none passed: the run then reports correct=false)."""
        good = [op for op in self.ops if op["ok"]]

        def med(xs):
            xs = list(xs)
            return statistics.median(xs) if xs else 0.0
        return {
            "setup_s": (self.setup_s, "s"),
            "op_s": (med(op["wall_s"] for op in good), "s"),
            "clips_per_s": (med(op["clips"] / op["wall_s"] for op in good),
                            "1/s"),
            "pair_recall": (min((op["recall"] for op in good), default=0.0),
                            "ratio"),
            "ok_ops_ratio": (len(good) / len(self.ops), "ratio"),
            "spark_jobs_per_op": (med(len(self.op_jobs(ledger, op))
                                      for op in good), "count"),
            "peak_py_rss_mb": (rss_mb, "MB"),
        }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["full_2k_bounded", "fold_2k"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    _env()
    import record_deduplication_spark  # noqa: F401 — fail fast if absent
    from spans import SparkLedger
    print(f"dedupbench: {args.workload} seed={args.seed} master={MASTER} "
          f"heap={os.environ['SPARK_GRAFT_DRIVER_MEM']} "
          f"host_cpus={os.cpu_count()} work={WORK}", file=sys.stderr)

    bench = Bench(args)
    try:
        getattr(bench, args.workload)()
        bench.check_group()
        rss_mb = python_peak_rss_mb()
        ledger = SparkLedger(bench.spark.sparkContext)
        if args.trace:
            import pandas as pd
            from layers import per_layer
            metrics = per_layer(bench, ledger,
                                pd.read_parquet(bench.input_path),
                                jvm_peak_mb(bench.spark.sparkContext))
        else:
            metrics = bench.end_to_end(ledger, rss_mb)
    finally:
        for build in bench.builds:
            build.close()
        if bench.spark is not None:
            stop_session(bench.spark)
        shutil.rmtree(bench.run_dir, ignore_errors=True)
        shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)

    failed = sum(not op["ok"] for op in bench.ops)
    out = {"correct": failed == 0, "attempted": len(bench.ops),
           "failed": failed,
           "metrics": {k: {"value": v, "unit": u}
                       for k, (v, u) in metrics.items()}}
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
