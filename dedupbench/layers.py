"""Per-layer metrics of a traced run. Layers are the package's modules;
each name below says which module's work it measures. README.md maps
each one to the end-to-end metric and workload it should move."""

from __future__ import annotations

import statistics

STAGES = ("signed", "candidates", "edges", "clusters", "clusters_sub",
          "signed_inc", "candidates_inc", "edges_inc", "clusters_inc")
STAGE_FIELDS = {"wall_s": "s", "jobs": "count", "tasks": "count",
                "exec_run_s": "s", "exec_cpu_s": "s", "py_s": "s",
                "gc_s": "s", "shuffle_write_mb": "MB", "spill_mb": "MB"}
CHECKPOINT_CALLS = ("commit_txn", "partition_rows", "next_run_id", "flush",
                    "log")
KERNELS = ("decode_wav", "pcm_fingerprint_spectral", "minhash_signature",
           "longest_common_run", "pcm_allclose_snr")

# name -> (unit, better)
PER_LAYER: dict[str, tuple[str, str]] = {
    **{f"pipeline.{s}.{f}": (u, "lower")
       for s in STAGES for f, u in STAGE_FIELDS.items()},
    "pipeline.shuffle_write_mb": ("MB", "lower"),
    "pipeline.self_s": ("s", "lower"),
    "pipeline.other.jobs": ("count", "lower"),
    "blocking.candidates_per_clip": ("ratio", "lower"),
    "blocking.candidates_per_new_clip": ("ratio", "lower"),
    "verify_text.wall_s": ("s", "lower"),
    "verify_text.jobs": ("count", "lower"),
    "verify_audio.wall_s": ("s", "lower"),
    "verify_audio.jobs": ("count", "lower"),
    "verify_audio.survivor_ids": ("count", "lower"),
    "verify_audio.payload_mb": ("MB", "lower"),
    "verify.edges_per_candidate": ("ratio", "higher"),
    "cc.wall_s": ("s", "lower"),
    "cc.jobs": ("count", "lower"),
    "cc.edges_in": ("count", "lower"),
    "cc.star_path": ("count", "lower"),
    "subdivide.wall_s": ("s", "lower"),
    "subdivide.jobs": ("count", "lower"),
    "subdivide.levels": ("count", "lower"),
    **{f"checkpoint.{c}.{f}": (u, "lower")
       for c in CHECKPOINT_CALLS for f, u in (("wall_s", "s"),
                                               ("calls", "count"))},
    "checkpoint.bytes_per_input_byte": ("ratio", "lower"),
    "checkpoint.data_files": ("count", "lower"),
    **{f"kernel.{k}.{f}": (u, b) for k in KERNELS
       for f, u, b in (("rows_per_s", "1/s", "higher"),
                       ("bytes_per_call", "B", "lower"))},
    "jvm.peak_heap_mb": ("MB", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "trace.unattributed_jobs": ("count", "lower"),
}


def stage_rollup(ledger, stage_rows, op_jobs) -> dict:
    """{stage: Spark rollup + wall_s} for the pipeline stages of one
    operation. `stage_rows` are (stage, ts_start, ts_end, duration_s)
    rows of the run's metrics() table: a stage's window runs from before
    its build to its log call, so it holds the stage's eager operator
    jobs as well as the write that executes the lazy plan."""
    out = {}
    for stage, t0, t1, dur in stage_rows:
        if stage in STAGES:
            out[stage] = ledger.rollup(ledger.in_window(t0, t1, among=op_jobs))
            out[stage]["wall_s"] = dur
    return out


def one_op(bench, ledger, op, clip_bytes: dict) -> dict:
    """Per-layer values of one traced operation."""
    from record_deduplication_spark.config import DEFAULT_CONFIG
    tracer = bench.tracer
    root = tracer.spans[op["tag"]]
    spans = tracer.subtree(root.sid)
    op_jobs = ledger.in_groups(s.group for s in spans)
    out: dict[str, float] = {}

    stages = stage_rollup(ledger, op["stage_rows"], op_jobs)
    for stage, r in stages.items():
        for f in STAGE_FIELDS:
            out[f"pipeline.{stage}.{f}"] = r[f]
    out["pipeline.other.jobs"] = len(op_jobs) - sum(
        r["jobs"] for r in stages.values())
    out["pipeline.shuffle_write_mb"] = ledger.rollup(op_jobs)["shuffle_write_mb"]
    out["pipeline.self_s"] = tracer.self_s(root.sid)

    def named(name: str) -> tuple[float, int, list]:
        hits = [s for s in spans if s.name == name]
        groups = {d.group for s in hits for d in tracer.subtree(s.sid)}
        return (sum(s.wall_s for s in hits),
                len(ledger.in_groups(groups)), hits)

    for name in ("verify_text", "verify_audio", "cc", "subdivide"):
        wall, jobs, _ = named(name)
        out[f"{name}.wall_s"], out[f"{name}.jobs"] = wall, jobs
    _, _, fetches = named("verify.fetch_payloads")
    ids = [i for s in fetches for i in s.info.get("ids", [])]
    out["verify_audio.survivor_ids"] = len(ids)
    out["verify_audio.payload_mb"] = sum(clip_bytes.get(i, 0)
                                         for i in ids) / 1e6
    _, _, subs = named("subdivide")
    out["subdivide.levels"] = sum(s.info.get("levels", 0) for s in subs)
    for c in CHECKPOINT_CALLS:
        wall, _, hits = named(f"checkpoint.{c}")
        out[f"checkpoint.{c}.wall_s"] = wall
        out[f"checkpoint.{c}.calls"] = len(hits)

    st = op["stats"]
    out["blocking.candidates_per_clip"] = st["n_candidates"] / st["n_clips"]
    if "n_new_clips" in st:
        out["blocking.candidates_per_new_clip"] = (
            st["n_new_candidates"] / max(st["n_new_clips"], 1))
        out["verify.edges_per_candidate"] = (
            op["new_edges"] / max(st["n_new_candidates"], 1))
    else:
        out["verify.edges_per_candidate"] = (
            st["n_edges"] / max(st["n_candidates"], 1))
    out["cc.edges_in"] = st["n_edges"]
    out["cc.star_path"] = int(st["n_edges"] > DEFAULT_CONFIG.cc_driver_max_edges)
    size, files = op["disk"]
    out["checkpoint.bytes_per_input_byte"] = size / op["input_bytes"]
    out["checkpoint.data_files"] = files

    # every job submitted while the op ran must carry one of its spans'
    # groups; anything else escaped attribution
    window = ledger.in_window(root.t0, root.t1)
    out["trace.unattributed_jobs"] = len(set(window) - set(op_jobs))
    return out


def per_layer(bench, ledger, corpus_pdf, jvm_peak_mb: float) -> dict:
    """{name: (value, unit)} for every PER_LAYER name: the median over
    the traced operations (0 where a workload has no such layer), and
    the JVM's peak heap over the session."""
    import kernels
    clip_bytes = dict(zip(corpus_pdf["clip_id"],
                          corpus_pdf["bytes"].map(len)))
    traced = [op for op in bench.ops if op["traced"] and op["ok"]]
    plain = [op["wall_s"] for op in bench.ops
             if not op["traced"] and op["ok"]]
    rows = [one_op(bench, ledger, op, clip_bytes) for op in traced]
    vals = {k: statistics.median(r.get(k, 0.0) for r in rows)
            for k in PER_LAYER if rows}
    if traced and plain:
        vals["trace.overhead_s"] = (
            statistics.median(op["wall_s"] for op in traced)
            - statistics.median(plain))
    vals["jvm.peak_heap_mb"] = jvm_peak_mb
    vals.update(kernels.run(corpus_pdf, bench.seed))
    return {k: (float(vals.get(k, 0.0)), u) for k, (u, _) in PER_LAYER.items()}
