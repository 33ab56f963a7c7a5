"""Traced-run plumbing: spans around the package's public entry points,
one Spark job group per span, and Spark work read back from the
in-process status store.

Spans are recorded only from the benchmark's side: `Tracer.patched()`
swaps each public function for a wrapper *at the name its caller
resolves* (e.g. `plans.pipeline.build_edges`, which the pipeline
imported by name, and `operators.verify.verify_text`, which
`build_edges` looks up in its own module), and restores the originals
on exit. The package itself is never edited.

Each span sets its own job group (`bench:<span id>`) on entry and
restores its parent's on exit, so every Spark job submitted while a
span is innermost is tagged with that span. Spans stay in memory; the
caller rolls them up once the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import time
from dataclasses import dataclass, field

GROUP_PREFIX = "bench:"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    t0: float
    t1: float = 0.0
    info: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"{GROUP_PREFIX}{self.sid}"

    @property
    def wall_s(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Span recorder bound to one SparkContext."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.sid if parent else None,
                 time.time())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, name: str, fn, on_result=None, on_args=None):
        """`fn` wrapped in a span; `on_args(span, *args, **kw)` and
        `on_result(span, result)` may record counts into `span.info`."""
        @functools.wraps(fn)
        def wrapper(*args, **kw):
            with self.span(name) as s:
                if on_args is not None:
                    on_args(s, *args, **kw)
                out = fn(*args, **kw)
                if on_result is not None:
                    on_result(s, out)
                return out
        return wrapper

    @contextlib.contextmanager
    def patched(self):
        """Install span wrappers on the package's public entry points
        for the duration of the block."""
        import record_deduplication_spark.operators.blocking as blocking
        import record_deduplication_spark.operators.subdivide as subdivide
        import record_deduplication_spark.operators.verify as verify
        import record_deduplication_spark.plans.pipeline as pipeline
        from record_deduplication_spark.sources.checkpoint import \
            CheckpointStore

        def survivors(s, clips, idlist):
            s.info["ids"] = list(idlist)

        def sub_levels(s, out):
            s.info["levels"] = len(out[1].get("levels", []))

        targets = [
            (pipeline, "add_signatures", "signatures.add_signatures", {}),
            (blocking, "generate_candidates", "blocking.generate_candidates", {}),
            (blocking, "incremental_candidates", "blocking.incremental_candidates", {}),
            (pipeline, "build_edges", "verify.build_edges", {}),
            (verify, "verify_text", "verify_text", {}),
            (verify, "verify_audio", "verify_audio", {}),
            (verify, "fetch_payloads", "verify.fetch_payloads",
             {"on_args": survivors}),
            (pipeline, "connected_components", "cc", {}),
            (pipeline, "assign_clusters", "cc.assign_clusters", {}),
            (subdivide, "subdivide_adaptive", "subdivide",
             {"on_result": sub_levels}),
            (CheckpointStore, "write", "checkpoint.write", {}),
            (CheckpointStore, "commit_txn", "checkpoint.commit_txn", {}),
            (CheckpointStore, "partition_rows", "checkpoint.partition_rows", {}),
            (CheckpointStore, "next_run_id", "checkpoint.next_run_id", {}),
            (CheckpointStore, "flush", "checkpoint.flush", {}),
            (CheckpointStore, "log", "checkpoint.log", {}),
        ]
        saved = []
        try:
            for owner, attr, name, hooks in targets:
                orig = owner.__dict__[attr]
                saved.append((owner, attr, orig))
                setattr(owner, attr, self.wrap(name, orig, **hooks))
            yield self
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    def subtree(self, sid: int) -> list[Span]:
        """The span and all its descendants."""
        out, seen = [], {sid}
        for s in self.spans[sid:]:  # children always follow their parent
            if s.sid == sid or s.parent in seen:
                seen.add(s.sid)
                out.append(s)
        return out

    def self_s(self, sid: int) -> float:
        """Span time not covered by its direct children."""
        s = self.spans[sid]
        kids = sorted((c.t0, c.t1) for c in self.spans if c.parent == sid)
        covered, end = 0.0, s.t0
        for a, b in kids:
            a, b = max(a, end), min(b, s.t1)
            if b > a:
                covered += b - a
                end = b
        return s.wall_s - covered


# ---- Spark work from the in-process status store ----

@dataclass
class JobRow:
    job_id: int
    group: str | None
    submit_s: float
    stage_ids: list[int]


class SparkLedger:
    """Jobs and stage task metrics of one SparkContext, read from its
    AppStatusStore (works with spark.ui.enabled=false). Each stage's
    metrics are counted once, under the first job that lists it, so
    stages shared across jobs (skipped re-uses) are not double counted."""

    def __init__(self, sc):
        store = sc._jsc.sc().statusStore()  # noqa: SLF001
        jl = store.jobsList(None)
        self.jobs: dict[int, JobRow] = {}
        for i in range(jl.size()):
            j = jl.apply(i)
            g = j.jobGroup()
            sub = j.submissionTime()
            sids = j.stageIds()
            self.jobs[int(j.jobId())] = JobRow(
                int(j.jobId()), g.get() if g.isDefined() else None,
                sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0,
                [int(sids.apply(k)) for k in range(sids.size())])
        sl = store.stageList(None, False, False,
                             sc._gateway.new_array(sc._jvm.double, 0), None)
        self.stages: dict[int, dict] = {}
        for i in range(sl.size()):
            s = sl.apply(i)
            if s.status().toString() == "SKIPPED":
                continue
            self.stages[int(s.stageId())] = {
                "tasks": int(s.numTasks()),
                "run_ms": int(s.executorRunTime()),
                "cpu_ns": int(s.executorCpuTime()),
                "gc_ms": int(s.jvmGcTime()),
                "shuffle_write_b": int(s.shuffleWriteBytes()),
                "spill_b": int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled()),
            }
        self._owner: dict[int, int] = {}
        for jid in sorted(self.jobs):
            for sid in self.jobs[jid].stage_ids:
                self._owner.setdefault(sid, jid)

    def in_groups(self, groups) -> list[int]:
        groups = set(groups)
        return sorted(j for j, r in self.jobs.items() if r.group in groups)

    def in_window(self, t0: float, t1: float, among=None) -> list[int]:
        ids = self.jobs if among is None else among
        return sorted(j for j in ids if t0 <= self.jobs[j].submit_s <= t1)

    def rollup(self, job_ids) -> dict:
        """Spark work of a set of jobs: counts, executor times (s), MB."""
        job_ids = set(job_ids)
        tot = {"tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
               "shuffle_write_b": 0, "spill_b": 0}
        for sid, st in self.stages.items():
            if self._owner.get(sid) in job_ids:
                for k in tot:
                    tot[k] += st[k]
        run_s, cpu_s = tot["run_ms"] / 1e3, tot["cpu_ns"] / 1e9
        return {
            "jobs": len(job_ids),
            "tasks": tot["tasks"],
            "exec_run_s": run_s,
            "exec_cpu_s": cpu_s,
            # executor run time the JVM did not spend on CPU: Python
            # worker / Arrow time (CIDR'22 counts it apart from JVM work)
            "py_s": run_s - cpu_s,
            "gc_s": tot["gc_ms"] / 1e3,
            "shuffle_write_mb": tot["shuffle_write_b"] / 1e6,
            "spill_mb": tot["spill_b"] / 1e6,
        }
