"""Benchmark-side checks of the traced-run plumbing.

    python3 -m pytest dedupbench/test_spans.py -q

A tiny from-scratch run and one incremental fold, each inside a root
span: every pipeline stage must own Spark jobs, and the per-span job
counts must add up to the session's job total (nothing escapes
attribution, nothing is counted twice).
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from layers import PER_LAYER, STAGES, stage_rollup  # noqa: E402
from spans import SparkLedger, Tracer  # noqa: E402


def test_benchmark_json_lists_every_per_layer_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: (m["unit"], m["better"])
            for m in spec["per_layer"]} == PER_LAYER


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from record_deduplication_spark.session import build_session
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    s = build_session(app="dedupbench-test", master="local[2]", extra={
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("wh"))})
    yield s
    s.stop()


def _stage_rows(store, run_id):
    from pyspark.sql import functions as F
    return [tuple(r) for r in store.metrics()
            .where(F.col("run_id") == run_id)
            .select("stage", "ts_start", "ts_end", "duration_s").collect()]


def test_span_jobs_cover_every_stage_and_sum_to_session_total(spark, tmp_path):
    from record_deduplication_spark.datagen import write_clips_parquet
    from record_deduplication_spark.plans.pipeline import DedupPipeline
    from pyspark.sql import functions as F

    cp, _ = write_clips_parquet(str(tmp_path / "c"), n_clips=60, seed=3)
    sc = spark.sparkContext
    before = set(SparkLedger(sc).jobs)
    tracer = Tracer(sc)
    wd = str(tmp_path / "wd")
    with tracer.patched():
        with tracer.span("op") as full:
            clips = spark.read.parquet(cp)
            base = clips.where(F.col("clip_id") >= "c000000010")
            DedupPipeline(spark, wd).run(base, resume=False,
                                         max_cluster_size=2)
        with tracer.span("op") as fold:
            DedupPipeline(spark, wd).run_incremental(
                clips.where(F.col("clip_id") < "c000000010"), clips)
    ledger = SparkLedger(sc)
    session = set(ledger.jobs) - before
    assert session

    per_span = [len(ledger.in_groups([s.group])) for s in tracer.spans]
    assert sum(per_span) == len(session)
    assert all(s.t1 >= s.t0 for s in tracer.spans)

    from record_deduplication_spark.sources.checkpoint import CheckpointStore
    store = CheckpointStore(spark, wd)
    for root, run_id, stages in ((full, 1, STAGES[:5]), (fold, 2, STAGES[5:])):
        op_jobs = ledger.in_groups(s.group for s in tracer.subtree(root.sid))
        rolled = stage_rollup(ledger, _stage_rows(store, run_id), op_jobs)
        assert set(rolled) == set(stages)
        assert all(r["jobs"] > 0 for r in rolled.values()), rolled
        assert sum(r["jobs"] for r in rolled.values()) <= len(op_jobs)
