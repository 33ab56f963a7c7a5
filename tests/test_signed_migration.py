"""Stored `signed` layout: tables written before `shingle_hashes` was
added must fail loudly with the remedy (re-run from scratch) on resume
and on run_incremental, instead of crashing in the edges stage or
letting CheckpointStore.append (which aligns new rows to the existing
table's columns) silently drop the column from later batches.

Also pins the production signature scan to the canonical kernel: every
`shingle_hashes` value add_signatures emits must equal
shingle_hash_set(transcript_norm) — the same function the Jaccard
equality tests use — so the stored representation cannot drift from
what the tests verify. And CheckpointStore.rewrite's self-referential
swap and kill-window repair.
"""

import pyspark.sql.functions as F
import pytest

from record_deduplication_spark.config import DEFAULT_CONFIG
from record_deduplication_spark.datagen import generate_clips
from record_deduplication_spark.operators.signatures import (
    add_signatures, shingle_hash_set)
from record_deduplication_spark.plans.pipeline import DedupPipeline


@pytest.fixture(scope="module")
def clips(spark):
    pdf, _ = generate_clips(n_clips=400, seed=91)
    return spark.createDataFrame(pdf).localCheckpoint(eager=True)


def _strip_shingle_hashes(pipe):
    """Rewrite the stored signed table without shingle_hashes — a
    workdir persisted by the older layout."""
    old = pipe.store.read("signed").drop("shingle_hashes")
    pipe.store.rewrite("signed", old)


def test_scan_matches_canonical_kernel(spark, clips):
    rows = (add_signatures(clips.limit(60), DEFAULT_CONFIG)
            .select("transcript_norm", "shingle_hashes").collect())
    assert any(r.shingle_hashes for r in rows)  # non-vacuous
    for r in rows:
        assert r.shingle_hashes == shingle_hash_set(
            r.transcript_norm, DEFAULT_CONFIG.shingle_k)


def test_old_signed_layout_fails_loudly(spark, clips, tmp_path):
    pipe = DedupPipeline(spark, str(tmp_path / "wd"))
    pipe.run(clips, resume=False)
    _strip_shingle_hashes(pipe)
    assert "shingle_hashes" not in pipe.store.read("signed").columns
    with pytest.raises(ValueError, match="re-run from scratch"):
        DedupPipeline(spark, str(tmp_path / "wd")).run(clips, resume=True)
    with pytest.raises(ValueError, match="re-run from scratch"):
        DedupPipeline(spark, str(tmp_path / "wd")).run_incremental(
            clips.limit(5), all_clips=clips)
    # failing loudly left the stored table as it was
    assert "shingle_hashes" not in pipe.store.read("signed").columns


def test_checkpoint_rewrite_self_referential(spark, tmp_path):
    """CheckpointStore.rewrite must support a df that READS FROM the
    table being replaced (parquet mode's overwrite would delete source
    files mid-read without the sibling-dir swap), must leave no temp
    dirs behind, and must keep the table readable with the transformed
    content."""
    import os

    from record_deduplication_spark.sources.checkpoint import CheckpointStore
    store = CheckpointStore(spark, str(tmp_path / "wd"))
    src = spark.range(100).withColumnRenamed("id", "v")
    store.write("t", src)
    transformed = store.read("t").withColumn("v2", F.col("v") * 2)
    out = store.rewrite("t", transformed)
    got = {(r.v, r.v2) for r in out.collect()}
    assert got == {(i, 2 * i) for i in range(100)}
    # re-read from a fresh handle (the swap really committed)
    assert store.read("t").count() == 100
    # footer counts stay consistent for the resumed-stage count path
    assert sum(n for _, n in store.partition_rows("t")) == 100
    leftovers = [d for d in os.listdir(str(tmp_path / "wd"))
                 if "__rewrite_" in d or "__old_" in d]
    assert leftovers == []


def test_rewrite_kill_window_repair_and_rollback(spark, tmp_path):
    """rewrite()'s failure contract: a process kill between the two
    renames leaves the committed table in <stage>__old_<tag>; exists()
    must repair it (rename back) so resume sees the pre-rewrite state
    instead of re-paying the stage or hard-failing run_incremental."""
    import os

    from record_deduplication_spark.sources.checkpoint import CheckpointStore
    store = CheckpointStore(spark, str(tmp_path / "wd"))
    store.write("t", spark.range(50).withColumnRenamed("id", "v"))
    final = store.path("t")
    # simulate a kill between rename(final, old) and rename(tmp, final)
    os.rename(final, final + "__old_deadbeef")
    assert not os.path.exists(final)
    assert store.exists("t")          # repair happened here
    assert store.read("t").count() == 50
