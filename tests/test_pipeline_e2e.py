"""End-to-end Spark pipeline vs oracle vs planted truth.

The correctness gate of the north rule: dup-pair recall >= 0.99 vs the
reference-semantics oracle at identical DedupConfig, plus the property
tests from SURVEY.md §5 (pair canonicalization, CC idempotence,
resume).
"""

import os

import pytest
from pyspark.sql import functions as F

from record_deduplication_spark.config import DEFAULT_CONFIG
from record_deduplication_spark.datagen import write_clips_parquet
from record_deduplication_spark.oracle import oracle_dedup, pair_recall
from record_deduplication_spark.plans.pipeline import DedupPipeline

N_CLIPS = 400


@pytest.fixture(scope="module")
def corpus_paths(tmpdir_session):
    return write_clips_parquet(os.path.join(tmpdir_session, "corpus"),
                               n_clips=N_CLIPS, seed=42)


@pytest.fixture(scope="module")
def result(spark, corpus_paths, tmpdir_session):
    clips_path, _ = corpus_paths
    clips = spark.read.parquet(clips_path)
    pipe = DedupPipeline(spark, os.path.join(tmpdir_session, "work"))
    return pipe.run(clips, resume=False)


def test_pair_canonicalization(result):
    bad = result.candidates.where(F.col("id_1") >= F.col("id_2")).count()
    assert bad == 0  # id_1 < id_2, no self-pairs (reference bug class, SURVEY §5.5)


def test_candidates_nonquadratic(result):
    n = result.stats["n_clips"]
    assert result.stats["n_candidates"] < n * 40  # blocking, not O(n^2)
    assert result.stats["reduction_ratio"] > 0.9


def test_recall_vs_oracle(spark, corpus_paths, result):
    import pandas as pd
    clips_path, _ = corpus_paths
    clips_pd = pd.read_parquet(clips_path)
    ora = oracle_dedup(clips_pd, DEFAULT_CONFIG)
    ours = result.clusters.toPandas()
    recall = pair_recall(ours, ora["clusters"])
    assert recall >= 0.99, f"dup-pair recall vs oracle = {recall:.4f}"
    # precision guard: we should not invent co-memberships the oracle lacks
    from record_deduplication_spark.oracle import cluster_pairs
    extra = cluster_pairs(ours) - cluster_pairs(ora["clusters"])
    assert len(extra) <= max(2, len(cluster_pairs(ora["clusters"])) // 100)


def test_recall_vs_planted_truth(spark, corpus_paths, result):
    import pandas as pd
    _, truth_path = corpus_paths
    truth = pd.read_parquet(truth_path)
    ours = result.clusters.toPandas()
    recall = pair_recall(ours, truth)
    assert recall >= 0.99, f"dup-pair recall vs planted truth = {recall:.4f}"


def test_noise_convention(result):
    """Engine-default contract: cluster_id is the string component
    representative; singletons (no dup edge) are NULL noise."""
    cl = result.clusters
    sizes = (cl.where(F.col("cluster_id").isNotNull())
             .groupBy("cluster_id").count().toPandas())
    assert (sizes["count"] >= 2).all()  # no size-1 "clusters"; singletons are noise
    assert cl.where(F.col("cluster_id").isNull()).count() > 0
    # representative is a member of its own cluster (min member id)
    bad = (cl.where(F.col("cluster_id").isNotNull())
           .groupBy("cluster_id").agg(F.min("clip_id").alias("mn"))
           .where(F.col("mn") != F.col("cluster_id")).count())
    assert bad == 0


def test_edges_never_split_across_clusters(result):
    """C12-analog validation (SURVEY §2.6): CC guarantees by construction
    that no verified dup edge crosses a cluster boundary."""
    cl = result.clusters
    e = (result.edges
         .join(cl.withColumnRenamed("clip_id", "id_1")
                 .withColumnRenamed("cluster_id", "c1"), "id_1")
         .join(cl.withColumnRenamed("clip_id", "id_2")
                 .withColumnRenamed("cluster_id", "c2"), "id_2"))
    assert e.where(F.col("c1") != F.col("c2")).count() == 0


def test_resume_reproduces(spark, corpus_paths, tmpdir_session, result):
    """Kill-after-stage-k contract: re-running with resume=True reads
    checkpoints and reproduces the identical cluster table."""
    clips_path, _ = corpus_paths
    clips = spark.read.parquet(clips_path)
    pipe = DedupPipeline(spark, os.path.join(tmpdir_session, "work"))
    again = pipe.run(clips, resume=True)
    a = result.clusters.orderBy("clip_id").toPandas()
    b = again.clusters.orderBy("clip_id").toPandas()
    assert a.equals(b)


def test_metrics_lineage(spark, tmpdir_session, result):
    from record_deduplication_spark.sources.checkpoint import CheckpointStore
    store = CheckpointStore(spark, os.path.join(tmpdir_session, "work"))
    m = store.metrics().toPandas()
    stages = set(m["stage"])
    assert {"signed", "candidates", "edges", "clusters"} <= stages
    assert (m["rows"] >= 0).all() and (m["duration_s"] >= 0).all()


def test_subdivision_post_stage(spark, corpus_paths, tmpdir_session, result):
    """run(max_cluster_size=N) resumes the base stages and adds a
    size-bounded clusters_sub checkpoint: every sub-cluster <= N,
    noise untouched, members only ever move WITHIN their base cluster
    (keys extend the parent's key)."""
    clips_path, _ = corpus_paths
    clips = spark.read.parquet(clips_path)
    pipe = DedupPipeline(spark, os.path.join(tmpdir_session, "work"))
    res = pipe.run(clips, resume=True, max_cluster_size=3)
    assert res.subdivided is not None
    sub = res.subdivided.toPandas()
    base = result.clusters.toPandas()
    sizes = sub[sub.cluster_key.notna()].groupby("cluster_key").size()
    assert (sizes <= 3).all()
    merged = sub.merge(base, on="clip_id")
    moved = merged[merged.cluster_key.notna() & merged.cluster_id.notna()]
    assert (moved.apply(lambda r: r.cluster_key.startswith(r.cluster_id), axis=1)).all()
    # noise stays noise
    assert merged[merged.cluster_id.isna()]["cluster_key"].isna().all()


def test_run_incremental_equals_full_run(spark, tmp_path):
    """Daily-ingest contract: completing a run on the OLD corpus and
    folding in the NEW batch via run_incremental must produce exactly
    the clusters a from-scratch run on the combined corpus produces —
    while appending O(|new|) rows to the stage tables instead of
    rewriting them."""
    import os

    import pyspark.sql.functions as F

    from record_deduplication_spark.datagen import generate_clips
    from record_deduplication_spark.plans.pipeline import DedupPipeline

    clips_pdf, _ = generate_clips(n_clips=500, seed=33)
    clips = spark.createDataFrame(clips_pdf).localCheckpoint(eager=True)
    is_new = F.pmod(F.xxhash64("clip_id"), F.lit(5)) == 0
    old_clips = clips.where(~is_new).localCheckpoint(eager=True)
    new_clips = clips.where(is_new).localCheckpoint(eager=True)

    full = DedupPipeline(spark, str(tmp_path / "full")).run(
        clips, resume=False)
    full_c = full.clusters.toPandas().sort_values("clip_id") \
                 .reset_index(drop=True)

    pipe = DedupPipeline(spark, str(tmp_path / "inc"))
    pipe.run(old_clips, resume=False)
    inc = pipe.run_incremental(new_clips, all_clips=clips)
    inc_c = inc.clusters.toPandas().sort_values("clip_id") \
                .reset_index(drop=True)

    assert full_c.equals(inc_c), (
        full_c.merge(inc_c, on="clip_id", suffixes=("_full", "_inc"))
        .query("cluster_id_full != cluster_id_inc").head())
    # edge sets identical too (verdicts included)
    fe = {tuple(r) for r in full.edges.select(
        "id_1", "id_2", "verdict").collect()}
    ie = {tuple(r) for r in inc.edges.select(
        "id_1", "id_2", "verdict").collect()}
    assert fe == ie
    # incremental stats surface the fold
    assert inc.stats["n_new_clips"] > 0
    assert inc.stats["n_clips"] == clips.count()
    # metrics table records the incremental stages
    stages = set(pipe.store.metrics().toPandas()["stage"])
    assert {"signed_inc", "candidates_inc", "edges_inc",
            "clusters_inc"} <= stages
    # a fresh incremental run requires a completed prior run
    import pytest
    with pytest.raises(ValueError, match="completed prior run"):
        DedupPipeline(spark, str(tmp_path / "empty")).run_incremental(
            new_clips, all_clips=clips)


def test_degenerate_corpora(spark, tmp_path):
    """The full pipeline must survive the corpora a production ingest
    inevitably produces: an empty batch, a single clip, and a batch of
    byte-identical clips under distinct ids (one cluster, noise-free)."""
    import pandas as pd

    from record_deduplication_spark.datagen import generate_clips
    from record_deduplication_spark.plans.pipeline import DedupPipeline

    pdf, _ = generate_clips(n_clips=5, seed=1)
    one = spark.createDataFrame(pdf.iloc[:1])

    r1 = DedupPipeline(spark, str(tmp_path / "one")).run(one, resume=False)
    assert r1.stats == {"n_clips": 1, "n_candidates": 0, "n_edges": 0,
                        "n_clusters": 0, "reduction_ratio": 1.0}

    r0 = DedupPipeline(spark, str(tmp_path / "zero")).run(
        one.where("1=0"), resume=False)
    assert r0.stats["n_clips"] == 0 and r0.stats["n_clusters"] == 0

    dup = pd.concat([pdf.iloc[:1]] * 5, ignore_index=True)
    dup["clip_id"] = [f"c{i}" for i in range(5)]
    rd = DedupPipeline(spark, str(tmp_path / "dup")).run(
        spark.createDataFrame(dup), resume=False)
    assert rd.stats["n_clusters"] == 1
    assert {r.cluster_id for r in rd.clusters.collect()} == {"c0"}


def test_clusters_sub_crash_before_marker_rebuilds(spark, tmp_path,
                                                   monkeypatch):
    """A rebuild drops the params marker BEFORE writing the table: a
    crash between the clusters_sub write and the new marker must not
    leave the OLD marker next to the NEW table, or a later resume under
    the old params would serve the table built under the new ones."""
    from record_deduplication_spark.datagen import generate_clips

    clips = spark.createDataFrame(generate_clips(n_clips=120, seed=13)[0])
    wd = str(tmp_path / "wd")

    def table(df):
        return df.toPandas().sort_values("clip_id").reset_index(drop=True)

    want = table(DedupPipeline(spark, wd).run(
        clips, resume=False, max_cluster_size=500).subdivided)

    def crash(self, name, params):
        raise RuntimeError("killed before the params marker write")

    monkeypatch.setattr(DedupPipeline, "_write_stage_params", crash)
    pipe = DedupPipeline(spark, wd)
    with pytest.raises(RuntimeError, match="params marker"):
        pipe.run(clips, resume=True, max_cluster_size=2)
    monkeypatch.undo()
    # non-vacuous: the crashed rebuild did replace the table
    assert not table(pipe.store.read("clusters_sub")).equals(want)

    got = DedupPipeline(spark, wd).run(clips, resume=True,
                                       max_cluster_size=500).subdivided
    assert table(got).equals(want)
