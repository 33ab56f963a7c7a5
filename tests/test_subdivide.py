"""Subdivision family C6-C13 (operators/subdivide.py).

Mirrors the reference's semantics goldens: the C13 30%/60%/100%
threshold progression (adaptive_threshold.py:16-71), the C8/C9 eps
ladders (subdivision_engine_v3.py:410-415, 488-490), first-rung-that-
splits acceptance, and the C6 driver loop's convergence / no-progress
contracts (adaptive_clusterer_v3.py:71-104)."""

import pytest
from pyspark.sql import functions as F

from record_deduplication_spark.operators.subdivide import (
    adaptive_threshold, ladder_thresholds, subdivide_adaptive,
    subdivide_force, subdivide_ladder)


# ---------------------------------------------------------------- C13

def test_adaptive_threshold_progression_goldens():
    """30% / 60% / 100% of the [high, base] range at depths <=2/<=4/>4
    (1-indexed), exactly the reference's progression."""
    base, high = 0.9, 0.7
    got = [adaptive_threshold(d, base, high) for d in range(6)]
    assert got[0] == pytest.approx(0.76)   # depth 1 -> 30%
    assert got[1] == pytest.approx(0.76)   # depth 2 -> 30%
    assert got[2] == pytest.approx(0.82)   # depth 3 -> 60%
    assert got[3] == pytest.approx(0.82)   # depth 4 -> 60%
    assert got[4] == pytest.approx(0.90)   # depth 5 -> 100%
    assert got[5] == pytest.approx(0.90)
    # never below the always-preserve level
    assert adaptive_threshold(0, 0.6, 0.8) == 0.8


# ------------------------------------------------------------- C8/C9

def test_ladder_thresholds_smart_and_aggressive():
    smart0 = ladder_thresholds(0, 0.8, "smart")
    assert smart0 == pytest.approx([0.8, 0.86, 0.9, 0.94])
    # depth decay 0.8^depth tightens every rung
    smart2 = ladder_thresholds(2, 0.8, "smart")
    assert all(b > a for a, b in zip(smart0, smart2))
    aggr0 = ladder_thresholds(0, 0.8, "aggressive")
    assert aggr0 == pytest.approx([0.98, 0.99, 0.994, 0.998])
    assert all(0.0 <= t <= 1.0 for t in ladder_thresholds(10, 0.0, "smart"))
    with pytest.raises(ValueError):
        ladder_thresholds(0, 0.8, "nope")


def _chain_edges(ids, weak_at=(), strong=0.95, weak=0.6):
    rows = []
    for i in range(len(ids) - 1):
        s = weak if i in weak_at else strong
        rows.append((ids[i], ids[i + 1], s))
    return rows


def test_subdivide_ladder_splits_planted_cluster(spark):
    """An over-merged cluster of two tight halves joined by one weak
    edge splits along the halves at the first rung that drops the weak
    edge; small clusters and noise are untouched."""
    ids = [f"m{i:02d}" for i in range(10)]
    edges = spark.createDataFrame(
        _chain_edges(ids, weak_at=(4,)), "id_1 string, id_2 string, score double")
    rows = [(i, "A") for i in ids] + [("x1", "B"), ("x2", "B"), ("z", None)]
    clusters = spark.createDataFrame(rows, "clip_id string, cluster_id string")
    out = subdivide_ladder(clusters, edges, max_size=6,
                           thresholds=[0.7, 0.9]).toPandas()
    got = dict(zip(out["clip_id"], out["cluster_key"]))
    # first rung 0.7 keeps the 0.6 edge -> 1 component -> no split;
    # rung 0.9 drops it -> two components keyed by their min member
    assert {got[i] for i in ids[:5]} == {"A.m00"}
    assert {got[i] for i in ids[5:]} == {"A.m05"}
    assert got["x1"] == got["x2"] == "B"
    assert got["z"] is None


def test_subdivide_ladder_unsplittable_keeps_key(spark):
    ids = [f"m{i}" for i in range(8)]
    edges = spark.createDataFrame(
        _chain_edges(ids), "id_1 string, id_2 string, score double")
    clusters = spark.createDataFrame(
        [(i, "A") for i in ids], "clip_id string, cluster_id string")
    out = subdivide_ladder(clusters, edges, max_size=4,
                           thresholds=[0.5, 0.8]).toPandas()
    assert set(out["cluster_key"]) == {"A"}  # every rung keeps the chain whole


def test_subdivide_ladder_singletons_to_noise(spark):
    """Members disconnected at the accepted rung mirror DBSCAN-noise
    relabeling (reference subdivision leaves them labeled -1)."""
    ids = [f"m{i}" for i in range(7)]
    # two strong triangles + one member only weakly attached
    rows = [("m0", "m1", .95), ("m1", "m2", .95),
            ("m3", "m4", .95), ("m4", "m5", .95),
            ("m2", "m3", .6), ("m5", "m6", .6)]
    edges = spark.createDataFrame(rows, "id_1 string, id_2 string, score double")
    clusters = spark.createDataFrame(
        [(i, "A") for i in ids], "clip_id string, cluster_id string")
    out = subdivide_ladder(clusters, edges, max_size=5,
                           thresholds=[0.9]).toPandas()
    got = dict(zip(out["clip_id"], out["cluster_key"]))
    assert {got[i] for i in ids[:3]} == {"A.m0"}
    assert {got[i] for i in ids[3:6]} == {"A.m3"}
    assert got["m6"] is None  # disconnected -> noise
    kept = subdivide_ladder(clusters, edges, max_size=5, thresholds=[0.9],
                            singletons_to_noise=False).toPandas()
    got2 = dict(zip(kept["clip_id"], kept["cluster_key"]))
    assert got2["m6"] == "A"


def test_ladder_mixed_rungs_null_and_self_loop_edges(spark):
    """Mixed scenario: one cluster accepted at rung 1, one at rung 2,
    one unsplittable, plus a noise singleton at the accepted rung;
    NULL-score and self-loop edges are dropped, never crash or flip a
    verdict."""
    rows = (
        # A: two halves joined by one 0.8 edge -> survives rung 0.7,
        # splits at rung 0.9
        _chain_edges([f"a{i}" for i in range(8)], weak_at=(3,), weak=0.8)
        # B: two triangles + weakly attached b6 -> splits at rung 1
        + [("b0", "b1", .95), ("b1", "b2", .95), ("b3", "b4", .95),
           ("b4", "b5", .95), ("b2", "b3", .5), ("b5", "b6", .5)]
        # C: uniformly strong chain -> never splits
        + _chain_edges([f"c{i}" for i in range(6)])
        # degenerate edges: a NULL score (would bridge C's ends) and a
        # self-loop (would count c2 as its own component)
        + [("c0", "c5", None), ("c2", "c2", .99)])
    edges = spark.createDataFrame(rows, "id_1 string, id_2 string, score double")
    members = ([(f"a{i}", "A") for i in range(8)]
               + [(f"b{i}", "B") for i in range(7)]
               + [(f"c{i}", "C") for i in range(6)]
               + [("s1", "S"), ("z", None)])
    clusters = spark.createDataFrame(members,
                                     "clip_id string, cluster_id string")
    for noise in (True, False):
        # thresholds as a GENERATOR: every cluster walks the rungs, so
        # a one-shot iterable must not be exhausted by the first one
        out = subdivide_ladder(clusters, edges, max_size=4,
                               thresholds=(t for t in [0.7, 0.9]),
                               singletons_to_noise=noise).toPandas()
        got = dict(zip(out["clip_id"], out["cluster_key"]))
        assert len(got) == len(members)
        assert {got[f"a{i}"] for i in range(4)} == {"A.a0"}
        assert {got[f"a{i}"] for i in range(4, 8)} == {"A.a4"}
        assert {got[f"b{i}"] for i in range(3)} == {"B.b0"}
        assert {got[f"b{i}"] for i in range(3, 6)} == {"B.b3"}
        assert got["b6"] == (None if noise else "B")
        assert {got[f"c{i}"] for i in range(6)} == {"C"}
        assert got["s1"] == "S" and got["z"] is None


# ---------------------------------------------------------------- C10

def test_subdivide_force_bounds_and_determinism(spark):
    rows = [(f"c{i:03d}", "big") for i in range(40)] + [("s1", "small"), ("z", "-1")]
    clusters = spark.createDataFrame(rows, "clip_id string, cluster_id string")
    a = subdivide_force(clusters, max_size=10).toPandas()
    b = subdivide_force(clusters, max_size=10).toPandas()
    big = a[a.clip_id.str.startswith("c")]
    assert big["cluster_key"].str.startswith("big_f").all()
    assert big["cluster_key"].nunique() == 4  # ceil(40/10) buckets
    assert a.sort_values("clip_id").reset_index(drop=True).equals(
        b.sort_values("clip_id").reset_index(drop=True))
    assert a[a.clip_id == "s1"]["cluster_key"].iloc[0] == "small"
    assert a[a.clip_id == "z"]["cluster_key"].iloc[0] == "-1"


# ----------------------------------------------------------------- C6

def test_subdivide_adaptive_splits_planted_blocks(spark):
    """4 tight blocks of 10 over-merged by weak bridges: the loop must
    split along the planted blocks (similarity-aware, not hash) and
    end with every cluster <= max_size."""
    ids = [f"m{i:02d}" for i in range(40)]
    rows = []
    for b in range(4):
        blk = ids[b * 10:(b + 1) * 10]
        rows += _chain_edges(blk, strong=0.95)
        rows += [(blk[0], blk[5], 0.95)]
    for b in range(3):  # weak bridges that made the over-merge
        rows.append((ids[b * 10 + 9], ids[b * 10 + 10], 0.82))
    edges = spark.createDataFrame(rows, "id_1 string, id_2 string, score double")
    clusters = spark.createDataFrame(
        [(i, "G") for i in ids] + [("z", None)],
        "clip_id string, cluster_id string")
    assign, stats = subdivide_adaptive(
        clusters, edges, max_size=12, base_threshold=0.99,
        high_threshold=0.8, max_depth=10, timeout_s=120.0)
    out = assign.toPandas()
    got = dict(zip(out["clip_id"], out["cluster_key"]))
    # every block stays together, blocks land in different sub-clusters
    block_keys = [{got[i] for i in ids[b * 10:(b + 1) * 10]} for b in range(4)]
    assert all(len(k) == 1 for k in block_keys), block_keys
    assert len({next(iter(k)) for k in block_keys}) == 4
    sizes = (assign.where(F.col("cluster_key").isNotNull())
             .groupBy("cluster_key").count().toPandas())
    assert (sizes["count"] <= 12).all()
    assert stats["stopped"] == "converged"
    assert stats["total_subdivisions"] >= 1
    assert any(lv["usage"].get("ladder_smart") for lv in stats["levels"])


def test_subdivide_adaptive_force_guarantee(spark):
    """No edges, no features: only force can make progress, and it
    still bounds every cluster."""
    clusters = spark.createDataFrame(
        [(f"c{i:03d}", "big") for i in range(35)],
        "clip_id string, cluster_id string")
    empty = spark.createDataFrame([], "id_1 string, id_2 string, score double")
    assign, stats = subdivide_adaptive(clusters, empty, max_size=8,
                                       max_depth=10, timeout_s=60.0)
    sizes = assign.groupBy("cluster_key").count().toPandas()
    assert (sizes["count"] <= 8).all()
    assert stats["stopped"] == "converged"


def test_subdivide_adaptive_no_progress_break(spark):
    clusters = spark.createDataFrame(
        [(f"c{i}", "big") for i in range(20)],
        "clip_id string, cluster_id string")
    empty = spark.createDataFrame([], "id_1 string, id_2 string, score double")
    assign, stats = subdivide_adaptive(clusters, empty, max_size=5,
                                       use_force=False, max_depth=10)
    assert stats["stopped"] == "no_progress"
    assert set(assign.toPandas()["cluster_key"]) == {"big"}


def test_subdivide_adaptive_kmeans_degenerate_falls_to_force(spark):
    """Identical feature vectors collapse KMeans onto one center (no
    split); the loop must detect that and still bound sizes via
    force."""
    clusters = spark.createDataFrame(
        [(f"c{i:02d}", "big") for i in range(20)],
        "clip_id string, cluster_id string")
    feats = spark.createDataFrame(
        [(f"c{i:02d}", [0.0, 0.0]) for i in range(20)],
        "clip_id string, embedding array<double>")
    empty = spark.createDataFrame([], "id_1 string, id_2 string, score double")
    assign, stats = subdivide_adaptive(clusters, empty, max_size=6,
                                       features=feats, max_depth=8,
                                       timeout_s=60.0)
    sizes = assign.groupBy("cluster_key").count().toPandas()
    assert (sizes["count"] <= 6).all()
    assert stats["stopped"] == "converged"
    assert any(lv["usage"].get("force") for lv in stats["levels"])


def test_kmeans_null_feature_vector_kept_not_crashed(spark):
    """A features ROW with a NULL vector must behave like a missing
    row (member keeps its cluster), not crash np.vstack."""
    from record_deduplication_spark.operators.subdivide import subdivide_kmeans
    members = [(f"c{i:02d}", "big") for i in range(12)]
    clusters = spark.createDataFrame(members, "clip_id string, cluster_id string")
    feats = spark.createDataFrame(
        [(f"c{i:02d}", None if i == 5 else [float(i % 2) * 10, float(i)])
         for i in range(12)],
        "clip_id string, embedding array<double>")
    out = subdivide_kmeans(clusters, feats, max_size=6).toPandas()
    assert len(out) == 12
    assert out.set_index("clip_id").loc["c05", "cluster_key"] == "big"  # kept
    assert out["cluster_key"].nunique() >= 2  # others actually split


def test_float_noise_label_is_not_a_cluster(spark):
    """A double cluster_id column carries noise as -1.0 ("-1.0" once
    cast to a string key): an oversized -1.0 group is noise, so it
    passes through subdivision untouched and forms no pairs."""
    from record_deduplication_spark.operators.stats import cluster_agreement
    clusters = spark.createDataFrame(
        [(f"n{i}", -1.0) for i in range(8)] + [("a", 1.0), ("b", 1.0)],
        "clip_id string, cluster_id double")
    empty = spark.createDataFrame([], "id_1 string, id_2 string, score double")
    assign, stats = subdivide_adaptive(clusters, empty, max_size=3)
    got = dict(assign.select("clip_id", "cluster_key").collect())
    assert {got[f"n{i}"] for i in range(8)} == {"-1.0"}
    assert got["a"] == got["b"] == "1.0"
    assert stats["levels"] == [] and stats["stopped"] == "converged"
    agree = cluster_agreement(clusters, clusters).collect()[0]
    assert agree.n_pairs_ref == agree.n_pairs_test == 1


def _jobs_submitted(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_subdivide_adaptive_job_count_independent_of_levels(spark):
    """The adaptive loop runs inside the per-cluster kernel, so the
    Spark jobs subdivide_adaptive submits do not grow with the number
    of oversized clusters or depth levels (±2 for AQE's asynchronous
    broadcast jobs)."""
    schema = "id_1 string, id_2 string, score double"
    # (a) one 30-member uniformly strong chain: no rung splits it, so
    # force bounds it at depth 0
    one = [f"o{i:02d}" for i in range(30)]
    a_edges = spark.createDataFrame(_chain_edges(one, strong=0.99), schema)
    a_clusters = spark.createDataFrame([(i, "O") for i in one],
                                       "clip_id string, cluster_id string")
    # (b) four 40-member clusters of four 10-blocks: the 0.81 middle
    # bridge falls at depth 0, the 0.9 bridges only at depth 1
    rows, members = [], []
    for g in range(4):
        ids = [f"g{g}m{i:02d}" for i in range(40)]
        members += [(i, f"G{g}") for i in ids]
        for b in range(4):
            rows += _chain_edges(ids[b * 10:(b + 1) * 10], strong=0.99)
        rows += [(ids[9], ids[10], 0.9), (ids[19], ids[20], 0.81),
                 (ids[29], ids[30], 0.9)]
    b_edges = spark.createDataFrame(rows, schema)
    b_clusters = spark.createDataFrame(members,
                                       "clip_id string, cluster_id string")
    kw = dict(max_size=12, base_threshold=0.99, high_threshold=0.8,
              max_depth=10, timeout_s=120.0)
    out = {}

    def run(tag, clusters, edges):
        def go():
            out[tag] = subdivide_adaptive(clusters, edges, **kw)
        return _jobs_submitted(spark, f"subdivide-jobs-{tag}", go)

    run("warm", a_clusters, a_edges)
    jobs_a = run("a", a_clusters, a_edges)
    jobs_b = run("b", b_clusters, b_edges)
    assert out["a"][1]["final_depth"] == 1
    assert out["a"][1]["levels"][0]["usage"]["force"] == 1
    assert out["b"][1]["final_depth"] == 2
    assert out["b"][1]["levels"][1]["usage"]["ladder_smart"] == 8
    sizes = out["b"][0].groupBy("cluster_key").count().toPandas()
    assert len(sizes) == 16 and (sizes["count"] == 10).all()
    assert jobs_a > 0 and abs(jobs_a - jobs_b) <= 2, (jobs_a, jobs_b)
