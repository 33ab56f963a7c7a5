"""Tests for text analysis, ANN, multimodal plumbing, cluster stats."""

import os

import pytest
from pyspark.sql import functions as F

from record_deduplication_spark.analysis.ann import (
    brute_force_topk, fit_ivf_centroids, ivf_topk, lsh_topk)
from record_deduplication_spark.analysis.multimodal import (
    decode_codec, extract_audio_features, payload_stats, resample_clips,
    sample_frames)
from record_deduplication_spark.analysis.textstats import (
    add_text_stats, rolling_fingerprint)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_text_stats(docs):
    out = add_text_stats(docs).limit(50).toPandas()
    assert (out["n_tokens_ws"] > 0).all()
    assert (out["n_tokens_bpe"] >= out["n_tokens_ws"]).all()  # punct splits add tokens
    assert out["punct_ratio"].between(0, 1).all()
    assert out["stopword_ratio"].between(0, 1).all()
    assert out["quality_score"].between(0, 1).all()
    assert out["lang_guess"].notna().all()


def test_rolling_fingerprint_deterministic(docs):
    a = rolling_fingerprint(docs).select("doc_id", "fingerprint").toPandas()
    b = rolling_fingerprint(docs).select("doc_id", "fingerprint").toPandas()
    assert a.equals(b)
    assert (a["fingerprint"] >= 0).all() and (a["fingerprint"] < 1000000007).all()


def test_brute_force_topk(emb):
    q = emb.where(F.col("vec_id") < 3)
    out = brute_force_topk(emb, q, k=4).toPandas()
    assert set(out["query_id"]) == {0, 1, 2}
    assert out.groupby("query_id")["rank"].max().eq(4).all()
    assert out["cosine"].between(-1.000001, 1.000001).all()
    # no self matches
    assert (out["query_id"] != out["neighbor_id"]).all()


def test_lsh_topk_recall_vs_exact(emb):
    q = emb.where(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, q, k=3).toPandas()
    approx = lsh_topk(emb, q, k=3, n_planes=4, n_tables=16).toPandas()
    e = set(zip(exact["query_id"], exact["neighbor_id"]))
    a = set(zip(approx["query_id"], approx["neighbor_id"]))
    recall = len(e & a) / len(e)
    assert recall >= 0.7, f"LSH ANN recall {recall}"  # probe-limited, tunable


def test_ivf_topk_recall_vs_exact(emb):
    q = emb.where(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, q, k=3).toPandas()
    # sf0.001 embeddings are near-uniform (no cluster structure), the
    # hardest case for a coarse quantizer — probe half the cells
    approx = ivf_topk(emb, q, k=3, n_cells=16, n_probe=8).toPandas()
    e = set(zip(exact["query_id"], exact["neighbor_id"]))
    a = set(zip(approx["query_id"], approx["neighbor_id"]))
    recall = len(e & a) / len(e)
    assert recall >= 0.7, f"IVF ANN recall {recall}"
    # at full probe depth IVF degenerates to exact — recall 1.0
    full = ivf_topk(emb, q, k=3, n_cells=8, n_probe=8).toPandas()
    f = set(zip(full["query_id"], full["neighbor_id"]))
    assert f == e
    # ranks well-formed, no self matches
    assert approx.groupby("query_id")["rank"].max().le(3).all()
    assert (approx["query_id"] != approx["neighbor_id"]).all()


def test_ivf_centroids_deterministic_and_bounded(emb):
    c1 = fit_ivf_centroids(emb, n_cells=8, sample_n=200, seed=7)
    c2 = fit_ivf_centroids(emb, n_cells=8, sample_n=200, seed=7)
    assert (c1 == c2).all() and c1.shape[0] == 8
    # unit-norm rows (spherical k-means)
    import numpy as np
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)


def test_ivf_corpus_stored_once(emb):
    """The IVF bucket table must hold each corpus vector exactly once
    (the 1x-storage contract vs lsh_topk's n_tables replication)."""
    from record_deduplication_spark.analysis.ann import _probe_cells_udf
    c = fit_ivf_centroids(emb, n_cells=8)
    assign = _probe_cells_udf(c, 1)
    cells = emb.select("vec_id", assign(F.col("embedding"))[0].alias("cell"))
    assert cells.count() == cells.select("vec_id").distinct().count() == emb.count()
    assert cells.select("cell").distinct().count() <= 8


def test_resample_clips_preserves_tone(spark):
    import numpy as np
    from record_deduplication_spark.functions import audio as A
    sr, f0 = 16000, 440.0
    t = np.arange(sr) / sr  # 1 s
    pcm = 0.4 * np.sin(2 * np.pi * f0 * t)
    df = spark.createDataFrame(
        [("tone", A.encode_wav(pcm, sr), sr, 1000, "pcm_s16le")],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string")
    out = resample_clips(df, 8000).collect()[0]
    assert out.sr_hz == 8000 and out.codec == "pcm_s16le"
    assert out.dur_ms == 1000
    pcm2, sr2 = A.decode_wav(bytes(out.bytes))
    assert sr2 == 8000 and abs(pcm2.size - 8000) <= 2
    # dominant frequency survives the rate change
    spec = np.abs(np.fft.rfft(pcm2))
    peak_hz = np.argmax(spec) * sr2 / pcm2.size
    assert abs(peak_hz - f0) < 5, peak_hz
    # already-at-rate clips pass through byte-identical
    same = resample_clips(df, sr).collect()[0]
    assert bytes(same.bytes) == bytes(df.collect()[0].bytes)


def test_sample_frames_windows(spark):
    import numpy as np
    from record_deduplication_spark.functions import audio as A
    sr = 8000
    pcm = np.linspace(-0.5, 0.5, sr * 3)  # 3 s ramp
    df = spark.createDataFrame(
        [("ramp", A.encode_wav(pcm, sr), sr, 3000, "pcm_s16le")],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string")
    fr = sample_frames(df, frame_ms=1000, hop_ms=500).toPandas() \
        .sort_values("frame_idx").reset_index(drop=True)
    # (3 s - 1 s) / 0.5 s + 1 = 5 windows
    assert len(fr) == 5
    assert fr["start_ms"].tolist() == [0, 500, 1000, 1500, 2000]
    assert fr["rms"].between(0, 1).all() and fr["zcr"].between(0, 1).all()
    # ramp magnitude grows toward the edges: middle window quietest
    assert fr["rms"].idxmin() == 2


def test_multimodal_real_wav(spark, tmpdir_session):
    from record_deduplication_spark.datagen import write_clips_parquet
    d = os.path.join(tmpdir_session, "mm")
    cp, _ = write_clips_parquet(d, n_clips=40, seed=3)
    clips = spark.read.parquet(cp)
    feats = extract_audio_features(clips.withColumn("codec", F.lit("pcm_s16le")))
    pdf = feats.toPandas()
    assert (pdf["decoded_real"]).all()
    assert (pdf["n_samples"] > 0).all()
    assert pdf["frames"].map(len).eq(16).all()


def test_multimodal_stubbed_codec(spark, tmpdir_session):
    from record_deduplication_spark.datagen import write_clips_parquet
    d = os.path.join(tmpdir_session, "mm2")
    cp, _ = write_clips_parquet(d, n_clips=20, seed=4)
    clips = spark.read.parquet(cp).withColumn("codec", F.lit("mp3"))
    pdf = extract_audio_features(clips, allow_fake=True).toPandas()
    assert (~pdf["decoded_real"]).all()  # stub path, clearly flagged
    with pytest.raises(NotImplementedError):
        decode_codec("mp3", b"xxx")
    stats = payload_stats(clips).toPandas()
    assert stats["n_clips"].sum() == 20


def test_cluster_stats_ops(spark):
    from record_deduplication_spark.operators.stats import (
        cluster_stats, materialize_groups, score_bands, unique_records)
    from record_deduplication_spark.operators.subdivide import subdivide_force
    cl = spark.createDataFrame(
        [("a", 0), ("b", 0), ("c", 0), ("d", 1), ("e", 1), ("f", -1), ("g", -1)],
        "clip_id string, cluster_id long")
    st = cluster_stats(cl)
    assert st["n_clusters"] == 2 and st["n_noise"] == 2
    assert st["max_cluster_size"] == 3
    g = materialize_groups(cl).orderBy("cluster_id").toPandas()
    assert g["survivor"].tolist() == ["a", "d"]
    u = unique_records(cl, cl).toPandas()
    assert set(u[u.is_merged]["clip_id"]) == {"a", "d"}
    assert set(u[~u.is_merged]["clip_id"]) == {"f", "g"}

    edges = spark.createDataFrame(
        [("a", "b", "text", 0.95), ("a", "c", "text", 0.7), ("d", "e", "audio", 35.0)],
        "id_1 string, id_2 string, verdict string, score double")
    b = score_bands(edges).toPandas()
    assert b["n_pairs"].sum() == 3

    sub = subdivide_force(cl, max_size=2).toPandas()
    c0 = sub[sub.cluster_key.str.startswith("0_")]
    assert len(c0) == 3 and c0["cluster_key"].nunique() >= 2  # split happened
    assert set(sub[sub.cluster_key == "-1"]["clip_id"]) == {"f", "g"}


def test_calibrate_threshold(spark):
    from record_deduplication_spark.operators.stats import calibrate_threshold
    pairs = spark.createDataFrame(
        [(f"a{i}", f"b{i}", i / 100.0) for i in range(100)],
        "id_1 string, id_2 string, jaccard double")
    t = calibrate_threshold(pairs, quantile=0.5, sample_frac=1.0)
    assert 0.4 <= t <= 0.6
    assert calibrate_threshold(pairs, quantile=0.5, sample_frac=1.0,
                               floor=0.8) == 0.8
    assert calibrate_threshold(pairs, quantile=0.99, sample_frac=1.0,
                               ceil=0.7) == 0.7
    # deterministic under the same seed
    assert (calibrate_threshold(pairs, sample_frac=0.5, seed=7)
            == calibrate_threshold(pairs, sample_frac=0.5, seed=7))


def test_expand_pairs_both_sides(spark):
    from record_deduplication_spark.operators.stats import expand_pairs
    pairs = spark.createDataFrame([("a", "b"), ("a", "c")], "id_1 string, id_2 string")
    recs = spark.createDataFrame(
        [("a", "ta", 1), ("b", "tb", 2), ("c", "tc", 3)],
        "clip_id string, transcript string, dur_ms int")
    out = expand_pairs(pairs, recs, context_cols=("transcript", "dur_ms")).toPandas()
    assert sorted(out.columns) == sorted(
        ["id_1", "id_2", "transcript_1", "dur_ms_1", "transcript_2", "dur_ms_2"])
    row = out[out.id_2 == "b"].iloc[0]
    assert row.transcript_1 == "ta" and row.transcript_2 == "tb"


def test_validate_connectivity_zero_for_cc_output(spark):
    from record_deduplication_spark.operators.stats import validate_connectivity
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "id_1 string, id_2 string")
    good = spark.createDataFrame(
        [("a", 0), ("b", 0), ("c", 0), ("x", 1), ("y", 1)],
        "clip_id string, cluster_id int")
    assert validate_connectivity(edges, good) == 0
    bad = spark.createDataFrame(
        [("a", 0), ("b", 2), ("c", 0), ("x", 1), ("y", 1)],
        "clip_id string, cluster_id int")
    assert validate_connectivity(edges, bad) == 2  # a-b and b-c split


def test_map_distinct_calls_fn_once_per_value(spark):
    from record_deduplication_spark.operators.stats import map_distinct
    calls = []

    def fn(v):
        calls.append(v)
        return v.upper()

    df = spark.createDataFrame(
        [("x", 1), ("y", 2), ("x", 3)], "name string, n int")
    out = map_distinct(df, "name", fn).toPandas()
    assert sorted(calls) == ["x", "y"]          # once per DISTINCT value
    assert set(out["name_mapped"]) == {"X", "Y"}
    assert len(out) == 3                        # all rows kept


def test_subdivide_kmeans_splits_blobs(spark):
    import numpy as np
    from record_deduplication_spark.operators.subdivide import subdivide_kmeans
    rng = np.random.default_rng(3)
    rows, frows = [], []
    # cluster 0: oversized (20 members) made of two well-separated blobs
    for i in range(20):
        center = [10.0, 10.0] if i < 10 else [-10.0, -10.0]
        rows.append((f"c{i:02d}", 0))
        frows.append((f"c{i:02d}", [float(center[0] + rng.normal(0, .1)),
                                    float(center[1] + rng.normal(0, .1))]))
    # cluster 1: small, untouched
    for i in range(3):
        rows.append((f"s{i}", 1))
        frows.append((f"s{i}", [0.0, 0.0]))
    rows.append(("n0", -1))
    frows.append(("n0", [0.0, 0.0]))
    clusters = spark.createDataFrame(rows, "clip_id string, cluster_id int")
    feats = spark.createDataFrame(frows, "clip_id string, embedding array<double>")
    out = subdivide_kmeans(clusters, feats, max_size=10).toPandas()
    big = out[out.clip_id.str.startswith("c")]
    assert set(big.cluster_key.str.split("_k").str[0]) == {"0"}
    assert big.cluster_key.nunique() == 2            # split into 2 buckets
    # the split follows the blobs
    blob_a = set(big[big.clip_id < "c10"].cluster_key)
    blob_b = set(big[big.clip_id >= "c10"].cluster_key)
    assert blob_a.isdisjoint(blob_b)
    assert set(out[out.clip_id.str.startswith("s")].cluster_key) == {"1"}
    assert out[out.clip_id == "n0"].cluster_key.iloc[0] == "-1"


def test_jaro_winkler_udf(spark):
    from record_deduplication_spark.operators.verify import jaro_winkler_udf
    from pyspark.sql import functions as F
    df = spark.createDataFrame(
        [("MARTHA", "MARHTA"), ("DIXON", "DICKSONX"), (None, "x")],
        "a string, b string")
    got = [r.s for r in df.select(
        F.round(jaro_winkler_udf()(F.col("a"), F.col("b")), 6).alias("s")).collect()]
    assert got == [0.961111, 0.813333, 0.0]


def test_zero_sample_clip_does_not_crash(spark):
    """A valid WAV header with zero frames must pass through resample
    (re-headered) and produce no frame windows — not a ValueError in
    the executor."""
    import numpy as np
    from record_deduplication_spark.functions import audio as A
    df = spark.createDataFrame(
        [("empty", A.encode_wav(np.zeros(0), 16000), 16000, 0, "pcm_s16le")],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string")
    out = resample_clips(df, 8000).collect()[0]
    assert out.sr_hz == 8000 and out.dur_ms == 0
    pcm, sr = A.decode_wav(bytes(out.bytes))
    assert sr == 8000 and pcm.size == 0
    assert sample_frames(df, frame_ms=500).count() == 0


def test_subdivide_oversized_round_robin_bound(spark):
    """The single-pass force split must bound EVERY bucket by
    construction (a hash split can deterministically collapse into one
    bucket)."""
    from record_deduplication_spark.operators.subdivide import subdivide_force
    cl = spark.createDataFrame([(f"x{i:03d}", 7) for i in range(25)]
                               + [("solo", 8), ("n1", -1)],
                               "clip_id string, cluster_id long")
    out = subdivide_force(cl, max_size=10).toPandas()
    big = out[out["cluster_key"].str.startswith("7_f")]
    assert len(big) == 25
    assert big.groupby("cluster_key").size().max() <= 10
    assert out.set_index("clip_id").loc["solo", "cluster_key"] == "8"


def test_ivf_null_and_empty_embeddings_guarded(spark, emb):
    """ADVICE r2: one NULL/empty embedding row must not kill the job
    (np.array of a ragged batch made np.linalg.norm raise inside the
    Arrow UDF); bad rows are dropped before the UDF, and an
    all-empty corpus fails fast with a clear error."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    bad = spark.createDataFrame(
        [(9001, None), (9002, []), (9003, [1.0, 2.0, 3.0])],
        T.StructType([T.StructField("vec_id", T.LongType()),
                      T.StructField("embedding",
                                    T.ArrayType(T.FloatType()))]))
    corpus = emb.select("vec_id", "embedding").unionByName(bad)
    q = corpus.where(F.col("vec_id") < 3)
    out = ivf_topk(corpus, q, k=3, n_cells=4, n_probe=4).toPandas()
    assert set(out["query_id"]) == {0, 1, 2}
    # 9003 is non-empty but off-dimension (ragged) — it must be dropped
    # too, not crash the UDF's np.array/norm
    assert not out["neighbor_id"].isin([9001, 9002, 9003]).any()

    empty = bad.where("vec_id < 9003")  # only null/empty rows
    with pytest.raises(ValueError, match="no non-empty embedding"):
        fit_ivf_centroids(empty, n_cells=4)


def test_semantic_dedup_drops_planted_duplicates(spark, emb):
    """SemDeDup production path (kmeans cells): exact-duplicate rows
    land in the same cell and the higher id of each identical pair is
    dropped; everything else survives at a near-1 tau."""
    from record_deduplication_spark.analysis.semdedup import semantic_dedup

    base = emb.select("vec_id", "embedding").where(F.col("vec_id") < 200)
    dups = base.where(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding")
    out = (semantic_dedup(base.unionByName(dups), tau=0.9999,
                          n_cells=8, seed=7)
           .toPandas().set_index("vec_id"))
    assert len(out) == 220
    # every planted dup (higher id than its identical twin) is dropped
    assert not out.loc[10_000:10_019, "kept"].any()
    # originals are kept unless they already had a near-identical
    # earlier neighbor in the natural data (tau=0.9999: none expected)
    assert out.loc[:199, "kept"].all()


@pytest.mark.filterwarnings("ignore::UserWarning")  # the expected guard
# raise surfaces through pyspark's Arrow-fallback UserWarning first
def test_semantic_dedup_cell_guard_and_determinism(spark, emb):
    from record_deduplication_spark.analysis.semdedup import semantic_dedup

    small = emb.select("vec_id", "embedding", "label").where(F.col("vec_id") < 64)
    with pytest.raises(Exception, match="max_cell_rows"):
        semantic_dedup(small, cell_col="label", tau=0.5,
                       max_cell_rows=2).toPandas()
    a = semantic_dedup(small, tau=0.5, n_cells=4, seed=3).toPandas()
    b = semantic_dedup(small, tau=0.5, n_cells=4, seed=3).toPandas()
    assert a.sort_values("vec_id").reset_index(drop=True).equals(
        b.sort_values("vec_id").reset_index(drop=True))


def test_repetition_stats_engine(spark):
    """Gopher-style repetition signals: a boilerplate doc scores high
    on all three fractions, a clean doc scores 0; engine semantics
    match the gate's (duplicate fraction over non-distinct 2-grams)."""
    from record_deduplication_spark.analysis.textstats import repetition_stats

    df = spark.createDataFrame(
        [(1, "buy now buy now buy now buy now"),
         (2, "all unique words in this sentence here"),
         (3, "one"),        # < n tokens: omitted
         (4, None)],        # null text: omitted
        ["doc_id", "text"])
    out = repetition_stats(df, n=2).toPandas().set_index("doc_id")
    assert set(out.index) == {1, 2}
    # doc 1: 8 tokens {buy,now}x4 -> dup_word 6/8; 7 2-grams, 2 distinct
    assert out.loc[1, "dup_word_fraction"] == 0.75
    assert out.loc[1, "n_grams"] == 7
    assert out.loc[1, "dup_ngram_fraction"] == round(5 / 7, 6)
    assert out.loc[1, "top_ngram_share"] == round(4 / 7, 6)
    assert out.loc[2, "dup_word_fraction"] == 0.0
    assert out.loc[2, "dup_ngram_fraction"] == 0.0


def test_trim_silence_and_normalize_kernels():
    import numpy as np

    from record_deduplication_spark.functions.audio import (
        normalize_rms, trim_silence)

    sr = 16000
    tone = 0.5 * np.sin(2 * np.pi * 440 * np.arange(sr) / sr)  # 1 s
    sil = np.zeros(sr // 2)                                     # 0.5 s
    clip = np.concatenate([sil, tone, sil])
    out = trim_silence(clip, sr)
    # trimmed to the tone +- the 10 ms pad
    assert abs(out.size - tone.size) <= 2 * int(sr * 0.010) + sr // 100
    assert np.abs(out).max() >= 0.49
    assert trim_silence(np.zeros(sr), sr).size == 0
    assert trim_silence(np.array([]), sr).size == 0
    # tail shorter than one window still counts
    tail = np.concatenate([np.zeros(sr), 0.5 * np.ones(77)])
    assert trim_silence(tail, sr).size >= 77

    n = normalize_rms(tone)
    assert abs(float(np.sqrt((n ** 2).mean())) - 0.1) < 1e-6
    # peak ceiling respected for spiky signals
    spiky = np.zeros(sr); spiky[0] = 0.001
    ns = normalize_rms(spiky, target_rms=0.5)
    assert np.abs(ns).max() <= 0.99 + 1e-9
    assert normalize_rms(np.zeros(4)).sum() == 0.0


def test_preprocess_clips_spark(spark):
    import numpy as np

    from record_deduplication_spark.analysis.multimodal import preprocess_clips
    from record_deduplication_spark.functions.audio import decode_wav, encode_wav

    sr = 8000
    tone = 0.25 * np.sin(2 * np.pi * 220 * np.arange(sr) / sr)
    clip = np.concatenate([np.zeros(sr), tone, np.zeros(sr)])
    rows = [("a", encode_wav(clip, sr), sr, 3000, "pcm_s16le"),
            ("b", encode_wav(np.zeros(sr), sr), sr, 1000, "pcm_s16le")]
    df = spark.createDataFrame(rows, ["clip_id", "bytes", "sr_hz", "dur_ms", "codec"])
    out = {r["clip_id"]: r for r in preprocess_clips(df).collect()}
    assert set(out) == {"a", "b"}
    pcm_a, sr_a = decode_wav(bytes(out["a"]["bytes"]))
    assert sr_a == sr and abs(pcm_a.size - tone.size) <= 2 * 80 + 80
    assert abs(float(np.sqrt((pcm_a ** 2).mean())) - 0.1) < 0.005
    assert 900 <= out["a"]["dur_ms"] <= 1100
    # all-silent clip survives with 0 samples (lineage counts hold)
    pcm_b, _ = decode_wav(bytes(out["b"]["bytes"]))
    assert pcm_b.size == 0 and out["b"]["dur_ms"] == 0


def test_pii_redact(spark):
    from record_deduplication_spark.analysis.textstats import pii_redact

    df = spark.createDataFrame(
        [(1, "mail a.b+c@x-y.co.uk or 10.0.0.1 tel +44 20 7946 0958 bye"),
         (2, "no pii here"),
         (3, "two mails p@q.io r@s.de and 256.1.1.1")],
        ["doc_id", "text"])
    out = pii_redact(df).toPandas().set_index("doc_id")
    assert out.loc[1, "redacted"] == "mail <EMAIL> or <IP> tel <PHONE> bye"
    assert (out.loc[1, ["n_emails", "n_ips", "n_phones"]] == 1).all()
    assert out.loc[2, "redacted"] == "no pii here"
    assert (out.loc[2, ["n_emails", "n_ips", "n_phones"]] == 0).all()
    # the IP pattern is a format check, not a range check (like most
    # scrubbers, over-redaction is the safe direction)
    assert out.loc[3, "n_emails"] == 2 and out.loc[3, "n_ips"] == 1


def test_cluster_agreement_matches_oracle_pair_recall(spark):
    """The distributed contingency-count identity must reproduce the
    python oracle's pair_recall on a real dedup run, plus exact values
    on a hand-computable fixture."""
    import pandas as pd

    from record_deduplication_spark.operators.stats import cluster_agreement

    # hand fixture: ref {a,b,c}{d,e}, test {a,b}{c,x}{d,e} + noise y
    ref = spark.createDataFrame(
        [("a", 0), ("b", 0), ("c", 0), ("d", 1), ("e", 1), ("y", -1)],
        "clip_id string, cluster_id long")
    test = spark.createDataFrame(
        [("a", 5), ("b", 5), ("c", 6), ("x", 6), ("d", 7), ("e", 7), ("y", -1)],
        "clip_id string, cluster_id long")
    m = cluster_agreement(ref, test).collect()[0]
    # ref pairs: C(3,2)+C(2,2)=4; test pairs: 1+1+1=3; both: ab, de = 2
    assert (m.n_pairs_ref, m.n_pairs_test, m.n_pairs_both) == (4, 3, 2)
    assert m.precision == round(2 / 3, 6) and m.recall == 0.5
    # vs the python oracle on a real corpus
    from record_deduplication_spark.datagen import generate_clips
    from record_deduplication_spark.oracle import oracle_dedup, pair_recall
    clips, truth = generate_clips(n_clips=300, seed=11)
    res = oracle_dedup(clips)["clusters"]
    expected = pair_recall(res, truth)
    got = cluster_agreement(
        spark.createDataFrame(truth), spark.createDataFrame(res)).collect()[0]
    assert abs(got.recall - expected) < 1e-6


def test_semantic_dedup_preserves_vectorless_rows(spark, emb):
    """Rows with null/empty embeddings get explicit kept=True verdicts
    (cell -1) — the documented kept-semi-join must never silently
    delete corpus rows that merely lack a vector."""
    from pyspark.sql import types as T

    from record_deduplication_spark.analysis.semdedup import semantic_dedup

    bad = spark.createDataFrame(
        [(9001, None), (9002, [])],
        T.StructType([T.StructField("vec_id", T.LongType()),
                      T.StructField("embedding",
                                    T.ArrayType(T.FloatType()))]))
    corpus = (emb.select("vec_id", "embedding").where("vec_id < 50")
              .unionByName(bad))
    out = semantic_dedup(corpus, tau=0.9999, n_cells=4, seed=5).toPandas()
    assert len(out) == 52
    vl = out.set_index("vec_id").loc[[9001, 9002]]
    assert vl["kept"].all() and (vl["cell"] == -1).all()
