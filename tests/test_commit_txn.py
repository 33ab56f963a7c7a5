"""Cross-stage fold transactions: CheckpointStore.commit_txn.

The incremental fold mutates signed+candidates+edges together; per-stage
atomicity alone leaves crash windows where some tables contain the batch
and others don't. commit_txn makes the fold all-or-nothing across
stages: a crash before the `_txn_{tag}.json` rename loses the WHOLE
transaction (repair sweeps every prepared piece), a crash after it makes
the WHOLE transaction durable (repair completes the apply). The pipeline
level on top (tests at the bottom of this file): re-running the same
run_incremental call after a crash at ANY point is safe — the pre-fold
state re-folds, the post-fold state is detected and finished without
duplicating a single row.
"""

import os

import pytest

from record_deduplication_spark.sources.checkpoint import CheckpointStore


@pytest.fixture()
def store(spark, tmp_path):
    st = CheckpointStore(spark, str(tmp_path / "wd"))
    st.write("a", spark.range(0, 10).selectExpr("id", "id * 2 AS v"))
    st.write("b", spark.range(0, 5).selectExpr("id", "id + 100 AS w"))
    return st


def _ids(st, stage):
    return sorted(r.id for r in st.read(stage).collect())


def test_txn_appends_commit_together(spark, store):
    out = store.commit_txn(appends={
        "a": spark.range(10, 13).selectExpr("id", "id * 2 AS v"),
        "b": spark.range(5, 7).selectExpr("id", "id + 100 AS w")})
    assert sorted(out) == ["a", "b"]
    assert _ids(store, "a") == list(range(13))
    assert _ids(store, "b") == list(range(7))
    # no txn residue; manifests carry the batches
    assert not [f for f in os.listdir(store.base) if f.startswith("_txn_")]
    assert len(store._append_manifest("a")) == 1
    assert len(store._append_manifest("b")) == 1
    # footers metadata agrees
    assert sum(n for _, n in store.partition_rows("a")) == 13


def test_txn_append_plus_rewrite(spark, store):
    out = store.commit_txn(
        appends={"a": spark.range(10, 12).selectExpr("id", "id * 2 AS v")},
        rewrites={"b": spark.range(50, 53).selectExpr("id", "id + 100 AS w")})
    assert _ids(store, "a") == list(range(12))
    assert _ids(store, "b") == [50, 51, 52]
    assert sorted(out) == ["a", "b"]


def test_crash_before_commit_loses_every_stage(spark, store, monkeypatch):
    """Injected failure while preparing the SECOND stage: the first
    stage's already-placed part files must also vanish — no state where
    stage a has the batch and stage b doesn't."""
    real = CheckpointStore._txn_path

    def boom(self, tag):
        raise RuntimeError("injected crash before txn commit")

    monkeypatch.setattr(CheckpointStore, "_txn_path", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        store.commit_txn(appends={
            "a": spark.range(10, 13).selectExpr("id", "id * 2 AS v"),
            "b": spark.range(5, 7).selectExpr("id", "id + 100 AS w")})
    monkeypatch.setattr(CheckpointStore, "_txn_path", real)

    assert store.exists("a") and store.exists("b")  # repairs run
    assert _ids(store, "a") == list(range(10))
    assert _ids(store, "b") == list(range(5))
    assert not [f for f in os.listdir(store.path("a"))
                if f.startswith("part-app-")]


def test_crash_after_commit_completes_every_stage(spark, store, monkeypatch):
    """Injected kill right AFTER the txn file rename (apply never runs):
    the next repair must make the whole txn durable — appends manifested
    AND rewrites swapped."""
    def no_apply(self, txn):
        raise RuntimeError("injected crash after txn commit")

    real = CheckpointStore._apply_txn
    monkeypatch.setattr(CheckpointStore, "_apply_txn", no_apply)
    with pytest.raises(RuntimeError, match="injected crash"):
        store.commit_txn(
            appends={"a": spark.range(10, 13).selectExpr("id",
                                                         "id * 2 AS v")},
            rewrites={"b": spark.range(50, 53).selectExpr("id",
                                                          "id + 100 AS w")})
    monkeypatch.setattr(CheckpointStore, "_apply_txn", real)

    # the committed-but-unapplied state: txn file present
    assert [f for f in os.listdir(store.base) if f.startswith("_txn_")
            and f.endswith(".json")]
    # any repair entry point completes it
    assert store.exists("a")
    assert _ids(store, "a") == list(range(13))
    assert _ids(store, "b") == [50, 51, 52]
    assert not [f for f in os.listdir(store.base) if f.startswith("_txn_")]
    # a second repair is a no-op
    store._repair_txns()
    assert _ids(store, "a") == list(range(13))


def test_crash_mid_apply_resumes_apply(spark, store, monkeypatch):
    """Kill INSIDE the apply, after the append manifest fold but before
    the rewrite swap: repair re-applies idempotently."""
    real_apply = CheckpointStore._apply_txn
    state = {"armed": True}

    def partial(self, txn):
        # fold manifests for appends, then crash before rewrites
        if state["armed"]:
            state["armed"] = False
            import json
            for stage, names in txn["appends"].items():
                man = self._append_manifest(stage)
                man[txn["tag"]] = names
                tmp = self._manifest_path(stage) + ".tmp"
                with open(tmp, "w") as f:
                    json.dump(man, f)
                os.rename(tmp, self._manifest_path(stage))
            raise RuntimeError("injected crash mid-apply")
        return real_apply(self, txn)

    monkeypatch.setattr(CheckpointStore, "_apply_txn", partial)
    with pytest.raises(RuntimeError, match="injected crash"):
        store.commit_txn(
            appends={"a": spark.range(10, 12).selectExpr("id",
                                                         "id * 2 AS v")},
            rewrites={"b": spark.range(50, 53).selectExpr("id",
                                                          "id + 100 AS w")})
    monkeypatch.setattr(CheckpointStore, "_apply_txn", real_apply)

    assert store.exists("b")  # repair completes the rewrite swap
    assert _ids(store, "a") == list(range(12))
    assert _ids(store, "b") == [50, 51, 52]
    assert not [f for f in os.listdir(store.base) if f.startswith("_txn_")]


# ---------------------------------------------------------------------------
# pipeline level: crash-idempotent run_incremental
# ---------------------------------------------------------------------------

def _mini_corpus(n, seed):
    from record_deduplication_spark.datagen import generate_clips
    clips_pdf, _ = generate_clips(n_clips=n, seed=seed)
    return clips_pdf


@pytest.fixture(scope="module")
def folded_state(spark, tmp_path_factory):
    """A completed base run + the batch to fold, shared by the
    idempotency tests (each test copies the workdir)."""
    import pandas as pd
    from record_deduplication_spark.plans.pipeline import DedupPipeline
    base = _mini_corpus(120, seed=7)
    batch = _mini_corpus(30, seed=8)
    batch["clip_id"] = ["new_" + c for c in batch["clip_id"]]
    wd = str(tmp_path_factory.mktemp("wd") / "run")
    clips = spark.createDataFrame(base)
    DedupPipeline(spark, wd).run(clips, resume=False)
    return {"wd": wd, "base": base, "batch": batch,
            "all": pd.concat([base, batch], ignore_index=True)}


def _clusters_pdf(res):
    return (res.clusters.toPandas()
            .sort_values("clip_id").reset_index(drop=True))


def test_refold_after_committed_txn_is_noop(spark, folded_state, tmp_path):
    """Crash AFTER the fold txn committed but BEFORE the clusters write:
    re-running the same run_incremental must finish (not re-fold) and
    produce the identical final state — no duplicated rows anywhere."""
    import shutil
    from record_deduplication_spark.plans.pipeline import DedupPipeline
    wd = str(tmp_path / "wd")
    shutil.copytree(folded_state["wd"], wd)

    batch_df = spark.createDataFrame(folded_state["batch"])
    all_df = spark.createDataFrame(folded_state["all"])

    # uninterrupted fold on a pristine copy = the expected end state
    wd_ref = str(tmp_path / "wd_ref")
    shutil.copytree(folded_state["wd"], wd_ref)
    ref = DedupPipeline(spark, wd_ref).run_incremental(batch_df, all_df)

    # crash injection: kill right after commit_txn returns
    p = DedupPipeline(spark, wd)
    real = CheckpointStore.commit_txn

    def then_die(self, **kw):
        real(self, **kw)
        raise RuntimeError("injected crash after fold txn")

    CheckpointStore.commit_txn = then_die
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            p.run_incremental(batch_df, all_df)
    finally:
        CheckpointStore.commit_txn = real

    # re-run the SAME call: detected as already-folded, finished cleanly
    p2 = DedupPipeline(spark, wd)
    res = p2.run_incremental(batch_df, all_df)
    assert res.stats["n_already_folded"] == len(folded_state["batch"])
    assert res.stats["n_clips"] == ref.stats["n_clips"]
    assert res.stats["n_edges"] == ref.stats["n_edges"]
    assert res.stats["n_candidates"] == ref.stats["n_candidates"]
    assert _clusters_pdf(res).equals(_clusters_pdf(ref))


def test_refold_after_precommit_crash_refolds(spark, folded_state, tmp_path):
    """Crash BEFORE the txn commit point: nothing of the batch is
    visible, and re-running the same call re-folds it completely."""
    import shutil
    from record_deduplication_spark.plans.pipeline import DedupPipeline
    wd = str(tmp_path / "wd")
    shutil.copytree(folded_state["wd"], wd)

    batch_df = spark.createDataFrame(folded_state["batch"])
    all_df = spark.createDataFrame(folded_state["all"])

    wd_ref = str(tmp_path / "wd_ref")
    shutil.copytree(folded_state["wd"], wd_ref)
    ref = DedupPipeline(spark, wd_ref).run_incremental(batch_df, all_df)

    p = DedupPipeline(spark, wd)
    real = CheckpointStore.commit_txn

    def die_first(self, **kw):
        raise RuntimeError("injected crash before fold txn")

    CheckpointStore.commit_txn = die_first
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            p.run_incremental(batch_df, all_df)
    finally:
        CheckpointStore.commit_txn = real

    res = DedupPipeline(spark, wd).run_incremental(batch_df, all_df)
    assert "n_already_folded" not in res.stats  # genuinely re-folded
    assert res.stats["n_clips"] == ref.stats["n_clips"]
    assert res.stats["n_edges"] == ref.stats["n_edges"]
    assert _clusters_pdf(res).equals(_clusters_pdf(ref))


def test_mixed_reingest_fails_loudly(spark, folded_state, tmp_path):
    import shutil
    import pandas as pd
    from record_deduplication_spark.plans.pipeline import DedupPipeline
    wd = str(tmp_path / "wd")
    shutil.copytree(folded_state["wd"], wd)
    # half old ids, half new ids
    old_part = folded_state["base"].iloc[:10]
    new_part = folded_state["batch"].iloc[:10]
    mixed = spark.createDataFrame(
        pd.concat([old_part, new_part], ignore_index=True))
    all_df = spark.createDataFrame(folded_state["all"])
    with pytest.raises(ValueError, match="mixed re-ingest"):
        DedupPipeline(spark, wd).run_incremental(mixed, all_df)


def test_commit_txn_crash_sweep_every_fs_op(spark, tmp_path, monkeypatch):
    """Systematic crash-point sweep: inject a failure at EVERY python-
    side filesystem mutation (rename/remove) commit_txn performs, in
    order, and assert after each that repair leaves the store in a
    consistent all-or-nothing state — every stage pre-txn or every
    stage post-txn, never mixed — and that re-running the same txn
    converges to the post state. This covers orderings the named
    crash-window tests don't enumerate."""
    import json
    import shutil

    from record_deduplication_spark.sources.checkpoint import CheckpointStore

    seed = str(tmp_path / "seed")
    st0 = CheckpointStore(spark, seed)
    st0.write("a", spark.range(0, 10).selectExpr("id", "id * 2 AS v"))
    st0.write("b", spark.range(0, 5).selectExpr("id", "id + 100 AS w"))

    def txn(store):
        return store.commit_txn(
            appends={"a": spark.range(10, 13).selectExpr("id",
                                                         "id * 2 AS v")},
            rewrites={"b": spark.range(50, 53).selectExpr("id",
                                                          "id + 100 AS w")})

    PRE_A, POST_A = list(range(10)), list(range(13))
    PRE_B, POST_B = list(range(5)), [50, 51, 52]

    def ids(store, stage):
        return sorted(r.id for r in store.read(stage).collect())

    # pass 0: count the fs mutations of one successful txn
    real_rename, real_remove = os.rename, os.remove
    wd = str(tmp_path / "count")
    shutil.copytree(seed, wd)
    counter = {"n": 0, "active": False, "die_at": None}

    def _maybe_die(kind, path):
        if counter["active"] and wd_cur[0] in str(path):
            if counter["die_at"] is not None \
                    and counter["n"] == counter["die_at"]:
                raise OSError(f"injected crash at fs op {counter['n']} "
                              f"({kind} {os.path.basename(str(path))})")
            counter["n"] += 1

    def frename(a, b):
        _maybe_die("rename", b)
        return real_rename(a, b)

    def fremove(p):
        _maybe_die("remove", p)
        return real_remove(p)

    monkeypatch.setattr(os, "rename", frename)
    monkeypatch.setattr(os, "remove", fremove)

    wd_cur = [wd]
    counter.update(n=0, active=True, die_at=None)
    txn(CheckpointStore(spark, wd))
    counter["active"] = False
    n_ops = counter["n"]
    assert n_ops >= 4, f"expected several fs ops, counted {n_ops}"

    results = []
    for i in range(n_ops):
        wd_i = str(tmp_path / f"c{i}")
        shutil.copytree(seed, wd_i)
        wd_cur[0] = wd_i
        store = CheckpointStore(spark, wd_i)
        counter.update(n=0, active=True, die_at=i)
        with pytest.raises(OSError, match="injected crash"):
            txn(store)
        counter["active"] = False

        # a fresh store's exists() runs every repair path
        store2 = CheckpointStore(spark, wd_i)
        assert store2.exists("a") and store2.exists("b")
        a_state, b_state = ids(store2, "a"), ids(store2, "b")
        assert a_state in (PRE_A, POST_A), (i, a_state)
        assert b_state in (PRE_B, POST_B), (i, b_state)
        committed = a_state == POST_A
        assert (b_state == POST_B) == committed, (
            f"crash at fs op {i}: MIXED state — a={'post' if committed else 'pre'} "
            f"but b={'post' if b_state == POST_B else 'pre'}")
        results.append(committed)

        if not committed:
            # pre-txn state: the caller's re-run must commit cleanly
            txn(store2)
        assert ids(store2, "a") == POST_A
        assert ids(store2, "b") == POST_B
        # no txn residue either way
        assert not [f for f in os.listdir(wd_i) if f.startswith("_txn_")]

    # sanity on the sweep itself: both outcomes must occur (crashes
    # before the commit point roll back, after it roll forward)
    assert any(results) and not all(results), results


def test_txn_same_stage_append_and_rewrite_rejected(spark, store):
    """Naming one stage in both appends and rewrites would let the
    rewrite's directory swap silently discard the appended rows: it
    must fail before touching any table."""
    with pytest.raises(ValueError, match="both appends and rewrites"):
        store.commit_txn(
            appends={"a": spark.range(10, 12).selectExpr("id", "id * 2 AS v"),
                     "b": spark.range(5, 6).selectExpr("id", "id + 100 AS w")},
            rewrites={"a": spark.range(0, 3).selectExpr("id", "id * 2 AS v")})
    assert _ids(store, "a") == list(range(10))
    assert _ids(store, "b") == list(range(5))
    assert not [f for f in os.listdir(store.base)
                if f.startswith("_txn_") or "__txnrw_" in f
                or "__append_" in f]
