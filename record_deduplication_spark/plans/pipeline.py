"""End-to-end dedup pipeline: the engine's flagship dataflow.

normalize+sign -> block (exact | MinHash-LSH | SimHash | L-gram)
-> union candidates -> verify (text/substring/audio) -> dup edges
-> connected components -> cluster table (+ stats, metrics).

Stage-as-checkpoint is the load-bearing design the reference implies
but never finished (its orchestrator is dead code —
/root/reference/src/pipeline/orchestrator.py:90-166, SURVEY.md §3.4):
every stage here commits a table via CheckpointStore and `resume=True`
skips completed stages.

Scale posture (designed for 10^12 clips / 1000 executors even though
tests run local[32]):
- `bytes` never crosses a shuffle: fingerprints + sha computed in the
  signature scan, payload re-joined only for surviving audio pairs.
- candidate generation is linear per block (capped/neighbor pairing);
  hot LSH bands cannot go quadratic.
- CC is large-star/small-star: O(log^2) rounds, skew-balanced.
- All joins are key-equi joins Catalyst can plan as shuffle hash /
  sort-merge with AQE skew splitting; no driver-side loops over rows.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DedupConfig, DEFAULT_CONFIG
from ..functions.localrel import local_rows_df
from ..operators import blocking as B
from ..operators.cc import assign_clusters, connected_components
from ..operators.signatures import add_signatures, require_signed_layout
from ..operators.stats import clustered
from ..operators.verify import build_edges
from ..sources.checkpoint import CheckpointStore


@dataclass
class PipelineResult:
    clusters: DataFrame
    edges: DataFrame
    candidates: DataFrame
    stats: dict
    subdivided: DataFrame | None = None  # (clip_id, cluster_key), only
    #   when run(max_cluster_size=...) requested size-bounded output


class DedupPipeline:
    def __init__(self, spark: SparkSession, workdir: str,
                 cfg: DedupConfig = DEFAULT_CONFIG):
        self.spark = spark
        self.cfg = cfg
        self.store = CheckpointStore(spark, workdir)

    def _stage_params_match(self, name: str, params: dict) -> bool:
        """True iff the stored `<name>_params` marker equals `params`.
        Missing marker = unknown provenance = no match (rebuild): a
        rebuild drops the marker BEFORE writing the stage table and
        writes the new one after it, so a crash in between errs toward
        recomputing, never toward serving a stale table."""
        import json as _json
        pstage = f"{name}_params"
        if not self.store.exists(pstage):
            return False
        rows = self.store.read(pstage).collect()
        return bool(rows) and _json.loads(rows[0].params) == params

    def _write_stage_params(self, name: str, params: dict) -> None:
        import json as _json
        self.store.write(f"{name}_params",
                         local_rows_df(self.spark,
                                       [(_json.dumps(params, sort_keys=True),)],
                                       "params string"))

    def _stage(self, name: str, run_id: int, resume: bool, build,
               params: dict | None = None) -> tuple[DataFrame, int]:
        """`params`: the stage's parameterization, for stages whose output
        depends on caller arguments (e.g. clusters_sub on
        max_cluster_size). Resume serves the stored table only when the
        stored params marker matches; a param change rebuilds instead
        of silently returning a table computed under different
        arguments."""
        if resume and self.store.exists(name) and (
                params is None or self._stage_params_match(name, params)):
            df = self.store.read(name)
            # row count from commit metadata (parquet footers / Iceberg
            # manifests), NOT df.count(): a resumed run must not pay a
            # full scan-and-count job per stage table it merely reads
            # back (at corpus scale that is the most expensive thing a
            # "resume" could possibly do)
            return df, sum(n for _, n in self.store.partition_rows(name))
        t0 = time.time()
        if params is not None:
            self.store.drop(f"{name}_params")
        df = self.store.write(name, build())
        if params is not None:
            self._write_stage_params(name, params)
        # per-partition lineage from commit METADATA (parquet footers /
        # Iceberg manifests) — no job over the data, skew visible in
        # the lineage table, and the row count comes for free
        part_rows = self.store.partition_rows(name)
        rows = sum(n for _, n in part_rows)
        self.store.log(run_id, name, t0, rows, len(part_rows),
                       partition_rows_max=max((n for _, n in part_rows), default=0),
                       partition_rows_min=min((n for _, n in part_rows), default=0))
        self.store.log_partitions(run_id, name, part_rows)
        return df, rows

    def run(self, clips: DataFrame, resume: bool = True,
            max_cluster_size: int | None = None) -> PipelineResult:
        cfg = self.cfg
        run_id = self.store.next_run_id()

        signed, n_clips = self._stage("signed", run_id, resume,
                                      lambda: add_signatures(clips, cfg))
        require_signed_layout(signed)

        cands, n_cands = self._stage(
            "candidates", run_id, resume,
            lambda: B.generate_candidates(signed, cfg))

        edges, n_edges = self._stage(
            "edges", run_id, resume,
            lambda: build_edges(cands, signed, clips, cfg))

        clusters, _ = self._stage(
            "clusters", run_id, resume,
            lambda: assign_clusters(
                signed.select("clip_id"),
                connected_components(edges.select("id_1", "id_2"), cfg),
                cfg))

        subdivided = None
        if max_cluster_size is not None:
            subdivided, _ = self._stage(
                "clusters_sub", run_id, resume,
                lambda: self._subdivide(clusters, edges, signed,
                                        max_cluster_size),
                params={"max_cluster_size": max_cluster_size})

        stats = {
            "n_clips": n_clips,
            "n_candidates": n_cands,
            "n_edges": n_edges,
            "n_clusters": clusters.where(clustered())
                                  .select("cluster_id").distinct().count(),
            "reduction_ratio": B.reduction_ratio(n_clips, n_cands),
        }
        self.store.log(run_id, "pipeline_done", time.time(), n_clips, 0, **stats)
        self.store.flush()
        return PipelineResult(clusters=clusters, edges=edges,
                              candidates=cands, stats=stats,
                              subdivided=subdivided)

    def run_incremental(self, new_clips: DataFrame,
                        all_clips: DataFrame,
                        strict: bool = False,
                        max_cluster_size: int | None = None
                        ) -> PipelineResult:
        """Daily-ingest shape: fold a NEW batch into a completed run
        without re-pairing old x old (at 10^12 rows a full re-run
        re-verifies every pair the previous run already owns).

        * `new_clips`: the newly ingested batch only;
        * `all_clips`: the full corpus table including the batch (at
          cluster scale this is the growing Iceberg table itself — the
          payload source for audio verification of old x new pairs).

        Steps: sign the batch; `incremental_candidates` against the
        stored signed table (block-pruned, old x old dropped); verify
        ONLY those pairs (context/payload joins read both old and new
        rows); union the new edges with the stored edge table (disjoint
        by construction: every new edge touches a new clip, which no
        old edge can); connected components over the union. The
        combined `signed`/`candidates`/`edges`/`clusters` tables are
        COMMITTED back, so the next batch folds into this run's state.
        Work scales with |new| + touched blocks, never |old|^2.

        Equality contract (ADVICE r3): pair-for-pair equality of the
        NEW-touching pairs with a from-scratch run is exact and
        tested (tests/test_blocking.py, tests/test_pipeline_e2e.py).
        Full CANDIDATE-set equality additionally requires that
        touched blocks keep their tier/salt structure: the hot tier's
        n_salts = ceil(block_size / salt_target) and chain windows
        depend on block size, so a block that CROSSES a tier boundary
        or changes its salt count when the batch lands would have
        paired its old x old members differently in a combined
        from-scratch run. Those extra old x old pairs are chain
        redundancy, not recall: hot-tier chains + per-salt
        representatives keep every same-block group CONNECTED under
        any salting (operators/blocking.py tier invariant, measured in
        tests/test_blocking.py::test_hot_block_chain_connectivity), and
        connected components is invariant to which spanning edges
        realize the connection — so cluster assignments still match
        the from-scratch run wherever verification is transitive on
        same-block dups (exact/SNR criteria: always; borderline
        Jaccard chains can in principle split differently). For
        hard-equality audits, pass `strict=True` (not the default: it
        re-pairs and re-verifies O(touched-block^2) old pairs for no
        recall gain).

        `strict=True` (VERDICT r4 #4) is the re-pair-of-changed-blocks
        audit mode: every block the batch touches is re-paired over its
        COMBINED members (operators/blocking.incremental_candidates_strict),
        pairs whose (id_1, id_2, sources) row changed are re-verified,
        and the candidates/edges tables are atomically REWRITTEN — the
        folded state is pair-for-pair equal to a from-scratch run on
        the combined corpus (tested in tests/test_strict_incremental.py
        with a planted tier-crossing block).

        Precondition: `new_clips` ids are NEW (not re-ingests of
        existing clip_ids) — dedup of the id space itself belongs to
        the ingest layer (streaming/dedup_stream exact_dedup_stream)."""
        cfg = self.cfg
        run_id = self.store.next_run_id()
        for stage in ("signed", "candidates", "edges"):
            if not self.store.exists(stage):
                raise ValueError(
                    f"run_incremental needs a completed prior run: "
                    f"stage table {stage!r} not found under the workdir")
        signed_old = require_signed_layout(self.store.read("signed"))

        # Idempotency anchor: the fold's table mutations commit as ONE
        # cross-stage transaction (CheckpointStore.commit_txn), so after
        # any crash the stored state is either pre-fold (batch absent
        # everywhere -> fold it) or post-fold (batch present everywhere
        # -> only the clusters overwrite / final flush may be missing).
        # Detect the latter by id presence and finish instead of
        # re-folding — re-running the SAME run_incremental call after a
        # crash is therefore always safe. A batch that is only PARTLY
        # known is neither: that's a re-ingest of old ids mixed with new
        # ones, which belongs to the ingest layer — fail loudly.
        new_ids = new_clips.select("clip_id")
        n_already = (signed_old.select("clip_id")
                     .join(F.broadcast(new_ids), "clip_id", "leftsemi")
                     .count())
        if n_already:
            n_batch = new_ids.count()
            if n_already != n_batch:
                raise ValueError(
                    f"run_incremental: {n_already} of {n_batch} batch "
                    f"clip_ids already exist in the stored signed table "
                    f"— mixed re-ingest; dedup the id space upstream "
                    f"(streaming/dedup_stream.exact_dedup_stream)")
            return self._refold_noop(run_id, n_batch, max_cluster_size)

        t0 = time.time()
        signed_new = add_signatures(new_clips, cfg).localCheckpoint(eager=True)
        n_new = signed_new.count()
        self.store.log(run_id, "signed_inc", t0, n_new,
                       signed_new.rdd.getNumPartitions())

        if strict:
            return self._fold_strict(signed_new, signed_old, all_clips,
                                     run_id, n_new, max_cluster_size)

        t0 = time.time()
        cands_new = B.incremental_candidates(signed_new, signed_old, cfg) \
                     .localCheckpoint(eager=True)
        n_cands_new = cands_new.count()
        self.store.log(run_id, "candidates_inc", t0, n_cands_new, 0)

        t0 = time.time()
        # eager: edges_new's plan reads the stored signed table, and
        # commit_txn stages the signed append by moving part files into
        # that very directory — materialize BEFORE the txn so
        # correctness cannot depend on the txn's stage preparation
        # order (commit_txn requires this of any df reading a table the
        # txn touches; see its docstring)
        edges_new = build_edges(cands_new,
                                signed_old.unionByName(signed_new),
                                all_clips, cfg).localCheckpoint(eager=True)
        # O(|new|) appends, never a rewrite of the corpus-sized stage
        # tables (Iceberg mode: snapshot appends). The edge union is
        # disjoint by construction: every incremental edge touches a
        # new clip, which no old edge can. The three appends commit as
        # ONE transaction: per-stage atomicity alone leaves crash
        # windows where e.g. edges contain the batch but signed doesn't
        # — a re-fold would then append the batch's edges twice.
        # counts of the folded tables from commit metadata (footers /
        # manifests) — an incremental batch must never pay a
        # corpus-sized count job over the tables it just appended to
        folded = self.store.commit_txn(appends={"edges": edges_new,
                                                "signed": signed_new,
                                                "candidates": cands_new})
        edges_all = folded["edges"]
        signed_all = folded["signed"]
        cands_all = folded["candidates"]
        n_edges = sum(n for _, n in self.store.partition_rows("edges"))
        self.store.log(run_id, "edges_inc", t0, n_edges, 0)
        return self._finish_fold(
            run_id, signed_all, cands_all, edges_all,
            {"n_new_clips": n_new,
             "n_candidates": sum(
                 n for _, n in self.store.partition_rows("candidates")),
             "n_new_candidates": n_cands_new,
             "n_edges": n_edges}, max_cluster_size)

    def _finish_fold(self, run_id: int, signed_all: DataFrame,
                     cands_all: DataFrame, edges_all: DataFrame,
                     extra_stats: dict,
                     max_cluster_size: int | None = None) -> PipelineResult:
        """Shared tail of every incremental-fold path (default, strict,
        already-folded): cluster the folded edge table (an idempotent
        overwrite), count from commit metadata, emit the final stats
        row and flush lineage. `extra_stats` carries the path-specific
        keys (n_new_clips / n_reverified_pairs / n_already_folded and
        the candidate/edge counts the caller already knows)."""
        cfg = self.cfg
        t0 = time.time()
        clusters = self.store.write(
            "clusters",
            assign_clusters(signed_all.select("clip_id"),
                            connected_components(
                                edges_all.select("id_1", "id_2"), cfg),
                            cfg))
        n_clips = sum(n for _, n in self.store.partition_rows("signed"))
        self.store.log(run_id, "clusters_inc", t0, n_clips, 0)
        stats = {
            "n_clips": n_clips,
            **extra_stats,
            "n_clusters": clusters.where(clustered())
                                  .select("cluster_id").distinct().count(),
        }
        subdivided = None
        if max_cluster_size is not None:
            # resume=False: the cluster table just changed under this
            # fold, so any stored clusters_sub is stale by construction
            subdivided, _ = self._stage(
                "clusters_sub", run_id, False,
                lambda: self._subdivide(clusters, edges_all, signed_all,
                                        max_cluster_size),
                params={"max_cluster_size": max_cluster_size})
        self.store.log(run_id, "pipeline_done", time.time(), n_clips, 0,
                       **stats)
        self.store.flush()
        return PipelineResult(clusters=clusters, edges=edges_all,
                              candidates=cands_all, stats=stats,
                              subdivided=subdivided)

    def _fold_strict(self, signed_new: DataFrame, signed_old: DataFrame,
                     all_clips: DataFrame, run_id: int, n_new: int,
                     max_cluster_size: int | None = None) -> PipelineResult:
        """Strict branch of run_incremental: exact-equality fold.

        Kept-pair edges are carried over only where the pair's
        (id_1, id_2, sources) row is unchanged (verification is
        deterministic per pair given the same routing, so the stored
        verdict is the verdict a from-scratch run computes); changed or
        new rows are re-verified fresh. The corrected candidates/edges
        tables are committed via CheckpointStore.rewrite (crash-safe
        swap), after eager materialization so the rewrite never reads
        the files it replaces."""
        cfg = self.cfg
        t0 = time.time()
        cands_full = B.incremental_candidates_strict(
            signed_new, signed_old, self.store.read("candidates"),
            cfg).localCheckpoint(eager=True)
        n_cands = cands_full.count()
        stored = self.store.read("candidates")
        unchanged = cands_full.join(stored, ["id_1", "id_2", "sources"],
                                    "leftsemi").localCheckpoint(eager=True)
        to_verify = cands_full.join(unchanged.select("id_1", "id_2"),
                                    ["id_1", "id_2"], "left_anti")
        n_reverify = n_cands - unchanged.count()
        self.store.log(run_id, "candidates_strict", t0, n_cands, 0,
                       n_reverify=n_reverify)

        t0 = time.time()
        edges_keep = self.store.read("edges").join(
            unchanged.select("id_1", "id_2"), ["id_1", "id_2"], "leftsemi")
        edges_fresh = build_edges(to_verify,
                                  signed_old.unionByName(signed_new),
                                  all_clips, cfg)
        edges_full = edges_keep.unionByName(edges_fresh) \
                               .localCheckpoint(eager=True)
        n_edges = edges_full.count()
        self.store.log(run_id, "edges_strict", t0, n_edges, 0)

        # one cross-stage transaction (see run_incremental): a crash
        # can never leave the batch in signed but the old pair tables
        # in place (or any other partial combination)
        folded = self.store.commit_txn(
            appends={"signed": signed_new},
            rewrites={"candidates": cands_full, "edges": edges_full})
        return self._finish_fold(
            run_id, folded["signed"], folded["candidates"], folded["edges"],
            {"n_new_clips": n_new,
             "n_candidates": n_cands,
             "n_reverified_pairs": n_reverify,
             "n_edges": n_edges}, max_cluster_size)

    def _refold_noop(self, run_id: int, n_batch: int,
                     max_cluster_size: int | None = None) -> PipelineResult:
        """Finish a batch whose fold ALREADY committed: a prior
        run_incremental crashed after its cross-stage fold transaction
        (signed/candidates/edges all contain the batch — commit_txn is
        all-or-nothing) but before the clusters overwrite or the final
        metrics flush — or the caller re-submitted a committed batch.
        Either way the fold is idempotent per batch: skip re-pairing
        entirely, recompute clusters from the stored edge table (an
        idempotent overwrite) and re-emit the final stats."""
        return self._finish_fold(
            run_id, self.store.read("signed"), self.store.read("candidates"),
            self.store.read("edges"),
            {"n_new_clips": 0,
             "n_already_folded": n_batch,
             "n_candidates": sum(
                 n for _, n in self.store.partition_rows("candidates")),
             "n_edges": sum(
                 n for _, n in self.store.partition_rows("edges"))},
            max_cluster_size)

    def _subdivide(self, clusters: DataFrame, edges: DataFrame,
                   signed: DataFrame, max_size: int) -> DataFrame:
        """C6 post-stage: size-bound the cluster table via the adaptive
        subdivision loop. Verified edges carry per-verdict score
        scales; edge_prob01 maps them onto one [0, 1] similarity for
        the threshold ladders (shared with the review report). The
        64-bit PCM fingerprint doubles as a 64-dim bit-vector feature
        so the C7 KMeans strategy gets a similarity-aware split in the
        production path too (not only when a caller supplies
        embeddings) before force is needed."""
        from ..operators.subdivide import subdivide_adaptive
        from ..operators.verify import edge_prob01
        e = edges.select("id_1", "id_2", edge_prob01().alias("score"))
        fp_bits = (signed
                   .where(F.col("pcm_fp").isNotNull())
                   .select("clip_id",
                           F.expr("transform(sequence(0, 63), "
                                  "b -> CAST((pcm_fp >> b) & 1 AS DOUBLE))")
                           .alias("embedding")))
        out, substats = subdivide_adaptive(
            clusters, e, max_size, cfg=self.cfg, features=fp_bits,
            high_threshold=self.cfg.jaccard_threshold)
        self.last_subdivision_stats = substats
        return out

    def model_stage(self, feats: DataFrame,
                    feature_cols: tuple[str, ...] = ("jaccard",),
                    resume: bool = True) -> dict:
        """M1-M2 + S5 as a RESUMABLE stage: train the pair-scoring
        model (heuristic labels -> driver IRLS logistic) and commit
        the coefficients as a `model` checkpoint table; with
        resume=True an existing table is read back instead of
        retraining — the model path now has the same kill/relaunch
        contract as every data stage (the reference joblib-dumps its
        model but has no resume around it,
        /root/reference/src/core/model_engine.py:374-376).

        Returns the coefficient dict {"intercept": b0, "coef": {...}}."""
        from ..operators.model import (heuristic_labels, model_from_rows,
                                       model_to_rows, train_logistic)
        if resume and self.store.exists("model"):
            stored = model_from_rows(
                (r.term, r.value) for r in self.store.read("model").collect())
            if set(stored["coef"]) == set(feature_cols):
                return stored
            # feature set changed: the stored coefficients answer a
            # different model — retrain instead of silently serving
            # them (same contract as _stage's params marker)
        run_id = self.store.next_run_id()
        t0 = time.time()
        labeled = heuristic_labels(feats, feature_cols=tuple(feature_cols))
        model = train_logistic(labeled, list(feature_cols))
        mdf = local_rows_df(self.spark, model_to_rows(model),
                            "term string, value double")
        self.store.write("model", mdf)
        self.store.log(run_id, "model", t0, len(model["coef"]) + 1, 1)
        self.store.flush()
        return model
