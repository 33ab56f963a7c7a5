"""Hierarchical subdivision of oversized clusters (C6-C13).

Reference analogs (SURVEY.md §2.6; paths under the reference's
src/core/clustering/hierarchical/):

- C6 adaptive while-loop driver — while any cluster > max_size, with
  depth <= 20, wall-clock timeout and a no-progress break
  (adaptive_clusterer_v3.py:31-112).
- C8 SmartDBSCAN — progressive eps ladder [1, .7, .5, .3] with a
  0.8^depth depth factor (subdivision_engine_v3.py:357-445).
- C9 AggressivePCA — harsher ladder [.1, .05, .03, .01] * 0.5^depth for
  persistent clusters (size >= 500, depth >= 3)
  (subdivision_engine_v3.py:448-519).
- C7 FastKMeans — fit on a <= 5000-row sample, predict all members
  (subdivision_engine_v3.py:264-354).
- C10 Force — guaranteed-progress split, last resort
  (subdivision_engine_v3.py:522-598); also the ">10000 members or >70%
  of the time budget" fast path of the reference's strategy hint
  (adaptive_clusterer_v3.py:195-212).
- C13 adaptive depth threshold schedule — 30%/60%/100% progression
  (adaptive_threshold.py:16-71).

Spark-first shape
-----------------
The reference re-runs DBSCAN at ever-smaller eps inside each oversized
cluster. Our similarity-space analog re-runs **connected components
over the cluster's internal dup edges at progressively stricter score
thresholds** (an eps ladder in 1-score space) — similarity-aware
splitting with no geometric embedding needed.

Every strategy is a pure per-cluster kernel (`_ladder_split`,
`_kmeans_split`, `_force_split`, and the C6 loop `_adaptive_split`),
and `_per_cluster` is the only place that talks to Spark: it runs a
kernel once per oversized base cluster in ONE cogrouped
`applyInPandas` over the cluster's members and its intra-cluster
edges, checkpoints the result once and applies it with one merge
join. The job count is therefore constant — it does not grow with the
number of ladder rungs, strategies or depth levels.

Group contract: one task holds one oversized base cluster — its
members (sorted by clip_id), their feature vectors (64-dim in the
pipeline) and its intra-cluster edges. Every split stays inside its
base cluster, so sub-clusters never need a second shuffle.

Cluster-key contract: assignments are (clip_id, cluster_key STRING);
noise is NULL or "-1"/"-1.0" (see `operators.stats.NOISE_LABEL`).
Sub-clusters get hierarchical keys "<parent>.<min-member-id>"
(ladder), "<parent>_k<bucket>" (kmeans) or "<parent>_f<bucket>"
(force) — deterministic, derived from member ids, never from
nondeterministic counters.
"""

from __future__ import annotations

import json
import math
import time
from collections import defaultdict
from functools import partial
from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DedupConfig, DEFAULT_CONFIG
from .cc import uf_find, uf_union
from .stats import clustered, is_noise_label


# --------------------------------------------------------------------------
# C13: adaptive depth threshold schedule
# --------------------------------------------------------------------------

def adaptive_threshold(depth: int, base_threshold: float,
                       high_threshold: float) -> float:
    """Depth-staged similarity threshold (reference
    adaptive_threshold.py:16-71, exact semantics).

    `high_threshold` is the always-preserve level (connections at or
    below it are only cut at the deepest stages); `base_threshold` is
    the strictest eventual cut (base > high). The progression walks
    30% / 60% / 100% of the [high, base] range at 1-indexed depths
    <=2 / <=4 / >4."""
    depth_1 = depth + 1
    if depth_1 <= 2:
        factor = 0.3
    elif depth_1 <= 4:
        factor = 0.6
    else:
        factor = 1.0
    threshold = high_threshold + (base_threshold - high_threshold) * factor
    return max(threshold, high_threshold)


# --------------------------------------------------------------------------
# C8/C9: threshold ladders (eps ladders mapped to 1-score space)
# --------------------------------------------------------------------------

#: SmartDBSCAN eps multipliers (subdivision_engine_v3.py:410-415)
SMART_LADDER = (1.0, 0.7, 0.5, 0.3)
#: AggressivePCA eps multipliers (subdivision_engine_v3.py:488-490)
AGGRESSIVE_LADDER = (0.1, 0.05, 0.03, 0.01)


def ladder_thresholds(depth: int, start_threshold: float,
                      kind: str = "smart") -> list[float]:
    """Score thresholds for one subdivision attempt, strict-ascending.

    Maps the reference's eps ladders into similarity space via
    eps = (1 - start_threshold): rung_j = 1 - eps * f_j * decay^depth.
    `kind="smart"` uses factors [1, .7, .5, .3] with 0.8^depth decay
    (C8); `kind="aggressive"` uses [.1, .05, .03, .01] with 0.5^depth
    decay (C9)."""
    if kind == "smart":
        factors, decay = SMART_LADDER, 0.8
    elif kind == "aggressive":
        factors, decay = AGGRESSIVE_LADDER, 0.5
    else:
        raise ValueError(f"unknown ladder kind: {kind!r}")
    eps = max(1.0 - start_threshold, 0.0)
    out = []
    for f in factors:
        t = 1.0 - eps * f * (decay ** depth)
        out.append(min(max(t, 0.0), 1.0))
    return out


# --------------------------------------------------------------------------
# Per-cluster kernels: each maps one cluster's members to new keys
# --------------------------------------------------------------------------

def _ladder_split(key: str, ids: list[str], edges: list[tuple],
                  thresholds: list[float],
                  singletons_to_noise: bool = True) -> list | None:
    """C8/C9 kernel: walk the rungs in order; at each, union-find over
    the edges with score >= t (root = lexicographic min member, the
    shared operators/cc helpers) and accept the FIRST rung with >= 2
    components (the reference accepts the first eps with n_clusters
    >= 2, subdivision_engine_v3.py:417-441). `edges` are the cluster's
    valid intra edges (no NULL score, no self-loop). Members no edge
    touches at the accepted rung mirror DBSCAN-noise relabeling: NULL,
    or the parent key when not `singletons_to_noise`. Returns the new
    keys aligned with `ids`, or None when no rung splits."""
    for t in thresholds:
        parent: dict[str, str] = {}
        for a, b, s in edges:
            if s >= t:
                uf_union(parent, a, b)
        roots = {x: uf_find(parent, x) for x in parent}
        if len(set(roots.values())) >= 2:
            miss = None if singletons_to_noise else key
            return [f"{key}.{roots[i]}" if i in roots else miss for i in ids]
    return None


def _kmeans_fit_predict(X: np.ndarray, k: int, seed: int,
                        sample_max: int = 5000, iters: int = 20) -> np.ndarray:
    """Deterministic seeded Lloyd's with kmeans++-style init, fit on a
    sample of <= sample_max rows, predict all (the reference's
    fit-on-sample shape, subdivision_engine_v3.py:296-334)."""
    rng = np.random.default_rng(seed)
    n = len(X)
    k = max(1, min(k, n))
    S = X if n <= sample_max else X[rng.choice(n, sample_max, replace=False)]

    def d2_to(pts: np.ndarray, cents: np.ndarray) -> np.ndarray:
        # ||x||^2 - 2 x.C + ||c||^2 matmul form: O(n*k) memory, never
        # the O(n*k*dim) (pts[:,None,:]-cents)**2 broadcast temporary
        # (at 1e6 members x 100 centers x 64 dims that temporary is
        # ~5 TB — instant executor OOM inside the pandas UDF task)
        d = ((pts * pts).sum(1)[:, None] - 2.0 * (pts @ cents.T)
             + (cents * cents).sum(1)[None, :])
        return np.maximum(d, 0.0)

    centers = [S[int(rng.integers(len(S)))]]
    best_d2 = d2_to(S, np.asarray(centers))[:, 0]  # running min, O(n)
    for _ in range(1, k):
        tot = float(best_d2.sum())
        idx = (int(rng.integers(len(S))) if tot <= 0.0
               else int(rng.choice(len(S), p=best_d2 / tot)))
        centers.append(S[idx])
        best_d2 = np.minimum(best_d2, d2_to(S, S[idx][None])[:, 0])
    C = np.asarray(centers, dtype=np.float64)
    for _ in range(iters):
        lab = d2_to(S, C).argmin(1)
        newC = np.array([S[lab == j].mean(0) if (lab == j).any() else C[j]
                         for j in range(k)])
        if np.allclose(newC, C):
            break
        C = newC
    return d2_to(X, C).argmin(1)


def _kmeans_split(key: str, fv: list, max_size: int, seed: int,
                  sample_max: int = 5000) -> list:
    """C7 kernel: seeded KMeans with k = ceil(n / max_size) over the
    members that have a feature vector; members without one (missing
    row or NULL vector) keep `key`."""
    have = [i for i, v in enumerate(fv) if v is not None]
    out = [key] * len(fv)
    if have:
        X = np.vstack([fv[i] for i in have]).astype(np.float64)
        k = min(math.ceil(len(have) / max_size), len(have))
        for i, b in zip(have, _kmeans_fit_predict(X, k, seed, sample_max)):
            out[i] = f"{key}_k{b}"
    return out


def _force_split(key: str, n: int, max_size: int) -> list:
    """C10 kernel: round-robin over the members (sorted by clip_id)
    into ceil(n / max_size) buckets — always makes progress AND always
    bounds the result, since every bucket gets floor/ceil(n/k)
    members. The reference's PCA+KMeans is replaced because guaranteed
    progress is the only contract here; a hash split is NOT
    guaranteed (all members of a small cluster can collide into one
    bucket, and being deterministic it would never unstick)."""
    nb = math.ceil(n / max_size)
    return [f"{key}_f{r % nb}" for r in range(n)]


def _by_key(keys: list) -> dict[str, list[int]]:
    """Member indices per clustered key (noise keys excluded)."""
    out: dict[str, list[int]] = defaultdict(list)
    for i, k in enumerate(keys):
        if not is_noise_label(k):
            out[k].append(i)
    return out


def _adaptive_split(key: str, ids: list[str], fv: list, edges: list[tuple],
                    *, max_size: int, base_threshold: float, high: float,
                    max_depth: int, timeout_s: float, t0: float,
                    force_above: int, seed: int, use_force: bool,
                    has_features: bool) -> tuple[list, dict]:
    """C6 kernel: the adaptive loop for ONE base cluster. While any of
    its keys exceeds max_size — depth < max_depth, wall-clock budget
    measured from `t0`, no-progress break (reference loop shape at
    adaptive_clusterer_v3.py:71-104) — split each oversized key with
    the reference's strategy priority:

      force          keys > force_above members, or > 70% of the time
                     budget spent (strategy hint,
                     adaptive_clusterer_v3.py:195-212)
      ladder smart   C8 rungs from the C13 depth schedule
      ladder aggr.   C9 rungs, for persistent keys
                     (depth >= 3, size >= 500 — C9 can_handle)
      kmeans         keys the ladders could not split, when
                     `has_features`
      force          last resort (guaranteed progress) when allowed

    Returns (keys aligned with `ids`, trace) where trace holds one
    [depth, n_oversized, usage, subdivisions_made] row per level and
    the stop reason; subdivide_adaptive sums the traces into stats."""
    keys: list = [key] * len(ids)
    pos = {c: i for i, c in enumerate(ids)}
    levels: list = []
    stopped = "max_depth"
    for depth in range(max_depth):
        elapsed = time.time() - t0
        if elapsed > timeout_s:
            stopped = "timeout"
            break
        groups = _by_key(keys)
        over = {k: len(ix) for k, ix in groups.items() if len(ix) > max_size}
        if not over:
            stopped = "converged"
            break
        usage: dict[str, int] = {}

        def put(k: str, new: list) -> None:
            for i, nk in zip(groups[k], new):
                keys[i] = nk

        def force(ks: Iterable[str]) -> None:
            for k in ks:
                put(k, _force_split(k, len(groups[k]), max_size))

        def ladder(ks: list[str], kind: str) -> set[str]:
            """Split each key in `ks` over its intra edges; return the
            keys no rung split."""
            rungs = ladder_thresholds(
                depth, adaptive_threshold(depth, base_threshold, high), kind)
            want, intra = set(ks), defaultdict(list)
            for a, b, s in edges:
                ka = keys[pos[a]]
                if ka in want and keys[pos[b]] == ka:
                    intra[ka].append((a, b, s))
            unsplit = set()
            for k in ks:
                new = _ladder_split(k, [ids[i] for i in groups[k]],
                                    intra[k], rungs)
                if new is None:
                    unsplit.add(k)
                else:
                    put(k, new)
            return unsplit

        hurry = elapsed > 0.7 * timeout_s
        forced = [k for k, s in over.items()
                  if use_force and (s > force_above or hurry)]
        laddered = [k for k in over if k not in set(forced)]
        if forced:
            force(forced)
            usage["force"] = len(forced)
        if laddered:
            still = ladder(laddered, "smart")
            usage["ladder_smart"] = len(laddered) - len(still)
            aggr = [k for k in still if depth >= 3 and over[k] >= 500]
            if aggr:
                rem = ladder(aggr, "aggressive")
                usage["ladder_aggressive"] = len(aggr) - len(rem)
                still = (still - set(aggr)) | rem
            if still and has_features:
                targets = sorted(still)
                for t in targets:
                    put(t, _kmeans_split(t, [fv[i] for i in groups[t]],
                                         max_size, seed))
                # KMeans is NOT guaranteed to split (identical feature
                # vectors collapse every center onto one point: every
                # member lands in bucket "<key>_k0", RENAMED but not
                # split) — check the targets AND their _k descendants,
                # and route survivors to force
                groups = _by_key(keys)
                over2 = {k for k, ix in groups.items() if len(ix) > max_size}
                tset = set(targets)
                still = {k for k in over2
                         if k in tset
                         or any(k.startswith(t + "_k") for t in tset)}
                # usage counts progressed TARGETS (one target can leave
                # several oversized _k children in `still`)
                unresolved = {t for t in tset
                              if t in over2
                              or any(k.startswith(t + "_k") for k in over2)}
                usage["kmeans"] = len(targets) - len(unresolved)
            if still and use_force:
                force(sorted(still))
                usage["force"] = usage.get("force", 0) + len(still)
        made = sum(usage.values())
        levels.append([depth, len(over), usage, made])
        if made == 0:
            stopped = "no_progress"
            break
    return keys, {"levels": levels, "stopped": stopped}


# --------------------------------------------------------------------------
# Spark plumbing: one cogrouped applyInPandas per call
# --------------------------------------------------------------------------

def _per_cluster(clusters: DataFrame, max_size: int, kernel,
                 cluster_col: str = "cluster_id",
                 edges: DataFrame | None = None, score_col: str = "score",
                 features: DataFrame | None = None,
                 feature_col: str = "embedding"
                 ) -> tuple[DataFrame, DataFrame]:
    """Run `kernel(key, ids, fv, edges) -> (new_keys, trace | None)`
    once per base cluster with more than `max_size` members.

    `ids` are the cluster's members sorted by clip_id, `fv` their
    feature vectors (None where missing) and `edges` its intra-cluster
    (id_1, id_2, score) edges minus NULL scores and self-loops. All
    oversized clusters ride ONE cogrouped applyInPandas; its output is
    checkpointed once and merged with one left join.

    Returns (full assignment (clip_id, cluster_key), checkpointed
    `trace` rows — one JSON string per group that returned a trace)."""
    assign = clusters.select(
        "clip_id", F.col(cluster_col).cast("string").alias("cluster_key"))
    big = (assign.where(clustered("cluster_key"))
           .groupBy("cluster_key").agg(F.count(F.lit(1)).alias("_n"))
           .where(F.col("_n") > max_size).select("cluster_key"))
    members = assign.join(big, "cluster_key", "leftsemi")
    if features is None:
        members = members.withColumn("_fv", F.lit(None).cast("array<double>"))
    else:
        members = members.join(
            features.select("clip_id", F.col(feature_col)
                            .cast("array<double>").alias("_fv")),
            "clip_id", "left")
    if edges is None:
        intra = assign.sparkSession.createDataFrame(
            [], "cluster_key string, id_1 string, id_2 string, _score double")
    else:
        # fresh column names: cogrouping `members` with a frame
        # derived from it would otherwise be an ambiguous self-join
        m1 = members.select(F.col("clip_id").alias("id_1"),
                            F.col("cluster_key").alias("_ck"))
        m2 = members.select(F.col("clip_id").alias("id_2"),
                            F.col("cluster_key").alias("_ck"))
        intra = (edges.select("id_1", "id_2", F.col(score_col)
                              .cast("double").alias("_score"))
                 .join(m1, "id_1").join(m2, ["id_2", "_ck"])
                 .select(F.col("_ck").alias("cluster_key"),
                         "id_1", "id_2", "_score"))

    def run(m: pd.DataFrame, e: pd.DataFrame) -> pd.DataFrame:
        m = m.sort_values("clip_id").reset_index(drop=True)
        e = e[e["_score"].notna() & (e["id_1"] != e["id_2"])]
        keys, trace = kernel(m["cluster_key"].iloc[0], m["clip_id"].tolist(),
                             m["_fv"].tolist(),
                             list(zip(e["id_1"], e["id_2"], e["_score"])))
        out = pd.DataFrame({"clip_id": m["clip_id"], "new_key": keys,
                            "trace": None})
        if trace is not None:
            out.loc[len(out)] = [None, None, json.dumps(trace)]
        return out

    out = (members.select("cluster_key", "clip_id", "_fv")
           .groupBy("cluster_key").cogroup(intra.groupBy("cluster_key"))
           .applyInPandas(run, "clip_id string, new_key string, trace string")
           .localCheckpoint(eager=True))
    # the _sub marker tells a NULL new_key (split off as noise) from a
    # member outside every oversized cluster
    sub = out.where(F.col("clip_id").isNotNull()).select(
        "clip_id", "new_key", F.lit(True).alias("_sub"))
    merged = (assign.join(sub, "clip_id", "left")
              .select("clip_id", F.when(F.col("_sub"), F.col("new_key"))
                      .otherwise(F.col("cluster_key")).alias("cluster_key")))
    return merged, out.where(F.col("trace").isNotNull())


# --------------------------------------------------------------------------
# Public operators
# --------------------------------------------------------------------------

def subdivide_ladder(clusters: DataFrame, edges: DataFrame, max_size: int,
                     thresholds: Iterable[float],
                     score_col: str = "score",
                     cluster_col: str = "cluster_id",
                     singletons_to_noise: bool = True) -> DataFrame:
    """C8/C9: re-run connected components over each oversized
    cluster's internal edges at progressively stricter score
    thresholds and accept the FIRST rung that splits it into >= 2
    sub-components (`_ladder_split`). Members disconnected at the
    accepted rung become NULL (noise) when `singletons_to_noise`, else
    stay in their parent cluster.

    Returns the full assignment (clip_id, cluster_key); split members
    get "<parent>.<sub-representative>" keys. Clusters no rung can
    split keep their key (the adaptive loop falls through to
    KMeans/force)."""
    rungs = list(thresholds)

    def kernel(key, ids, fv, es):
        new = _ladder_split(key, ids, es, rungs, singletons_to_noise)
        return (new if new is not None else [key] * len(ids)), None

    return _per_cluster(clusters, max_size, kernel, cluster_col,
                        edges=edges, score_col=score_col)[0]


def subdivide_kmeans(clusters: DataFrame, features: DataFrame,
                     max_size: int, feature_col: str = "embedding",
                     seed: int = 42, sample_max: int = 5000,
                     cluster_col: str = "cluster_id") -> DataFrame:
    """C7: re-cluster every oversized cluster's members with seeded
    KMeans (k = ceil(size / max_size)) over a per-record feature
    vector — the reference's FastKMeans subdivision
    (subdivision_engine_v3.py:264-354, fit-on-sample predict-on-all).
    Members without features keep their cluster."""
    def kernel(key, ids, fv, es):
        return _kmeans_split(key, fv, max_size, seed, sample_max), None

    return _per_cluster(clusters, max_size, kernel, cluster_col,
                        features=features, feature_col=feature_col)[0]


def subdivide_force(clusters: DataFrame, max_size: int,
                    cluster_col: str = "cluster_id") -> DataFrame:
    """C10 ForceStrategy analog: deterministic round-robin split of
    every oversized cluster into ceil(size/max_size) buckets of at most
    max_size members (`_force_split`; subdivision_engine_v3.py:522-598)."""
    def kernel(key, ids, fv, es):
        return _force_split(key, len(ids), max_size), None

    return _per_cluster(clusters, max_size, kernel, cluster_col)[0]


def subdivide_adaptive(clusters: DataFrame, edges: DataFrame, max_size: int,
                       features: DataFrame | None = None,
                       cfg: DedupConfig = DEFAULT_CONFIG,
                       base_threshold: float = 0.99,
                       high_threshold: float | None = None,
                       max_depth: int = 20, timeout_s: float = 300.0,
                       force_above: int = 10_000,
                       score_col: str = "score",
                       feature_col: str = "embedding",
                       seed: int = 42,
                       use_force: bool = True,
                       cluster_col: str = "cluster_id",
                       ) -> tuple[DataFrame, dict]:
    """C6: size-bound every cluster with the adaptive loop
    (`_adaptive_split`), run once per oversized base cluster. The stop
    conditions apply per base cluster, so a cluster's keys never
    depend on which other clusters are oversized.

    Returns (assignment, stats); stats mirrors the reference's
    levels/strategy-usage accounting, summed over the clusters at each
    depth: `levels` holds {depth, n_oversized, usage,
    subdivisions_made} per depth, `stopped` is the most severe
    per-cluster stop reason (timeout > max_depth > no_progress >
    converged) and `final_depth` the deepest cluster's level count."""
    t0 = time.time()
    high = cfg.jaccard_threshold if high_threshold is None else high_threshold
    kernel = partial(_adaptive_split, max_size=max_size,
                     base_threshold=base_threshold, high=high,
                     max_depth=max_depth, timeout_s=timeout_s, t0=t0,
                     force_above=force_above, seed=seed, use_force=use_force,
                     has_features=features is not None)
    assign, trace = _per_cluster(clusters, max_size, kernel, cluster_col,
                                 edges=edges, score_col=score_col,
                                 features=features, feature_col=feature_col)
    traces = [json.loads(r.trace) for r in trace.select("trace").collect()]

    levels: dict[int, dict] = {}
    for tr in traces:
        for depth, n_over, usage, made in tr["levels"]:
            lv = levels.setdefault(depth, {"depth": depth, "n_oversized": 0,
                                           "usage": {},
                                           "subdivisions_made": 0})
            lv["n_oversized"] += n_over
            for k, v in usage.items():
                lv["usage"][k] = lv["usage"].get(k, 0) + v
            lv["subdivisions_made"] += made
    reasons = {tr["stopped"] for tr in traces}
    stats: dict = {
        "max_cluster_size": max_size,
        "levels": [levels[d] for d in sorted(levels)],
        "total_subdivisions": sum(lv["subdivisions_made"]
                                  for lv in levels.values()),
        "stopped": next((r for r in ("timeout", "max_depth", "no_progress")
                         if r in reasons), "converged"),
        "final_depth": len(levels),
        "total_time_s": round(time.time() - t0, 3),
    }
    return assign, stats
