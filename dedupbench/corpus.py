"""Benchmark inputs: seeded corpora, the cached oracle, the fold split.

Everything here is made from the benchmark's `--seed` and cached on
disk under the benchmark's work directory, keyed by
`(n, seed, DATAGEN_VERSION)` and by `oracle_key()`, so a repeated seed
pays generation (~7 s at 2,000 clips) and the single-process oracle
(~4 s) once, and a change to the config or the oracle's code builds a
new entry. Both
run in a child process (this file as a script), so their memory never
counts toward the benchmark process's peak RSS.
"""

from __future__ import annotations

import dataclasses
import glob
import hashlib
import os
import shutil
import subprocess
import sys

import pandas as pd

import record_deduplication_spark as pkg
from record_deduplication_spark.config import DEFAULT_CONFIG
from record_deduplication_spark.datagen import (DATAGEN_VERSION,
                                                write_clips_parquet)
from record_deduplication_spark.oracle import (cluster_pairs, oracle_dedup,
                                               pair_recall)

# fold split: pmod(xxhash64(clip_id), FOLD_MOD); residues < FOLD_BATCHES
# are the daily batches (one per operation, in residue order), the
# rest is the base run.
FOLD_MOD = 40
FOLD_BATCHES = 8
CACHE_KEEP = 4


class Pending:
    """A cache directory built by a child process (this file run as a
    script) next to its final path; `wait()` renames it into place, so
    an interrupted run never leaves a half-written cache entry.
    `prepare(tmp)` may write the child's inputs first."""

    def __init__(self, final: str, *args: str, prepare=None):
        self.final, self.proc = final, None
        if os.path.isdir(final):
            return
        self.tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(self.tmp, ignore_errors=True)
        os.makedirs(self.tmp)
        if prepare is not None:
            prepare(self.tmp)
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), *args, self.tmp])

    def wait(self) -> str:
        if self.proc is not None:
            if self.proc.wait() != 0:
                raise RuntimeError(f"building {self.final} failed")
            os.rename(self.tmp, self.final)
            self.proc = None
        return self.final

    def close(self) -> None:
        """Stop an unfinished build (the run is failing)."""
        if self.proc is not None:
            self.proc.kill()
            self.proc.wait()


def _build_corpus(n: int, seed: int, tmp: str) -> None:
    cp, _ = write_clips_parquet(tmp, n_clips=n, seed=seed)
    edges = oracle_dedup(pd.read_parquet(cp))["pairs"]
    edges[["id_1", "id_2"]].to_parquet(
        os.path.join(tmp, "oracle_edges.parquet"), index=False)


def oracle_key() -> str:
    """Hash of what the cached oracle edges depend on besides the
    corpus: the default config and the source of the oracle and of the
    kernels it calls (`functions/`)."""
    h = hashlib.sha256(repr(dataclasses.asdict(DEFAULT_CONFIG)).encode())
    root = os.path.dirname(pkg.__file__)
    for path in [os.path.join(root, "oracle.py"),
                 *sorted(glob.glob(os.path.join(root, "functions", "*.py")))]:
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def corpus_dir(cache: str, n: int, seed: int) -> Pending:
    """`write_clips_parquet(n, seed)` output, cached: a dir holding
    `clips.parquet` and `oracle_edges.parquet` once waited for. The cache
    keeps the CACHE_KEEP most recently used corpora: a 2,000-clip corpus
    with its fold split takes ~300 MB, and a checkout sees a new seed on
    nearly every run."""
    final = os.path.join(
        cache, f"clips_n{n}_s{seed}_v{DATAGEN_VERSION}_o{oracle_key()}")
    if os.path.isdir(final):
        os.utime(final)
    elif os.path.isdir(cache):
        # evict the least recently used, and builds a killed run left
        # behind (a build of this process is never evicted)
        mine = f".tmp{os.getpid()}"
        old = sorted((os.path.getmtime(p), p) for p in
                     (os.path.join(cache, d) for d in os.listdir(cache))
                     if not p.endswith(mine))
        for _, p in old[:max(len(old) - (CACHE_KEEP - 1), 0)]:
            shutil.rmtree(p, ignore_errors=True)
    return Pending(final, "corpus", str(n), str(seed))


class Oracle:
    """The oracle's verified edges for one corpus. Its blocking pairs
    every bucket in full and verifies pair by pair, so the oracle of any
    subset of the corpus is its edge list restricted to that subset;
    this is what lets each incremental fold be checked against the
    oracle of exactly the clips folded so far."""

    def __init__(self, corpus: str):
        e = pd.read_parquet(os.path.join(corpus, "oracle_edges.parquet"))
        self.edges = list(zip(e["id_1"], e["id_2"]))

    def clusters(self, ids) -> pd.DataFrame:
        """(clip_id, cluster_id) for `ids`: the min member id of its
        component, -1 for singletons. The union-find is the benchmark's
        own, not operators.cc's: the reference must not share code with
        the pipeline it checks."""
        ids = set(ids)
        parent: dict[str, str] = {}

        def find(x: str) -> str:
            while parent.get(x, x) != x:
                parent[x] = parent.get(parent[x], parent[x])
                x = parent[x]
            return x

        for a, b in self.edges:
            if a in ids and b in ids:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
        ordered = sorted(ids)
        roots = [find(i) for i in ordered]
        sizes = pd.Series(roots).value_counts()
        label = [r if sizes[r] > 1 else -1 for r in roots]
        return pd.DataFrame({"clip_id": ordered, "cluster_id": label})

    def scores(self, ours: pd.DataFrame) -> tuple[float, float]:
        """Dup-pair (recall, precision) of `ours` against the oracle of
        its clip set. Precision catches over-merged clusters, which keep
        recall at 1.0."""
        oracle = self.clusters(ours["clip_id"])
        return pair_recall(ours, oracle), pair_recall(oracle, ours)


def same_partition(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    """True iff two (clip_id, cluster_id) tables cover the same clips
    and co-cluster exactly the same pairs (labels may differ)."""
    return (set(a["clip_id"]) == set(b["clip_id"])
            and cluster_pairs(a) == cluster_pairs(b))


def _write_split(clips_path: str, tmp: str) -> None:
    res = pd.read_parquet(os.path.join(tmp, "residues.parquet"))
    pdf = pd.read_parquet(clips_path).merge(res, on="clip_id")
    parts = {"base": pdf[pdf["residue"] >= FOLD_BATCHES]}
    for k in range(FOLD_BATCHES):
        parts[f"batch_{k}"] = pdf[pdf["residue"] == k]
    for name, part in parts.items():
        # same layout as datagen's corpus (see write_clips_parquet)
        part.drop(columns="residue").to_parquet(
            os.path.join(tmp, f"{name}.parquet"), index=False,
            row_group_size=8, write_page_index=True)


def fold_split(spark, corpus: str) -> dict:
    """Split the corpus by pmod(xxhash64(clip_id), FOLD_MOD) into the
    base and FOLD_BATCHES batch files (cached per corpus). Returns the
    parquet paths ("base", "batches") and their clip ids ("base_ids",
    "batch_ids")."""
    from pyspark.sql import functions as F
    clips_path = os.path.join(corpus, "clips.parquet")
    d = os.path.join(corpus, "fold")

    def residues(tmp: str) -> None:
        # Spark's xxhash64 (seed 42) over the ids only; the child
        # splits the payload
        (spark.read.parquet(clips_path)
         .select("clip_id", F.expr(f"pmod(xxhash64(clip_id), {FOLD_MOD})")
                 .alias("residue"))
         .toPandas()
         .to_parquet(os.path.join(tmp, "residues.parquet"), index=False))
    Pending(d, "split", clips_path, prepare=residues).wait()
    res = pd.read_parquet(os.path.join(d, "residues.parquet"))
    return {
        "base": os.path.join(d, "base.parquet"),
        "batches": [os.path.join(d, f"batch_{k}.parquet")
                    for k in range(FOLD_BATCHES)],
        "base_ids": list(res.loc[res["residue"] >= FOLD_BATCHES, "clip_id"]),
        "batch_ids": [list(res.loc[res["residue"] == k, "clip_id"])
                      for k in range(FOLD_BATCHES)],
    }


if __name__ == "__main__":
    # child-process entry of Pending (run.py puts the package on
    # PYTHONPATH): `corpus <n> <seed> <tmp>` or `split <clips_path> <tmp>`
    kind, *rest = sys.argv[1:]
    if kind == "corpus":
        _build_corpus(int(rest[0]), int(rest[1]), rest[2])
    else:
        _write_split(*rest)
