"""Kernel microbench: the package's public per-row kernels, called
single-threaded in the driver on rows drawn from the workload's own
corpus, so a kernel change shows here before it reaches the end-to-end
numbers."""

from __future__ import annotations

import time

import numpy as np
import pandas as pd

from record_deduplication_spark.config import DEFAULT_CONFIG as CFG
from record_deduplication_spark.functions import audio as A
from record_deduplication_spark.functions import hashing as H
from record_deduplication_spark.functions import text as X
from record_deduplication_spark.functions.suffix_array import \
    longest_common_run

ROWS = 48          # rows (or row pairs) per kernel, drawn by seed
BUDGET_S = 0.25    # minimum measured time per kernel


def _rate(fn, items, nbytes) -> dict:
    """Call fn over items repeatedly for at least BUDGET_S; rows/s is
    the median over passes, bytes_per_call the mean input size."""
    rates, t_all = [], time.perf_counter()
    while not rates or time.perf_counter() - t_all < BUDGET_S:
        t = time.perf_counter()
        for it in items:
            fn(*it)
        rates.append(len(items) / (time.perf_counter() - t))
    return {"rows_per_s": float(np.median(rates)),
            "bytes_per_call": float(np.mean(nbytes))}


def run(corpus: pd.DataFrame, seed: int) -> dict:
    rows = corpus.sample(n=min(ROWS, len(corpus)), random_state=seed)
    blobs = [bytes(b) for b in rows["bytes"]]
    pcms = [A.decode_wav(b) for b in blobs]
    texts = [t or "" for t in rows["transcript"]]
    toks = [X.tokenize(X.normalize_text(t)) for t in texts]
    ma, mb = H.minhash_params(CFG.num_perm, CFG.minhash_seed)
    pairs = list(zip(range(len(rows)), list(range(1, len(rows))) + [0]))
    # SNR survivors are near-duplicates: compare each clip with a copy
    # carrying ~40 dB of noise, as verify_audio does on real survivors
    rng = np.random.default_rng(seed)
    noisy = [(p + rng.normal(0.0, 0.01 * (float(np.std(p)) or 1.0), p.shape), s)
             for p, s in pcms]

    out = {
        "decode_wav": _rate(A.decode_wav, [(x,) for x in blobs],
                            [len(x) for x in blobs]),
        "pcm_fingerprint_spectral": _rate(
            lambda p, s: A.pcm_fingerprint_spectral(
                p, s, CFG.fp_time_frames, CFG.fp_freq_bands,
                CFG.fp_fmin_hz, CFG.fp_fmax_hz),
            pcms, [p.nbytes for p, _ in pcms]),
        "minhash_signature": _rate(
            lambda tk: H.minhash_signature(
                H.hash_strs_u64(X.shingles(tk, CFG.shingle_k)), ma, mb),
            [(tk,) for tk in toks], [len(t.encode()) for t in texts]),
        "longest_common_run": _rate(
            longest_common_run, [(toks[i], toks[j]) for i, j in pairs],
            [len(texts[i].encode()) + len(texts[j].encode())
             for i, j in pairs]),
        "pcm_allclose_snr": _rate(
            lambda p, s, q, r: A.pcm_allclose_snr(p, s, q, r, CFG.snr_db_min),
            [(*a, *b) for a, b in zip(pcms, noisy)],
            [a[0].nbytes + b[0].nbytes for a, b in zip(pcms, noisy)]),
    }
    return {f"kernel.{k}.{f}": v for k, d in out.items() for f, v in d.items()}
