"""Spark-free kernel microbench on a fixed seeded slice of a workload.

Runs the signature stage's kernels in the order ``build_signatures``
runs them, on one batch of documents, and times each step. The slice's
outputs are kept so the caller can check them bit for bit against
``build_signatures`` run through Spark on the same documents.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from datasketches_spark.config import DedupConfig
from datasketches_spark.kernels import kmv, minhash, shingles, simhash, winnow

KERNELS = ("tokenize", "hash_tokens", "shingle", "unique", "minhash", "simhash",
           "kmv", "winnow")


def slice_ids(ids: list[int], seed: int, n: int) -> list[int]:
    rng = np.random.default_rng([seed, 3])
    pick = rng.choice(len(ids), size=min(n, len(ids)), replace=False)
    return sorted(ids[i] for i in pick)


def run_kernels(texts: list[str], cfg: DedupConfig, times: dict | None = None) -> dict:
    """One pass of every kernel over ``texts``; adds per-kernel seconds to
    ``times`` and returns the signature columns."""
    t = times if times is not None else {}

    def step(name, fn):
        t0 = time.perf_counter()
        out = fn()
        t[name] = t.get(name, 0.0) + time.perf_counter() - t0
        return out

    toks = step("tokenize", lambda: [shingles.tokenize(x or "") for x in texts])
    th = step("hash_tokens", lambda: shingles.hash_tokens_batch(toks, cfg.seed))
    streams = step("shingle", lambda: shingles.shingle_hashes_batch(th, cfg.ngram, cfg.seed))
    sets = step("unique", lambda: shingles.unique_sets_batch(streams))
    params = minhash.perm_params(cfg.num_perm, cfg.seed)
    mh = step("minhash", lambda: minhash.signatures_batch(sets, cfg.num_perm, cfg.seed, params))
    sh = step("simhash", lambda: simhash.fingerprints_batch(sets))
    entries, thetas = step("kmv", lambda: kmv.build_batch(sets, k=cfg.k, seed=cfg.seed, p=cfg.p))
    # the pipeline runs winnowing only with the span pass on; it is timed
    # here at the span pass's default window so its cost stays visible
    step("winnow", lambda: [winnow.winnow(s, cfg.span_window) for s in streams])
    return {
        "n_tokens": [len(x) for x in toks],
        "n_shingles": [s.shape[0] for s in sets],
        "minhash": [row.view(np.int64).tolist() for row in mh],
        "simhash": sh.view(np.int64).tolist(),
        "kmv_entries": [e.view(np.int64).tolist() for e in entries],
        "kmv_theta": [int(x) for x in thetas],
    }


def microbench(texts: list[str], cfg: DedupConfig, repeats: int = 3) -> tuple[dict, dict]:
    """Median per-kernel µs/doc over ``repeats`` passes, plus the outputs
    of the last pass."""
    samples = {k: [] for k in KERNELS}
    out = {}
    for _ in range(repeats):
        t: dict = {}
        out = run_kernels(texts, cfg, t)
        for k in KERNELS:
            samples[k].append(t[k])
    n = max(1, len(texts))
    us = {k: statistics.median(v) / n * 1e6 for k, v in samples.items()}
    return us, out


def compare(expected: dict, ids: list[int], spark_rows: list) -> list[str]:
    """Columns on which the Spark rows differ from the kernel outputs."""
    by_id = {r["doc_id"]: r for r in spark_rows}
    bad = []
    if sorted(by_id) != ids:
        return ["doc_id"]
    for col, vals in expected.items():
        got = [by_id[i][col] for i in ids]
        got = [list(g) if isinstance(g, (list, tuple, np.ndarray)) else g for g in got]
        if got != vals:
            bad.append(col)
    return bad
