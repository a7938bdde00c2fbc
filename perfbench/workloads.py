"""Seeded benchmark inputs, generated without Spark and cached on disk.

Every input is a pure function of ``(workload, seed, size)``. Generation
runs before the Spark session starts, so no metric includes it, and the
cache key is the directory name, so a rerun with the same seed reuses
the files.

Workloads (the ``why`` of each is in ``BENCHMARK.json``):

``repo-mix``
    ``sources.corpus`` rows (the same rows ``generate_corpus(seed)``
    yields) plus a 2% tail of long files. Each long file has more than
    k = 4096 distinct 5-gram shingles, so its KMV sketch is in estimation
    mode. No two long files are near variants: verifying such a pair
    takes ~10 core-seconds in one task on a 4-core host, and where that
    task lands swings the wall time of a call by +-15%.

``fork-heavy``
    Many rows over few distinct contents: every content is copied a
    heavy-tailed number of times (forks, vendored files), near-variant
    families of 8-32 members sit at Jaccard 0.6-0.95 to their base, and a
    clique of documents shares one block at pairwise Jaccard ~0.75, just
    below the 0.8 threshold. The clique fills band buckets past
    ``bucket_cap`` and makes its rep edges fail verification.

Each input directory holds ``corpus/`` (parquet, several files like a
Spark-written table), ``truth.parquet`` (planted pairs whose exact
shingle Jaccard is at or above the threshold, by row id) and
``meta.json``.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from datasketches_spark.config import DedupConfig
from datasketches_spark.kernels import shingles
from datasketches_spark.sources import corpus as corpus_mod

CFG = DedupConfig()

SIZES = {
    # rows of the base corpus; the long tail adds 2% on top
    "repo-mix": 3_000,
    # distinct contents; rows are COPIES (4) times this
    "fork-heavy": 2_700,
}
WORKLOADS = tuple(SIZES)

GEN_PROCS = max(1, min(4, len(os.sched_getaffinity(0))))
LONG_FRAC = 0.02
# a band's largest clique bucket holds 12-60% of the clique; at 700
# documents it is past bucket_cap = 256 in 2-6 of the 16 bands
CLIQUE_DOCS = 700
CLIQUE_BLOCK = 150
# families hold ~2000 documents: the planted pairs near the 0.8 threshold
# then number enough that pair_recall stays above 0.99 from seed to seed
# (with ~1000 family documents one seed in ten fell to 0.988)
FAMILY_FRAC = 0.75
COPIES = 4

SCHEMA = pa.schema([
    ("id", pa.int64()), ("repo", pa.string()), ("path", pa.string()),
    ("commit", pa.string()), ("lang", pa.string()), ("content", pa.string()),
])
TRUTH_SCHEMA = pa.schema([
    ("id_a", pa.int64()), ("id_b", pa.int64()), ("jaccard", pa.float64()),
])


class Inputs:
    """Paths and facts of one generated input set."""

    def __init__(self, root: str):
        self.root = root
        with open(os.path.join(root, "meta.json")) as f:
            self.meta = json.load(f)
        self.corpus_path = os.path.join(root, "corpus")
        self.truth_path = os.path.join(root, "truth.parquet")

    @property
    def n_rows(self) -> int:
        return int(self.meta["n_rows"])

    def contents(self) -> dict[int, str]:
        t = pq.read_table(self.corpus_path, columns=["id", "content"])
        return dict(zip(t.column("id").to_pylist(), t.column("content").to_pylist()))

    def truth(self) -> tuple[np.ndarray, np.ndarray]:
        t = pq.read_table(self.truth_path)
        return t.column("id_a").to_numpy(), t.column("id_b").to_numpy()


def ensure_inputs(workload: str, seed: int, cache_root: str) -> Inputs:
    size = SIZES[workload]
    root = os.path.join(cache_root, f"{workload}-seed{seed}-n{size}")
    if not os.path.exists(os.path.join(root, "meta.json")):
        tmp = root + ".partial"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.join(tmp, "corpus"))
        gen = {"repo-mix": _repo_mix, "fork-heavy": _fork_heavy}[workload]
        rows, truth, meta = gen(seed, size)
        _write_corpus(rows, os.path.join(tmp, "corpus"))
        pq.write_table(pa.table(_columns(truth, TRUTH_SCHEMA), schema=TRUTH_SCHEMA),
                       os.path.join(tmp, "truth.parquet"))
        meta.update({"workload": workload, "seed": seed, "size": size,
                     "n_rows": len(rows), "n_truth_pairs": len(truth)})
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f, indent=1)
        shutil.rmtree(root, ignore_errors=True)
        os.rename(tmp, root)
    return Inputs(root)


def _columns(rows: list[tuple], schema: pa.Schema) -> dict:
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    return {f.name: list(c) for f, c in zip(schema, cols)}


def _write_corpus(rows: list[tuple], path: str) -> None:
    """Several parquet files, as many as ``generate_corpus`` uses
    partitions, so the scan splits the way a Spark-written corpus does."""
    n_files = max(8, min(256, len(rows) // 2000 or 8))
    step = -(-len(rows) // n_files)
    for i in range(n_files):
        chunk = rows[i * step:(i + 1) * step]
        pq.write_table(pa.table(_columns(chunk, SCHEMA), schema=SCHEMA),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def corpus_row(seed: int, doc_id: int) -> tuple:
    """One ``generate_corpus`` row, built with the generator's own
    per-document functions."""
    gid, role = divmod(doc_id, 20)
    lang = corpus_mod.LANGS[(gid if role >= 14 else doc_id) % len(corpus_mod.LANGS)]
    toks = corpus_mod._doc_tokens(seed, doc_id)
    r = (gid * 2654435761) % 10_000
    repo_idx = int((r / 10_000.0) ** 2 * 499)
    return (doc_id, f"org{repo_idx:03d}/repo{gid % 7}",
            f"src/pkg{doc_id % 23}/mod_{doc_id}.{lang}",
            corpus_mod._hex40(seed, doc_id), lang, corpus_mod._render(toks, lang))


def _shingle_sets(texts: dict[int, str]) -> dict[int, np.ndarray]:
    """Distinct shingle hashes per document, equal to
    ``shingles.shingle_set`` but batched like the signature stage."""
    ids = list(texts)
    out: dict[int, np.ndarray] = {}
    for i in range(0, len(ids), 2048):
        chunk = ids[i:i + 2048]
        th = shingles.hash_tokens_batch([shingles.tokenize(texts[d]) for d in chunk], CFG.seed)
        sets = shingles.unique_sets_batch(shingles.shingle_hashes_batch(th, CFG.ngram, CFG.seed))
        out.update(zip(chunk, sets))
    return out


def jaccard(a: np.ndarray, b: np.ndarray) -> float:
    """Exact Jaccard of two distinct shingle sets; the same formula as
    ``kernels.shingles.exact_jaccard`` without re-tokenizing."""
    if a.size == 0 and b.size == 0:
        return 1.0
    inter = np.intersect1d(a, b, assume_unique=True).size
    return inter / float(a.size + b.size - inter)


def _truth(pairs: list[tuple[int, int]], texts: dict[int, str]) -> list[tuple]:
    ids = {i for p in pairs for i in p}
    sets = _shingle_sets({i: texts[i] for i in ids})
    out = []
    for a, b in pairs:
        j = jaccard(sets[a], sets[b])
        if j >= CFG.jaccard_threshold:
            out.append((a, b, j))
    return out


def _random_tokens(rng: np.random.Generator, n: int, vocab: int) -> list[str]:
    return [f"v{v}" for v in rng.integers(0, vocab, n)]


def long_tokens(rng: np.random.Generator) -> list[str]:
    return _random_tokens(rng, int(rng.integers(4500, 6000)), 200_000)


def _mutate(tokens: list[str], target_j: float, rng: np.random.Generator,
            tag: int) -> list[str]:
    rate = corpus_mod._mutation_rate(target_j, CFG.ngram)
    mask = rng.random(len(tokens)) < rate
    return [f"u{tag}x{j}" if m else t for j, (t, m) in enumerate(zip(tokens, mask))]


def _corpus_rows(args: tuple[int, int, int]) -> list[tuple]:
    seed, lo, hi = args
    return [corpus_row(seed, i) for i in range(lo, hi)]


def _repo_mix(seed: int, n: int):
    step = -(-n // GEN_PROCS)
    pool = multiprocessing.get_context("spawn").Pool(GEN_PROCS)
    try:
        chunks = pool.map(_corpus_rows, [(seed, lo, min(n, lo + step))
                                         for lo in range(0, n, step)])
    finally:
        pool.close()
        pool.join()
    rows = [r for c in chunks for r in c]
    texts = {r[0]: r[5] for r in rows}
    pairs = []
    for gid in range(n // 20):
        b = gid * 20
        pairs += [(b + 14, b + 15), (b + 14, b + 16), (b + 15, b + 16),
                  (b + 14, b + 17), (b + 15, b + 17), (b + 16, b + 17)]
    pairs = [p for p in pairs if p[1] < n]
    # long tail: 4.5k-6k tokens over a wide vocabulary, so nearly every
    # 5-gram is distinct and each sketch is past k = 4096 entries
    rng = np.random.default_rng([seed, 7])
    n_long = int(n * LONG_FRAC)
    for i in range(n_long):
        doc_id = n + i
        toks = long_tokens(rng)
        text = corpus_mod._render(toks, "c")
        texts[doc_id] = text
        rows.append((doc_id, f"org-long/repo{i % 7}", f"vendor/blob_{doc_id}.c",
                     corpus_mod._hex40(seed, doc_id), "c", text))
    return rows, _truth(pairs, texts), {"n_long": n_long}


def _fork_heavy(seed: int, n_distinct: int):
    rng = np.random.default_rng([seed, 11])
    contents: list[tuple[str, str]] = []  # (lang, text) per distinct content
    pairs_distinct: list[tuple[int, int]] = []
    # near-variant families: base + members at Jaccard 0.6-0.95 to it
    n_family_docs = int(n_distinct * FAMILY_FRAC)
    while n_family_docs > 0:
        size = int(min(rng.integers(8, 33), max(n_family_docs, 2)))
        base = _random_tokens(rng, int(rng.integers(150, 400)), 6000)
        lang = corpus_mod.LANGS[len(contents) % len(corpus_mod.LANGS)]
        first = len(contents)
        contents.append((lang, corpus_mod._render(base, lang)))
        for _ in range(size - 1):
            toks = _mutate(base, float(rng.uniform(0.6, 0.95)), rng, len(contents))
            contents.append((lang, corpus_mod._render(toks, lang)))
        members = range(first, len(contents))
        pairs_distinct += [(a, b) for a in members for b in members if a < b]
        n_family_docs -= size
    # the clique: one shared 150-token block plus a unique 22-32 token
    # tail per document; pairwise Jaccard 0.70-0.78 on 5-gram shingles
    block = _random_tokens(rng, CLIQUE_BLOCK, 6000)
    clique = []
    for _ in range(CLIQUE_DOCS):
        clique.append(len(contents))
        tail = [f"c{len(contents)}t{j}" for j in range(int(rng.integers(22, 33)))]
        contents.append(("py", corpus_mod._render(block + tail, "py")))
    while len(contents) < n_distinct:
        lang = corpus_mod.LANGS[len(contents) % len(corpus_mod.LANGS)]
        contents.append((lang, corpus_mod._render(
            _random_tokens(rng, int(rng.integers(60, 400)), 6000), lang)))
    # copies: COPIES rows per content in all, so every seed has as many
    # rows (the work follows the distinct contents and files_per_s counts
    # rows); 1% of contents, the vendored files, weigh 12x the rest and
    # get ~35 copies, the rest ~3.7 on average
    weight = np.where(rng.random(len(contents)) < 0.01, 43.5, 3.5)
    extra = COPIES * len(contents) - len(contents)
    copies = 1 + rng.multinomial(extra, weight / weight.sum())
    content_of = np.repeat(np.arange(len(contents)), copies)
    rng.shuffle(content_of)
    commits = rng.integers(0, 256, (len(content_of), 20), dtype=np.uint8)
    rows = []
    first_row: dict[int, int] = {}
    for row_id, c in enumerate(content_of.tolist()):
        lang, text = contents[c]
        first_row.setdefault(c, row_id)
        rows.append((row_id, f"fork{row_id % 997:03d}/proj{c % 13}",
                     f"src/m{c}.{lang}", commits[row_id].tobytes().hex(), lang, text))
    texts = {first_row[c]: contents[c][1] for c in range(len(contents))}
    pairs = [(first_row[a], first_row[b]) for a, b in pairs_distinct]
    pairs = [(min(a, b), max(a, b)) for a, b in pairs]
    meta = {"n_distinct": len(contents),
            "clique_rows": [first_row[c] for c in clique]}
    return rows, _truth(pairs, texts), meta
