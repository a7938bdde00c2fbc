"""The standalone sketch queries, on seeded tables, with output checks.

The queries come from ``__spark_entry__.queries()`` and read
``<dir>/<table>.parquet``. The tables are generated here from the seed:

- ``documents``: ``generate_corpus`` rows (as in ``repo-mix``);
- ``embeddings``: 64-dim vectors, every 10th a near copy of the one
  before it;
- ``lineitem`` and ``orders``: the key columns the KMV queries read.

Three queries have a DuckDB twin in ``oracle_sql()`` and must match it.
The others have no SQL twin; their rows are checked against invariants
each one guarantees and against each other.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import workloads

SUITE = ("simhash_near_pairs", "embedding_near_dups", "media_near_dups",
         "span_dup_pairs", "salted_candidate_pairs", "minhash_lsh_pairs",
         "minhash_pairs_bounded", "lsh_bucket_histogram",
         "kmv_distinct_suppliers", "kmv_union_parts")
ORACLE = ("embedding_near_dups", "kmv_distinct_suppliers", "kmv_union_parts")

N_DOCS = 600
N_VECS = 1000
N_ORDERS = 15_000
N_PARTS = 2000
N_SUPPLIERS = 100


def ensure_tables(seed: int, out: str) -> str:
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 5])
    rows = [workloads.corpus_row(seed, i) for i in range(N_DOCS)]
    pq.write_table(pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": [r[5] for r in rows], "lang": [r[4] for r in rows],
        "source": [r[1] for r in rows],
        "n_chars": pa.array([len(r[5]) for r in rows], pa.int64()),
    }), os.path.join(out, "documents.parquet"))
    vecs = rng.normal(size=(N_VECS, 64)).astype(np.float32)
    near = np.arange(10, N_VECS, 10)
    vecs[near] = vecs[near - 1] + rng.normal(scale=0.05, size=(len(near), 64)).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(N_VECS, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(np.zeros(N_VECS, dtype=np.int32)),
    }), os.path.join(out, "embeddings.parquet"))
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    pq.write_table(pa.table({
        "o_orderkey": pa.array(np.arange(1, N_ORDERS + 1, dtype=np.int64)),
        "o_orderpriority": pa.array(prio[rng.integers(0, 5, N_ORDERS)]),
    }), os.path.join(out, "orders.parquet"))
    lines = rng.integers(1, 8, N_ORDERS)
    n_li = int(lines.sum())
    flags = np.array(["A", "N", "R"])
    pq.write_table(pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(1, N_ORDERS + 1, dtype=np.int64), lines)),
        # distinct keys per group stay below k = 4096, where the KMV
        # queries are exact and must equal COUNT(DISTINCT)
        "l_partkey": pa.array(rng.integers(1, N_PARTS + 1, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(1, N_SUPPLIERS + 1, n_li, dtype=np.int64)),
        "l_returnflag": pa.array(flags[rng.integers(0, 3, n_li)]),
    }), os.path.join(out, "lineitem.parquet"))
    open(os.path.join(out, "_DONE"), "w").close()
    return out


def _norm(df: pd.DataFrame) -> list[tuple]:
    df = df[sorted(df.columns)]
    rows = []
    for r in df.itertuples(index=False):
        rows.append(tuple(round(v, 9) if isinstance(v, float) else v for v in r))
    return sorted(rows, key=repr)


def oracle_mismatches(results: dict[str, pd.DataFrame], tables: str) -> list[str]:
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings", "lineitem", "orders"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(tables, t + '.parquet')}')")
        bad = []
        for name in ORACLE:
            if name in results and _norm(results[name]) != _norm(con.sql(sql[name]).df()):
                bad.append(name)
        return bad
    finally:
        con.close()


def _pairs(df: pd.DataFrame) -> set:
    return set(zip(df["id_a"].tolist(), df["id_b"].tolist()))


def invariant_failures(r: dict[str, pd.DataFrame]) -> list[str]:
    """Checks for the queries without a SQL twin."""
    bad = []

    def need(name, ok):
        if name in r and not ok:
            bad.append(name)

    def ordered(df):
        return bool((df["id_a"] < df["id_b"]).all()) and len(_pairs(df)) == len(df)

    if "simhash_near_pairs" in r:
        d = r["simhash_near_pairs"]
        need("simhash_near_pairs", ordered(d) and bool(d["hamming"].between(0, 3).all()))
    if "media_near_dups" in r:
        d = r["media_near_dups"]
        # synthetic_media_with_near_dups plants id -> id-1 for id % 5 == 4
        planted = {(i - 1, i) for i in range(4, 400, 5)}
        need("media_near_dups", ordered(d) and planted <= _pairs(d)
             and bool((d["cosine"] >= 0.995).all()))
    if "span_dup_pairs" in r:
        d = r["span_dup_pairs"]
        need("span_dup_pairs", ordered(d) and bool((d["common_span_tokens"] >= 24).all())
             and bool(d["containment"].between(0, 1).all()))
    for name in ("minhash_lsh_pairs", "minhash_pairs_bounded"):
        if name in r:
            d = r[name]
            need(name, ordered(d) and len(d) > 0 and bool((d["jaccard_kmv"] >= 0.5).all()))
    if "minhash_pairs_bounded" in r:
        d = r["minhash_pairs_bounded"]
        need("minhash_pairs_bounded", bool(((d["jaccard_lb"] <= d["jaccard_kmv"] + 1e-9)
                                            & (d["jaccard_kmv"] <= d["jaccard_ub"] + 1e-9)).all()))
        if "minhash_lsh_pairs" in r:
            # same bands, same verify threshold: the same pair set
            need("minhash_pairs_bounded", _pairs(d) == _pairs(r["minhash_lsh_pairs"]))
    if "salted_candidate_pairs" in r:
        d = r["salted_candidate_pairs"]
        ok = ordered(d)
        if "minhash_lsh_pairs" in r:
            # verified pairs are a subset of the unsalted candidates, which
            # the salted join enumerates completely
            ok = ok and _pairs(r["minhash_lsh_pairs"]) <= _pairs(d)
        need("salted_candidate_pairs", ok)
    if "lsh_bucket_histogram" in r:
        d = r["lsh_bucket_histogram"]
        need("lsh_bucket_histogram", len(d) > 0 and bool((d.select_dtypes("number") >= 0).all().all()))
    return sorted(set(bad))
