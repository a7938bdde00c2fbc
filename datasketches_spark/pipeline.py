"""End-to-end near-duplicate detection + clustering pipeline.

One stage graph. With a checkpoint dir, five stages are resumable parquet
checkpoints (SURVEY §7 stage 1): signatures, verified_edges, clusters and
the two deliverables, cluster_assignments and dup_pairs (plus span_pairs
when ``cfg.span_pass`` is on). The cheap narrow stages between them are
lazy plans, the multi-consumer ones cached:

  docs(doc_id, repo, path, commit, lang, content)
    │ sha2(content, 256)                       [JVM]
    ├─ exact_groups: groupBy(sha256)           [1 shuffle, map-side combine]
    ├─ distinct-content reps                   [reuses exact_groups]
    ├─ signatures: mapInPandas murmur3/KMV/MinHash/SimHash   [checkpoint]
    ├─ bands: posexplode(xxhash64 band keys)   [no shuffle]
    ├─ buckets: groupBy(band, bhash) min/count [1 shuffle, skew-immune]
    ├─ candidate star edges: bands ⋈ buckets   [broadcast when it fits]
    ├─ verified edges: KMV Jaccard ≥ t         [checkpoint]
    ├─ all edges = exact ∪ (verified mapped through content reps)
    ├─ clusters: large-star/small-star CC      [checkpoint]
    └─ dup_pairs + cluster assignments + metrics/lineage  [checkpoints]

Without a checkpoint dir the same graph runs with the small
intermediates persisted instead. Either way AQE is off for the run.

Near-dup detection runs on *distinct content* only (exact duplicates are
collapsed first and re-attached through their representative), so a
pathological corpus of a billion copies of one file costs one signature.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datasketches_spark.config import DedupConfig
from datasketches_spark.operators import exact_dedup, lsh, spans, verify
from datasketches_spark.operators.connected_components import connected_components
from datasketches_spark.operators.signatures import build_signatures
from datasketches_spark.plans.checkpoints import CheckpointStore, input_fingerprint


@dataclass
class DedupResult:
    docs: DataFrame  # doc_id, repo, path, commit, lang, sha256 (content dropped)
    signatures: DataFrame
    verified_edges: DataFrame  # src, dst, jaccard_kmv, jaccard_minhash
    clusters: DataFrame  # doc_id, cluster_id (every doc, singletons included)
    dup_pairs: DataFrame  # id_a < id_b with jaccard estimates
    metrics: dict
    span_pairs: DataFrame | None = None  # kind='span' block-dup pairs (cfg.span_pass)


def run_dedup(spark: SparkSession, docs: DataFrame, cfg: DedupConfig,
              checkpoint_dir: str | None = None, id_col: str = "id",
              light_stages: bool = True) -> DedupResult:
    """Run the pipeline over ``docs`` (see the module docstring).

    ``checkpoint_dir``: root of the resumable checkpoints. A rerun over
    the same dir, input and config resumes signatures, verified_edges,
    clusters, cluster_assignments and dup_pairs, and recomputes only the
    cheap plans between them. Without it nothing is written to disk.

    The session runs with AQE off (static planning) for the duration of
    the call and gets its previous setting back on return. AQE submits
    one Spark job per query stage, and a job costs ~0.2-0.7 s of fixed
    scheduler latency on a single node: the pipeline ran 79 jobs with AQE
    on against 27 with it off, for the same outputs. Every join that must
    broadcast is count-guarded by the pipeline itself. Nothing else in
    the session conf is written.

    ``light_stages`` is accepted for callers of the former two-mode API;
    only ``True`` (the one mode) is valid."""
    if light_stages is not True:
        raise ValueError("run_dedup has a single mode; light_stages must be True")
    # AQE WINDOW INVARIANT (re-entrant): two concurrent runs on one
    # session would otherwise save each other's "false" as the previous
    # value and restore it. The first run in takes the snapshot, the last
    # run out restores it (depth-counted).
    with _AQE_LOCK:
        if _AQE_STATE["depth"] == 0:
            _AQE_STATE["prev"] = spark.conf.get("spark.sql.adaptive.enabled", "true")
            spark.conf.set("spark.sql.adaptive.enabled", "false")
        _AQE_STATE["depth"] += 1
    try:
        # every pipeline-internal action (stage writes, caches, CC rounds)
        # runs inside this window; the returned tables are parquet
        # read-backs (or persisted plans) whose later use doesn't care
        return _run_dedup_impl(spark, docs, cfg, checkpoint_dir, id_col)
    finally:
        with _AQE_LOCK:
            _AQE_STATE["depth"] -= 1
            if _AQE_STATE["depth"] == 0:
                spark.conf.set("spark.sql.adaptive.enabled", _AQE_STATE["prev"])


_AQE_LOCK = threading.Lock()
_AQE_STATE: dict = {"depth": 0, "prev": None}


def _run_dedup_impl(spark: SparkSession, docs: DataFrame, cfg: DedupConfig,
                    checkpoint_dir: str | None, id_col: str) -> DedupResult:
    """A parquet checkpoint stage costs ~1 s of fixed overhead (write job
    + manifest + read-back planning) whatever the data size, so only the
    EXPENSIVE boundaries get one. A crash mid-run re-runs at most the
    cheap plans between two of them; the intra-verify sub-stages use
    ``localCheckpoint`` (executor-local blocks)."""
    store = CheckpointStore(spark, checkpoint_dir or "", cfg, enabled=bool(checkpoint_dir),
                            input_fp=input_fingerprint(docs))
    # without a checkpoint dir, persist the small intermediates so the
    # several terminal actions (clusters, pairs) don't re-run the heavy
    # signature stage; checkpointed stages already read back from parquet
    persist = not checkpoint_dir

    base = docs.withColumnRenamed(id_col, "doc_id") if id_col != "doc_id" else docs
    # content is deliberately NOT carried here: docs_meta holds only the
    # per-row sha256 invariant + identity columns. Content flows once,
    # through the distinct-reps plan into the signature stage.
    hashed = store.stage(
        "docs_meta",
        lambda: exact_dedup.with_sha256(base).select(
            "doc_id", "repo", "path", "commit", "lang", "sha256"
        ),
        # narrow meta table, cached (consumed by exact groups, exact edges
        # and the final assignment join)
        light=True, cache=True,
    )

    exact_groups = store.stage(
        "exact_groups", lambda: exact_dedup.exact_dup_groups(hashed),
        # cached — exact_edges is consumed by BOTH the clusters stage
        # (all_edges) and dup_pairs; uncached, the groupBy would re-run
        # once per consumer
        upstream=["docs_meta"], light=True, cache=True,
    )
    exact_edges = exact_dedup.exact_dup_edges(hashed, exact_groups)
    if persist:
        exact_edges = exact_edges.persist()
        exact_edges.count()

    # the docs_meta / exact_groups CACHES are lazy, and their first
    # consumers (dup_pairs and clusters) run CONCURRENTLY at the end of
    # the pipeline — two fresh actions planned against a cold cache get
    # fresh shuffle ids, so both re-run the corpus scan + sha256 map side
    # (measured: a duplicated 64 core-s stage at 1M files). Materialize
    # the caches in a background thread NOW, overlapped with the python-
    # bound signature stage (JVM sha256 and Arrow workers share cores
    # well); the await sits right before the consumers fork.
    prewarm = None
    _edge_ups = ["verified_edges", "exact_groups"]
    if store.enabled and not (
            store.is_valid("dup_pairs", store._resolve_upstream(_edge_ups))
            and store.is_valid("clusters", store._resolve_upstream(_edge_ups))):
        # (skipped when BOTH exact-edge consumers resume from valid
        # checkpoints — a fully-resumed run must not pay a corpus scan)
        from concurrent.futures import ThreadPoolExecutor as _TPE

        def _warm_exact() -> None:
            spark.sparkContext.setJobDescription("stage:prewarm_exact")
            exact_groups.count()

        _warm_pool = _TPE(max_workers=1)
        prewarm = _warm_pool.submit(_warm_exact)
        _warm_pool.shutdown(wait=False)

    n_cores = spark.sparkContext.defaultParallelism
    reps = store.stage(
        "distinct_reps",
        lambda: exact_dedup.distinct_content_docs(exact_dedup.with_sha256(base)).select(
            "doc_id", "content"
        ),
        upstream=["docs_meta"],
        # store-less runs only: a one-file input must not pin the compute-
        # heavy signature stage to one task. 2x cores: a pandas stage task
        # occupies a JVM thread AND a python worker, neither saturating a
        # core alone. With a store the signature write job reads the
        # corpus directly through this lazy plan (uncached: content is the
        # one column too big to pin), and the distinct shuffle sets its
        # task count.
        min_partitions=max(64, 2 * n_cores),
        light=True,
    )

    sig = store.stage(
        "signatures",
        lambda: build_signatures(reps, cfg),
        upstream=["distinct_reps"],
    )
    if persist:
        # eager materialization: downstream plans reference this cache from
        # several subtrees (band table, verify a-side, verify b-side); if
        # the cache is still cold those subtrees each recompute the whole
        # signature stage concurrently. The count doubles as the signature
        # row count the broadcast sizing below reads off the write-job
        # manifest otherwise.
        sig = sig.persist()
        n_sig_rows = sig.count()
    else:
        n_sig_rows = (store.manifest("signatures") or {}).get("n_rows")

    # the band table is consumed by several subtrees (bucket stats,
    # star-edge membership); cached, it is a NARROW table (doc_id, band,
    # bhash — ~24 B/row vs the ~1 KB/row minhash column every
    # re-derivation decodes), materialized once by its first consumer
    bands = store.stage(
        "bands",
        lambda: lsh.band_table(sig, cfg),
        upstream=["signatures"],
        light=True, cache=True,
    )
    # singleton buckets (the overwhelming majority — ~90% of all buckets
    # at 1M files, and ~everything at 10^12) are consumed by NOTHING
    # downstream: candidate generation and the fallback pass only ever
    # look at bucket_size > 1. Filtering them before the cache cuts it
    # (and every downstream rescan/join of the table) ~10x.
    stats = store.stage(
        "bucket_stats",
        lambda: lsh.bucket_stats(bands).filter(F.col("bucket_size") > 1),
        upstream=["bands"],
        light=True, cache=True,
    )
    # broadcast the eligible-bucket side of candidate generation when its
    # count fits comfortably in memory (~48B/row); at web scale the count
    # is huge and this stays a shuffle join. Skipped on resume: a valid
    # verified_edges never needs the caches at all.
    _verify_ups = ["signatures", "bands", "bucket_stats"]
    n_eligible = n_memb_hint = None
    if persist or not store.is_valid(
            "verified_edges", store._resolve_upstream(_verify_ups)):
        # Small corpora skip the count job (a job costs ~0.2-0.7 s of
        # fixed latency here): when even the WORST-CASE bound off the
        # signature row count — every band row its own eligible bucket,
        # bands × n_sig rows × ~48 B — fits the broadcast budget, the
        # decision needs no measurement, and the broadcast-exchange job
        # that builds the eligible side doubles as the bands/stats cache
        # materializer. Larger corpora (where the worst case overshoots
        # but the REAL count is usually still broadcastable — non-
        # singleton buckets are a tiny fraction) pay ONE aggregation job
        # for an informed decision; at that scale the job is amortized
        # anyway. The same job sums eligible bucket sizes == the bucket-
        # membership row count, saving the verify stage its own count.
        worst = n_sig_rows * cfg.bands if n_sig_rows else None
        if worst is not None and worst * 48 < 256 * 1024 * 1024:
            n_eligible = worst
            # the same bound covers bucket MEMBERSHIP rows (every doc sits
            # in <= bands buckets, so members-of-eligible-buckets <= band
            # rows == worst): passing it saves the verify chain its own
            # membership count job (~one full job of fixed latency). Only
            # when the bound also clears the participant-broadcast gate —
            # an overestimate in between would wrongly DISABLE the wide-row
            # semi-filter broadcast a real count would enable; there the
            # verify chain's own count is the right call (and amortized).
            if worst <= 4_000_000:
                n_memb_hint = worst
        else:
            spark.sparkContext.setJobDescription("hint:n_eligible")
            _elig = F.col("bucket_size") <= cfg.bucket_cap  # stats already > 1
            row = stats.select(
                F.count(F.when(_elig, 1)).alias("n_eligible"),
                F.sum(F.when(_elig, F.col("bucket_size"))).alias("n_memb"),
            ).first()
            n_eligible = int(row["n_eligible"])
            n_memb_hint = int(row["n_memb"] or 0)
    bcast_eligible = n_eligible is not None and n_eligible * 48 < 256 * 1024 * 1024

    verified = store.stage(
        "verified_edges",
        # star edges + per-bucket pair fallback when a rep-edge fails
        # verification (closes the false-positive-rep recall hole); its
        # sub-stages are localCheckpoint blocks
        lambda: verify.verify_star_edges_with_fallback(
            bands, stats, sig, cfg, broadcast_eligible=bcast_eligible,
            n_memb_hint=n_memb_hint),
        upstream=_verify_ups,
    )
    if persist:
        verified = verified.persist()
        verified.count()

    if prewarm is not None:
        # by now the signature + verify stages have run; the prewarm is
        # long done in the common case. Await it regardless: the consumers
        # below must see WARM caches or the cold-cache race comes back.
        prewarm.result()

    # dup_pairs depends only on verified + exact edges — NOT on the CC
    # chain — so its write job can run concurrently with the cluster
    # rounds (thread-safe: Spark job submission is designed for concurrent
    # driver threads, pinned-thread mode keeps job descriptions separate,
    # and the two stages write disjoint store keys). Overlapping it hides
    # the stage's full fixed cost behind CC wall time. Span mode keeps the
    # serial order (span_pairs feeds dup_pairs); store-less mode has no
    # write jobs to overlap.
    if store.enabled and not cfg.span_pass:
        from concurrent.futures import ThreadPoolExecutor
        _dup_pool = ThreadPoolExecutor(max_workers=1)
        dup_fut = _dup_pool.submit(
            store.stage, "dup_pairs",
            lambda: _expand_pairs(verified, exact_edges, None),
            upstream=_edge_ups,
        )
        # if the CC chain below raises, the in-flight write must still be
        # awaited before the error propagates — never leave a daemon thread
        # writing into the store behind an exception the caller is handling
        _dup_pool.shutdown(wait=False)
        try:
            return _finish_dedup(store, cfg, persist, hashed, reps, sig,
                                 exact_edges, verified, dup_fut)
        except BaseException:
            from concurrent.futures import wait as _fwait
            _fwait([dup_fut])
            raise
    return _finish_dedup(store, cfg, persist, hashed, reps, sig, exact_edges,
                         verified, None)


def _finish_dedup(store, cfg, persist, hashed, reps, sig, exact_edges,
                  verified, dup_fut) -> DedupResult:
    """Clustering, span pass, pair assembly and metrics — the tail of
    ``_run_dedup_impl``, split out so the concurrent dup_pairs write can be
    awaited on the error path without a try block spanning 100 lines."""
    all_edges = (
        verified.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(exact_edges)
    )

    clusters_nontrivial = store.stage(
        "clusters",
        # CC rounds truncate lineage with localCheckpoint (the same
        # executor-local trade the verify sub-stages make)
        lambda: connected_components(all_edges),
        upstream=["verified_edges", "exact_groups"],
    )
    # the deliverable per-doc assignment table (singletons included) is
    # itself a checkpointed stage: fully materialized, resumable, and its
    # row count (== n_docs) rides the write job's Observation
    clusters = store.stage(
        "cluster_assignments",
        lambda: (
            hashed.select("doc_id")
            .join(clusters_nontrivial, "doc_id", "left")
            .select("doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id"))
        ),
        upstream=["clusters", "docs_meta"],
    )

    # optional common-span pass (cfg.span_pass): winnowed-fingerprint
    # candidates → exact longest-common-span verification. Catches
    # block-swap / embedded-block duplicates whose whole-document Jaccard
    # is correctly far below threshold (a 60-token block in an otherwise
    # unique file has J ~ |block|/|doc| and never LSH-collides). Runs on
    # distinct content only; reported as kind='span' pairs, NOT fed to CC
    # (a shared block must not merge otherwise-unrelated documents into
    # one cluster).
    span_verified = None
    if cfg.span_pass:
        span_cands = store.stage(
            "span_candidates",
            lambda: spans.span_candidate_pairs(sig, cfg)[0].join(
                verified.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti"),
            upstream=["signatures", "verified_edges"],
            light=True,
        )
        span_verified = store.stage(
            "span_pairs",
            lambda: spans.verify_spans(span_cands, reps, cfg).filter(
                F.col("common_span_tokens") >= F.lit(cfg.span_min_tokens)),
            upstream=["span_candidates", "distinct_reps"],
        )
        if persist:
            span_verified = span_verified.persist()

    # report pairs: verified near-dup edges plus exact-dup pairs (via reps)
    if dup_fut is not None:
        dup_pairs = dup_fut.result()
    else:
        dup_pairs = store.stage(
            "dup_pairs",
            lambda: _expand_pairs(verified, exact_edges, span_verified),
            upstream=["verified_edges", "exact_groups"]
            + (["span_pairs"] if cfg.span_pass else []),
        )

    metrics = {"lsh_threshold": cfg.lsh_threshold}
    if store.enabled:
        # row counts come from the manifests (recorded via Observation on
        # each write job) — zero additional Spark jobs. One assignment row
        # per doc, one signature row per distinct content.
        def n_rows(stage: str) -> int | None:
            return (store.manifest(stage) or {}).get("n_rows")

        metrics.update({
            "n_docs": n_rows("cluster_assignments"),
            "n_distinct_content": n_rows("signatures"),
            "n_verified_edges": n_rows("verified_edges"),
        })
        store.write_metrics(metrics)
    # release the plan caches this run pinned (bands, stats, docs_meta,
    # exact_groups) — every deliverable is parquet-backed by its stage, and
    # repeated runs in one session must not accumulate cached tables. The
    # returned lazy fields (docs) recompute cheaply if re-scanned.
    store.release_caches()
    return DedupResult(
        docs=hashed.drop("content"),
        signatures=sig,
        verified_edges=verified,
        clusters=clusters,
        dup_pairs=dup_pairs,
        metrics=metrics,
        span_pairs=span_verified,
    )


def _expand_pairs(verified: DataFrame, exact_edges: DataFrame,
                  span_verified: DataFrame | None = None) -> DataFrame:
    exact_pairs = exact_edges.select(
        F.least("src", "dst").alias("id_a"),
        F.greatest("src", "dst").alias("id_b"),
        F.lit(1.0).alias("jaccard_kmv"),
        F.lit(1.0).alias("jaccard_minhash"),
        F.lit("exact").alias("kind"),
    )
    near_pairs = verified.select(
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
        "jaccard_kmv",
        "jaccard_minhash",
        F.lit("near").alias("kind"),
    )
    out = near_pairs.unionByName(exact_pairs)
    if span_verified is not None:
        # span pairs carry no sketch-Jaccard estimates (their whole-doc
        # Jaccard is legitimately below threshold — that is the point);
        # the span evidence itself travels in two extra columns
        span_pairs = span_verified.select(
            "id_a", "id_b",
            F.lit(None).cast("double").alias("jaccard_kmv"),
            F.lit(None).cast("double").alias("jaccard_minhash"),
            F.lit("span").alias("kind"),
            "common_span_tokens",
            "containment",
        )
        out = (
            out.withColumn("common_span_tokens", F.lit(None).cast("int"))
            .withColumn("containment", F.lit(None).cast("double"))
            .unionByName(span_pairs)
        )
    return out.dropDuplicates(["id_a", "id_b"])
