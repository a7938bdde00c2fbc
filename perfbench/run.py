"""Layered benchmark of ``run_dedup`` and the standalone sketch queries.

    python3 perfbench/run.py --workload repo-mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the engine. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (each metric a value and its unit). Progress and a summary go
to standard error; the full report (per-op walls, spans, host facts) is
written to ``.perfbench/reports/``.

Closed loop: one driver process submits one call at a time to
``local[<cores>]``, cores and driver heap taken from the host. Every file
the run writes stays under ``.perfbench/`` in the checkout.

``--trace 0``: session start (``setup_s``), then ``run_dedup`` calls on
the whole input, one at a time, while the calls so far took less than
``--seconds``, and at least one. The first call of a session is cold (JVM
warm-up, codegen, python worker start-up), as every batch submission is;
at ``--seconds 10`` it is the only call. ``files_per_s`` is the rows
processed over the summed wall of the calls. Every call's outputs are
checked; a call that raises or fails a check counts in ``failed``.

``--trace 1``: Spark's event log on, then one cold call traced with
spans around each layer, the Spark-free kernel microbench with its
bit-exactness check, each layer called on its own from outside (exact
dedup, ``build_signatures`` to a noop sink, LSH, verify, connected
components), and
the sketch-query suite. Prints the per-layer metrics. Tracing overhead is
the traced wall minus the median cold-call wall of the untraced runs
reported in this checkout (0 when there are none; standard error says
so).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import threading
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
REPORTS = os.path.join(WORK, "reports")
REQUIRED = ("datasketches_spark/__init__.py", "datasketches_spark/pipeline.py",
            "tools/evlog.py", "__spark_entry__.py", "bench.py")

# job-description labels of the pipeline's stages in light mode, and the
# stages it checkpoints
STAGES = ("signatures", "prewarm_exact", "verified_edges", "dup_pairs", "clusters",
          "cluster_assignments")
CKPT_STAGES = ("signatures", "verified_edges", "clusters", "cluster_assignments", "dup_pairs")
DRIVER_LAYERS = {
    "operators.signatures": "signatures", "operators.exact_dedup": "exact_dedup",
    "operators.lsh": "lsh", "operators.verify": "verify",
    "operators.connected_components": "cc", "plans.checkpoints": "checkpoints",
}
PRECISION_SLACK = 0.05  # KMV estimation-mode error allowance on long files
KERNEL_SLICE = 1024


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def host_profile() -> dict:
    cores = len(os.sched_getaffinity(0))
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            mem[k] = int(v.split()[0])
    # an eighth of RAM, within [1, 4] GB: the inputs are tens of MB; the
    # rest stays for the page cache, the python workers and other tenants
    heap_mb = max(1024, min(4096, mem["MemTotal"] // 1024 // 8))
    return {"cores": cores, "mem_total_mb": mem["MemTotal"] // 1024,
            "mem_available_mb": mem.get("MemAvailable", 0) // 1024,
            "driver_heap_mb": heap_mb, "loadavg_start": _loadavg()}


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _fs_type(path: str) -> str:
    best, kind = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt = parts[1]
            if path.startswith(mnt.rstrip("/") + "/") or path == mnt or mnt == "/":
                if len(mnt) >= len(best):
                    best, kind = mnt, parts[2]
    return kind


def setup_env() -> None:
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for k in list(os.environ):
        if k.startswith(("SPARK_GRAFT_", "DSS_", "BENCH_")) or k == "DEDUP_PROFILE":
            del os.environ[k]
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + HERE
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CONF"] = ";".join([
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
        f"spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
        "spark.ui.showConsoleProgress=false",
    ])
    sys.path[:0] = [ROOT, HERE]


class RssSampler(threading.Thread):
    """Peak resident memory of the driver JVM and, apart, of every process
    under it (the python daemon and workers), sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_mb = self.peak_jvm_mb = self.peak_workers_mb = 0.0
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def run(self) -> None:
        while not self._halt.wait(self.interval):
            jvm, workers = self.sample()
            self.peak_mb = max(self.peak_mb, jvm + workers)
            self.peak_jvm_mb = max(self.peak_jvm_mb, jvm)
            self.peak_workers_mb = max(self.peak_workers_mb, workers)

    def stop(self) -> None:
        self._halt.set()
        self.join()

    def sample(self) -> tuple[float, float]:
        """(JVM MB, MB of every process under the JVM)."""
        kids: dict[int, list[int]] = {}
        comm: dict[int, str] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    s = f.read()
            except OSError:
                continue
            name = s[s.find("(") + 1:s.rfind(")")]
            ppid = int(s[s.rfind(")") + 2:].split()[1])
            kids.setdefault(ppid, []).append(int(d))
            comm[int(d)] = name
        jvms = [p for p in kids.get(os.getpid(), []) if comm.get(p) == "java"]
        todo = [c for p in jvms for c in kids.get(p, [])]
        return self._rss(jvms), self._rss(todo, kids)

    def _rss(self, pids: list[int], kids: dict | None = None) -> float:
        total = 0
        while pids:
            p = pids.pop()
            if kids:
                pids.extend(kids.get(p, []))
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                pass
        return total / 1e6


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process, and by every process under
    it that is still running (the JVM, the python daemon and workers),
    each with its reaped children."""
    tick = os.sysconf("SC_CLK_TCK")
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:
            continue
        fields = st[st.rfind(")") + 2:].split()
        kids.setdefault(int(fields[1]), []).append(int(d))
        ticks[int(d)] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [os.getpid()]
    while todo:
        p = todo.pop()
        total += ticks.get(p, 0)
        todo.extend(kids.get(p, []))
    return total / tick


def _dir_bytes(path: str) -> int:
    total = 0
    for dp, _, files in os.walk(path):
        for fn in files:
            try:
                total += os.path.getsize(os.path.join(dp, fn))
            except OSError:
                pass
    return total


class Bench:
    def __init__(self, args, host: dict):
        import workloads

        self.args = args
        self.wl = args.workload
        self.host = host
        self.inputs = workloads.ensure_inputs(self.wl, args.seed, os.path.join(WORK, "inputs"))
        self.n_rows = self.inputs.n_rows
        self.texts = self.inputs.contents()
        self.truth = self.inputs.truth()
        self.sets: dict = {}
        self.ops: list[dict] = []
        self.queries: dict[str, dict] = {}
        self.failures: list[str] = []
        self.report: dict = {}
        self.run_dir = os.path.join(WORK, "runs", uuid.uuid4().hex[:10])
        os.makedirs(self.run_dir)
        import numpy as np

        groups: dict[str, list[int]] = {}
        for i, t in self.texts.items():
            groups.setdefault(t, []).append(i)
        self.copy_groups = [np.array(g) for g in groups.values() if len(g) > 1]

    # ------------------------------------------------------------ session

    def start_session(self, eventlog: str | None = None) -> float:
        if eventlog:
            os.environ["SPARK_GRAFT_EVENTLOG"] = eventlog
        t0 = time.perf_counter()
        from datasketches_spark.session import get_spark

        self.spark = get_spark(f"perfbench-{self.wl}", cores=self.host["cores"],
                               driver_mem=f"{self.host['driver_heap_mb']}m")
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def stop_session(self) -> None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        self.spark.stop()
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()

    def label(self, step: str) -> None:
        self.spark.sparkContext.setJobDescription(f"bench:{self.wl}:{step}")

    # ---------------------------------------------------------------- ops

    def dedup_op(self, tag: str, keep: bool = False) -> dict:
        from datasketches_spark.config import DedupConfig
        from datasketches_spark.pipeline import run_dedup

        ck = os.path.join(self.run_dir, f"ckpt-{tag}")
        op = {"tag": tag, "ok": False}
        try:
            self.label(f"{tag}:read")
            docs = self.spark.read.parquet(self.inputs.corpus_path)
            self.label(tag)
            c0, t0 = tree_cpu_s(), time.time()
            run_dedup(self.spark, docs, DedupConfig(), checkpoint_dir=ck, light_stages=True)
            t1, c1 = time.time(), tree_cpu_s()
            self.label(f"{tag}:check")
            op.update(wall_s=t1 - t0, cpu_s=c1 - c0, window=(t0, t1), ckpt_dir=ck)
            op["ckpt_mb"] = _dir_bytes(ck) / 1e6
            op["ckpt_stage_mb"] = {s: _dir_bytes(os.path.join(ck, s)) / 1e6 for s in CKPT_STAGES}
            problems = self.check_outputs(ck, op)
            op["problems"] = problems
            op["ok"] = not problems
        except Exception as e:  # a call that raises is a failed operation
            op["problems"] = [f"raised {type(e).__name__}: {e}"[:500]]
        if not op["ok"]:
            self.failures.append(f"{tag}: {op['problems']}")
        if not keep:
            shutil.rmtree(ck, ignore_errors=True)
        self.ops.append(op)
        log(f"{tag}: {op.get('wall_s', float('nan')):.3f}s cpu {op.get('cpu_s', float('nan')):.1f}s "
            f"ok={op['ok']} "
            f"recall={op.get('pair_recall')} ckpt_mb={op.get('ckpt_mb')}")
        return op

    def _table(self, ck: str, stage: str):
        import pyarrow.parquet as pq

        with open(os.path.join(ck, stage, "manifest.json")) as f:
            m = json.load(f)
        return m, pq.read_table(os.path.join(ck, stage, m["data_dir"]))

    def _shingle_sets(self, ids) -> dict:
        import workloads

        missing = {i: self.texts[i] for i in ids if i not in self.sets}
        if missing:
            self.sets.update(workloads._shingle_sets(missing))
        return self.sets

    def check_outputs(self, ck: str, op: dict) -> list[str]:
        import numpy as np

        import workloads

        problems = []
        m, ca = self._table(ck, "cluster_assignments")
        doc = ca.column("doc_id").to_numpy()
        cl = ca.column("cluster_id").to_numpy()
        if m["n_rows"] != self.n_rows or len(np.unique(doc)) != self.n_rows:
            problems.append(f"n_clusters {m['n_rows']} != n_files {self.n_rows}")
            return problems
        cluster = np.empty(self.n_rows, dtype=np.int64)
        cluster[doc] = cl
        a, b = self.truth
        recall = float(np.mean(cluster[a] == cluster[b])) if len(a) else 1.0
        op["pair_recall"] = recall
        if recall < 0.99:
            problems.append(f"pair_recall {recall:.4f} < 0.99")
        if any(len(np.unique(cluster[g])) != 1 for g in self.copy_groups):
            problems.append("exact copies split across clusters")
        clique = self.inputs.meta.get("clique_rows")
        if clique and len(np.unique(cluster[clique])) != len(clique):
            problems.append("below-threshold clique merged")
        _, dp = self._table(ck, "dup_pairs")
        cols = {c: dp.column(c).to_numpy(zero_copy_only=False) for c in dp.column_names}
        order = np.lexsort((cols["id_b"], cols["id_a"]))
        h = hashlib.sha256()
        for c in ("id_a", "id_b", "jaccard_kmv", "jaccard_minhash"):
            h.update(np.ascontiguousarray(cols[c][order]).tobytes())
        h.update("|".join(cols["kind"][order].tolist()).encode())
        op["dup_pairs"] = len(order)
        op["digest"] = h.hexdigest()[:16]
        # the first call on an input records the digest next to it; every
        # later call on the same input, in this run or another, must match
        dpath = os.path.join(self.inputs.root, "dup_pairs.digest")
        if not os.path.exists(dpath):
            with open(dpath + ".tmp", "w") as f:
                f.write(op["digest"])
            os.replace(dpath + ".tmp", dpath)
        with open(dpath) as f:
            if f.read().strip() != op["digest"]:
                problems.append("dup_pairs digest differs from an earlier call on this input")
        near = cols["kind"] == "near"
        na, nb = cols["id_a"][near], cols["id_b"][near]
        sets = self._shingle_sets(set(na.tolist()) | set(nb.tolist()))
        low = [(x, y) for x, y in zip(na.tolist(), nb.tolist())
               if workloads.jaccard(sets[x], sets[y])
               < workloads.CFG.jaccard_threshold - PRECISION_SLACK]
        if low:
            problems.append(f"{len(low)} near pairs below threshold, e.g. {low[:3]}")
        if len(order) == 0:
            problems.append("no dup pairs")
        return problems

    # ------------------------------------------------------------ untraced

    def untraced(self) -> dict:
        sampler = RssSampler()
        sampler.start()
        try:
            session_s = self.start_session()
            # calls back to back while the calls so far took less than
            # --seconds, and at least one
            walls: list[float] = []
            while not walls or sum(walls) < self.args.seconds:
                op = self.dedup_op("cold" if not walls else f"warm{len(walls)}")
                walls.append(op.get("wall_s", float("inf")))
        finally:
            self.stop_session()
            sampler.stop()
        self.report.update(session_s=session_s, cold_wall_s=walls[0], call_walls_s=walls,
                           peak_rss_mb=sampler.peak_mb, peak_jvm_mb=sampler.peak_jvm_mb,
                           peak_workers_mb=sampler.peak_workers_mb)
        return {
            "files_per_s": (self.n_rows * len(walls) / sum(walls), "1/s"),
            "setup_s": (session_s, "s"),
            "ckpt_mb": (statistics.median(o.get("ckpt_mb", 0.0) for o in self.ops), "MB"),
            "pair_recall": (min(o.get("pair_recall", 0.0) for o in self.ops), "ratio"),
        }

    # -------------------------------------------------------------- traced

    def traced(self) -> dict:
        import evrollup
        from tracing import Tracer

        evdir = os.path.join(self.run_dir, "eventlog")
        sampler = RssSampler()
        sampler.start()
        session_s = self.start_session(eventlog=evdir)
        out: dict = {}
        windows: dict[str, tuple] = {}
        try:
            tracer = Tracer()
            self._instrument(tracer)
            try:
                with tracer.span("pipeline.run_dedup") as root:
                    tracer.root = root["id"]
                    traced = self.dedup_op("traced", keep=True)
            finally:
                tracer.unwrap()
            kern = self.kernels(out)
            layer = self.layers(traced["ckpt_dir"], windows, out)
            shutil.rmtree(traced["ckpt_dir"], ignore_errors=True)
            self.suite(out)
            untraced_s = self.untraced_median()
        finally:
            self.stop_session()
            sampler.stop()
        out["session.jvm_peak_rss_mb"] = sampler.peak_jvm_mb
        out["session.workers_peak_rss_mb"] = sampler.peak_workers_mb
        jobs = evrollup.load_jobs(evdir)
        w0, w1 = traced["window"]
        roll = evrollup.rollup(jobs, w0, w1)
        for st in STAGES:
            r = roll["stages"].get(st, {})
            for k in ("wall_s", "task_s", "shuffle_mb", "jobs", "tasks"):
                out[f"pipeline.{st}.{k}"] = r.get(k, 0)
        out["pipeline.driver_gap_s"] = roll["driver_gap_s"]
        out["pipeline.jobs"] = roll["jobs"]
        op_windows = [o["window"] for o in self.ops if "window" in o]
        out["pipeline.leaked_label_jobs"] = evrollup.leaked_label_jobs(jobs, op_windows)
        for st in CKPT_STAGES:
            out[f"checkpoints.{st}.mb"] = traced.get("ckpt_stage_mb", {}).get(st, 0.0)
        out["session.start_s"] = session_s
        # per-layer time from the event log, on the layer calls' windows
        sig = evrollup.rollup(jobs, *windows["signatures"])
        out["signatures.task_s"] = sum(r["task_s"] for r in sig["stages"].values())
        out["signatures.boundary_s"] = out["signatures.task_s"] - layer["kernel_core_s"]
        out["cc.jobs"] = evrollup.rollup(jobs, *windows["cc"])["jobs"]
        # self time: jobs as children of their stage's span, the rest of
        # the window to the innermost driver-side layer span, or to gaps
        stage_span = {}
        for s in tracer.spans:
            if s["name"].startswith("plans.checkpoints.stage:"):
                stage_span.setdefault(s["name"].split(":", 1)[1], s["id"])
        for j in evrollup.in_window(jobs, w0, w1):
            tracer.add(f"job:{j.label or j.desc}", j.start, j.end,
                       stage_span.get(j.label, tracer.root))
        driver = [(_driver_layer(s["name"]), s["start"], s["end"])
                  for s in sorted(tracer.spans, key=lambda s: s["start"])
                  if s["main"] and s["id"] != tracer.root and not s["name"].startswith("job:")]
        selft = evrollup.self_times(jobs, w0, w1, driver)
        for st in STAGES + (evrollup.OTHER,):
            out[f"self.stage.{st}_s"] = selft.get(f"job:{st}", 0.0)
        for lay in DRIVER_LAYERS.values():
            out[f"self.driver.{lay}_s"] = selft.get(f"driver:{lay}", 0.0)
        out["self.driver.pipeline_s"] = selft.get("driver_gap", 0.0) + selft.get("driver:pipeline", 0.0)
        wall = traced.get("wall_s", float("nan"))
        out["trace.run_dedup_s"] = wall
        if untraced_s is None:
            log("no untraced report in this checkout: tracing overhead not measured")
        out["trace.untraced_s"] = untraced_s or 0.0
        out["trace.overhead_s"] = wall - untraced_s if untraced_s else 0.0
        out["trace.unaccounted_s"] = wall - sum(selft.values())
        self.report.update(spans=tracer.spans, self_times=selft, rollup=roll,
                           kernel_outputs_equal=kern)
        return {k: (v, unit_of(k)) for k, v in out.items()}

    def untraced_median(self) -> float | None:
        """Median wall of the cold (first) ``run_dedup`` call of the
        untraced runs of this workload whose reports are in this checkout,
        the same seed's if there are any; None when there are none. The
        traced call is a session's first call too."""
        walls, same_seed = [], []
        for fn in os.listdir(REPORTS) if os.path.isdir(REPORTS) else []:
            if not (fn.startswith(f"{self.wl}-seed") and "-trace0-" in fn):
                continue
            try:
                with open(os.path.join(REPORTS, fn)) as f:
                    r = json.load(f)
            except (OSError, ValueError):
                continue
            if not r.get("result", {}).get("correct"):
                continue
            if r.get("cold_wall_s") is None:
                continue
            walls.append(r["cold_wall_s"])
            if r["args"]["seed"] == self.args.seed:
                same_seed.append(r["cold_wall_s"])
        walls = same_seed or walls
        return statistics.median(walls) if walls else None

    def _instrument(self, tracer) -> None:
        from datasketches_spark import pipeline
        from datasketches_spark.operators import exact_dedup, lsh, verify
        from datasketches_spark.plans.checkpoints import CheckpointStore

        tracer.wrap(pipeline, "build_signatures", "operators.signatures.build_signatures")
        tracer.wrap(pipeline, "connected_components",
                    "operators.connected_components.connected_components")
        for fn in ("with_sha256", "exact_dup_groups", "exact_dup_edges", "distinct_content_docs"):
            tracer.wrap(exact_dedup, fn, f"operators.exact_dedup.{fn}")
        for fn in ("band_table", "bucket_stats", "candidate_edges"):
            tracer.wrap(lsh, fn, f"operators.lsh.{fn}")
        tracer.wrap(verify, "verify_star_edges_with_fallback",
                    "operators.verify.verify_star_edges_with_fallback")
        tracer.wrap(CheckpointStore, "stage",
                    lambda self, name, *a, **k: f"plans.checkpoints.stage:{name}")

    def _timed(self, windows: dict, name: str, fn):
        self.label(f"layer:{name}")
        t0 = time.time()
        res = fn()
        t1 = time.time()
        windows[name] = (t0, t1)
        log(f"layer {name}: {t1 - t0:.3f}s")
        return res, t1 - t0

    def layers(self, ck: str, windows: dict, out: dict) -> dict:
        """Each layer's public functions called on their own, in pipeline
        order, on this workload's input."""
        from pyspark.sql import functions as F

        import kernelbench
        from datasketches_spark.config import DedupConfig
        from datasketches_spark.operators import exact_dedup, lsh, verify
        from datasketches_spark.operators.connected_components import connected_components
        from datasketches_spark.operators.signatures import build_signatures
        from datasketches_spark.plans.checkpoints import CheckpointStore

        cfg = DedupConfig()
        spark = self.spark
        docs = spark.read.parquet(self.inputs.corpus_path).withColumnRenamed("id", "doc_id")

        def exact():
            hashed = exact_dedup.with_sha256(docs).select("doc_id", "sha256").persist()
            groups = exact_dedup.exact_dup_groups(hashed).persist()
            reps = exact_dedup.distinct_content_docs(exact_dedup.with_sha256(docs)).select(
                "doc_id", "content").persist()
            return hashed, groups, reps, groups.count(), reps.count()

        (hashed, groups, reps, n_groups, n_reps), out["exact_dedup.wall_s"] = \
            self._timed(windows, "exact_dedup", exact)
        out["exact_dedup.groups"] = n_groups
        _, out["signatures.wall_s"] = self._timed(
            windows, "signatures",
            lambda: build_signatures(reps, cfg).write.format("noop").mode("overwrite").save())
        # downstream layers read the signatures the traced call checkpointed
        with open(os.path.join(ck, "signatures", "manifest.json")) as f:
            sig = spark.read.parquet(os.path.join(ck, "signatures", json.load(f)["data_dir"]))

        def lsh_layer():
            bands = lsh.band_table(sig, cfg).persist()
            stats = lsh.bucket_stats(bands).filter(F.col("bucket_size") > 1).persist()
            edges, dropped = lsh.candidate_edges(bands, cfg, stats)
            return bands, stats, stats.count(), dropped.count(), edges.count()

        (bands, stats, n_gt1, n_dropped, n_edges), out["lsh.wall_s"] = \
            self._timed(windows, "lsh", lsh_layer)
        out.update({"lsh.buckets_gt1": n_gt1, "lsh.dropped_buckets": n_dropped,
                    "lsh.candidate_edges": n_edges})

        # one checkpointed call: its sub-stage manifests record the counts
        vdir = os.path.join(self.run_dir, "verify-store")
        store = CheckpointStore(spark, vdir, cfg, enabled=True, input_fp=None)

        def verify_layer():
            v = verify.verify_star_edges_with_fallback(
                bands, stats, sig, cfg, broadcast_eligible=True, store=store,
                store_upstream=[]).persist()
            return v, v.count()

        (verified, n_verified), out["verify.wall_s"] = self._timed(windows, "verify", verify_layer)
        m = store.manifest("star_verified")
        n_star = m["n_rows"]
        self.label("layer:verify_counts")
        passed = spark.read.parquet(os.path.join(vdir, "star_verified", m["data_dir"])).filter(
            F.col("jaccard_kmv") >= cfg.jaccard_threshold).count()
        out.update({"verify.star_edges": n_star,
                    "verify.bad_buckets": (store.manifest("bad_buckets") or {}).get("n_rows", 0),
                    "verify.fallback_pairs": n_verified - passed,
                    "verify.pass_rate": passed / n_star if n_star else 1.0})
        self.label("layer:cc_edges")
        edges = (verified.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
                 .unionByName(exact_dedup.exact_dup_edges(hashed, groups))).persist()
        out["cc.edges"] = edges.count()
        _, out["cc.wall_s"] = self._timed(windows, "cc",
                                          lambda: connected_components(edges).count())
        for df in (hashed, groups, reps, bands, stats, verified, edges):
            df.unpersist()
        shutil.rmtree(vdir, ignore_errors=True)
        # kernel core-seconds of the signature stage: the microbench's
        # per-doc cost over this workload's distinct documents (the
        # pipeline skips winnowing)
        core = sum(out[f"kernels.{k}_us"] for k in kernelbench.KERNELS if k != "winnow")
        return {"kernel_core_s": core * n_reps / 1e6, "n_reps": n_reps}

    def kernels(self, out: dict) -> bool:
        """Spark-free kernel µs/doc on a seeded slice, and the slice's
        outputs compared bit for bit with ``build_signatures``."""
        import pandas as pd

        import kernelbench
        from datasketches_spark.config import DedupConfig
        from datasketches_spark.operators.signatures import build_signatures

        cfg = DedupConfig()
        ids = kernelbench.slice_ids(sorted(self.texts), self.args.seed, KERNEL_SLICE)
        texts = [self.texts[i] for i in ids]
        us, expected = kernelbench.microbench(texts, cfg, repeats=2)
        for k, v in us.items():
            out[f"kernels.{k}_us"] = v
        out["kernels.kmv_estimation_docs"] = sum(1 for n in expected["n_shingles"] if n > cfg.k)
        self.label("kernels:bit_exact")
        sdf = self.spark.createDataFrame(pd.DataFrame({"doc_id": ids, "content": texts}))
        rows = build_signatures(sdf, cfg).collect()
        bad = kernelbench.compare(expected, ids, [r.asDict() for r in rows])
        if bad:
            self.failures.append(f"kernels differ from build_signatures on {bad}")
        return not bad

    def suite(self, out: dict) -> None:
        import suite as qsuite

        import __spark_entry__ as entry

        tables = qsuite.ensure_tables(self.args.seed, os.path.join(
            WORK, "inputs", f"tables-seed{self.args.seed}-n{qsuite.N_DOCS}"))
        qs = entry.queries()
        results = {}
        for name in qsuite.SUITE:
            self.label(f"query:{name}")
            t0 = time.time()
            try:
                results[name] = qs[name](self.spark, tables).toPandas()
                ok = True
            except Exception as e:
                self.failures.append(f"query {name} raised {type(e).__name__}: {e}"[:500])
                ok = False
            out[f"queries.{name}_s"] = time.time() - t0
            self.queries[name] = {"wall_s": out[f"queries.{name}_s"], "ok": ok,
                                  "rows": len(results[name]) if ok else None}
        bad = qsuite.oracle_mismatches(results, tables) + qsuite.invariant_failures(results)
        for name in bad:
            self.queries[name]["ok"] = False
            self.failures.append(f"query {name} failed its output check")


def _driver_layer(span_name: str) -> str:
    for module, layer in DRIVER_LAYERS.items():
        if span_name.startswith(module + "."):
            return layer
    return "pipeline"


def unit_of(name: str) -> str:
    for suffix, unit in (("_us", "us"), ("_s", "s"), ("mb", "MB"), ("pass_rate", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def mem_probe() -> float | None:
    """``bench._mem_probe_mbps`` at a small size (4 writers x 32 MB).
    Importing ``bench`` sets environment defaults; they are undone."""
    saved = dict(os.environ)
    try:
        import bench

        return bench._mem_probe_mbps(workers=4, mb_each=32)
    except Exception as e:  # host facts only: the run's result stands
        log(f"mem probe failed: {type(e).__name__}: {e}")
        return None
    finally:
        os.environ.clear()
        os.environ.update(saved)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        log(f"{ROOT} is not a checkout of the engine: missing {missing}")
        return 2
    host = host_profile()
    setup_env()
    import workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {workloads.WORKLOADS}")
        return 2
    t_gen = time.perf_counter()
    bench = Bench(args, host)
    log(f"inputs ready in {time.perf_counter() - t_gen:.1f}s: {bench.inputs.root} "
        f"({bench.n_rows} rows)")
    bench.report.update(args=vars(args), host=host,
                        placement={"work_dir": WORK, "fs": _fs_type(WORK)},
                        inputs=bench.inputs.meta | {"clique_rows": None})
    try:
        metrics = bench.traced() if args.trace else bench.untraced()
    finally:
        shutil.rmtree(bench.run_dir, ignore_errors=True)
    bench.report.update(ops=[{k: v for k, v in o.items() if k != "ckpt_dir"} for o in bench.ops],
                        queries=bench.queries, failures=bench.failures,
                        loadavg_end=_loadavg(), mem_probe_mbps=mem_probe())
    attempted = len(bench.ops) + len(bench.queries)
    failed = sum(1 for o in bench.ops if not o["ok"]) + sum(
        1 for q in bench.queries.values() if not q["ok"])
    correct = not bench.failures
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    bench.report["result"] = result
    os.makedirs(REPORTS, exist_ok=True)
    rpath = os.path.join(REPORTS,
                         f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json")
    with open(rpath, "w") as f:
        json.dump(bench.report, f, indent=1, default=str)
    for msg in bench.failures:
        log(f"FAILED {msg}")
    log(f"report: {rpath}; loadavg {bench.report['loadavg_end']}, "
        f"mem probe {bench.report['mem_probe_mbps']} MB/s")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
