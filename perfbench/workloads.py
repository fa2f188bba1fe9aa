"""The three benchmark workloads.

Each workload makes its inputs from the seed (untimed, reported as
``fixture_s``), warms the session up untimed, sets up ``n_setups`` times
(``setup_s`` is the median), then runs its operation in a closed loop with
one client for the requested number of seconds.  Every operation's outputs
are checked; an operation that raises or fails a check counts as failed.

With a tracer, the workload also runs its layers one call at a time, each
call forced at its boundary, and returns the per-layer figures.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field, replace

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import oracle

SIZES = {
    "dedup_batch": {
        "bench": dict(n_files=500, warm_files=60),
        "smoke": dict(n_files=150, warm_files=30),
    },
    "ann_query": {
        "bench": dict(n_proto=300, n_test=100, batch=10, warm_small=3,
                      n_centroids=60, ivf_sample=2000, nprobe=8),
        "smoke": dict(n_proto=60, n_test=20, batch=5, warm_small=2,
                      n_centroids=8, ivf_sample=600, nprobe=2),
    },
    "incremental_ingest": {
        "bench": dict(n_base=1000, delta_new=80, delta_dups=20),
        "smoke": dict(n_base=150, delta_new=20, delta_dups=5),
        # the ingest leg of dedup_batch's traced run
        "leg": dict(n_base=300, delta_new=80, delta_dups=20),
    },
}

# The reference's FMNIST config (NTrees 10, KMinVecs 200, MaxDist 2200,
# MaxCandidates 5000, k=10) and the fixture geometry bench.py gives FMNIST.
ANN = dict(n_trees=10, k_min_vecs=200, max_dist=2200.0, max_candidates=5000,
           k=10, dims=784, per_proto=10, sig_a=35.0, sig_b=10.0, epsilon=0.05)

DUP_RECALL_MIN = 0.99
ANN_RECALL_MIN = 0.95


@dataclass
class Ctx:
    spark: object
    work: str           # scratch directory
    seed: int
    size: str
    nproc: int
    tracer: object = None


@dataclass
class Outcome:
    fixture_s: float = 0.0
    setups: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    report: dict = field(default_factory=dict)   # name -> (value, unit)
    layers: dict = field(default_factory=dict)   # per-layer name -> value
    phases: dict = field(default_factory=dict)   # wall seconds per phase
    samples: list = field(default_factory=list)  # timed operations, seconds


def tail(samples: list[float]):
    """(value, percentile, n) of the highest percentile with at least ten
    samples beyond it, or None when there are fewer than eleven samples."""
    n = len(samples)
    if n < 11:
        return None
    return sorted(samples)[n - 11], round(100.0 * (n - 10) / n, 1), n


def reset_peak_rss() -> None:
    """Reset this process's peak resident size to its current one (Linux)."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb() -> float:
    """Peak resident size of this process since the last reset, in MB."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc/self/status")


def _dir_files(path: str) -> list[str]:
    out = []
    for d, _, names in os.walk(path):
        out += [os.path.join(d, f) for f in names
                if f.endswith(".parquet") and not f.startswith((".", "_"))]
    return out


def _read_rows(path: str, cols: list[str]) -> list[tuple]:
    files = _dir_files(path)
    if not files:
        return []
    t = pa.concat_tables([pq.read_table(f, columns=cols) for f in files])
    return list(zip(*(t.column(c).to_pylist() for c in cols)))


def _count_rows(path: str) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows for f in _dir_files(path))


def _force(df) -> int:
    """Materialize a persisted relation at a layer boundary."""
    return df.persist().count()


class Workload:
    name = ""

    def __init__(self, ctx: Ctx, size: str | None = None,
                 out: Outcome | None = None):
        self.ctx = ctx
        self.spark = ctx.spark
        self.sz = SIZES[self.name][size or ctx.size]
        self.out = out or Outcome()
        self.work = os.path.join(ctx.work, self.name)
        os.makedirs(self.work, exist_ok=True)

    # -- helpers ----------------------------------------------------------
    def span(self, name: str):
        t = self.ctx.tracer
        return t.span(name) if t is not None else nullcontext({})

    def problem(self, msg: str) -> None:
        self.out.problems.append(msg)
        print(f"[{self.name}] check failed: {msg}", file=sys.stderr)

    def attempt(self, fn):
        """Run one checked operation; returns its result or None."""
        self.out.attempted += 1
        try:
            res, problems = fn()
        except Exception:                               # noqa: BLE001
            traceback.print_exc(file=sys.stderr)
            self.out.failed += 1
            self.problem(f"operation raised ({sys.exc_info()[0].__name__})")
            return None
        if problems:
            self.out.failed += 1
            for p in problems[:5]:
                self.problem(p)
            return None
        return res

    def guarded(self, step) -> None:
        """Run an end-of-run step; if it raises, the run counts one more
        failed operation instead of ending without a result."""
        try:
            step()
        except Exception:                               # noqa: BLE001
            traceback.print_exc(file=sys.stderr)
            self.out.attempted += 1
            self.out.failed += 1
            self.problem(f"{step.__name__} raised ({sys.exc_info()[0].__name__})")

    def closed_loop(self, seconds: float, op, min_ops: int = 2) -> list:
        """One client: the next operation starts when the previous one and
        its checks are done.  Returns the results of the operations that
        passed."""
        results = []
        end = time.perf_counter() + seconds
        n = 0
        while n < min_ops or time.perf_counter() < end:
            n += 1
            r = self.attempt(op)
            if r is not None:
                results.append(r)
        return results

    def report(self, name: str, value, unit: str) -> None:
        self.out.report[name] = (value, unit)

    # -- the protocol -----------------------------------------------------
    # True: the untimed warm-up runs before the set-ups, so they start warm;
    # False: the operation needs what set-up builds, so it warms up after.
    warm_before_setup = False
    n_setups = 3

    def run(self, seconds: float, trace: bool) -> Outcome:
        phases = self.out.phases
        t = time.perf_counter()

        def phase(name):
            nonlocal t
            now = time.perf_counter()
            phases[name] = phases.get(name, 0.0) + now - t
            t = now

        self.fixture()
        phase("fixture")
        self.out.fixture_s = phases["fixture"]
        # driver_peak_rss_mb covers warm-up, set-up, the loop and its checks
        reset_peak_rss()
        if self.warm_before_setup:
            self.warmup()
            phase("warmup")
        for _ in range(self.n_setups):
            self.out.setups.append(self.setup())
        phase("setup")
        if not self.warm_before_setup:
            self.warmup()
            phase("warmup")
        self.measure(seconds)
        phase("measure")
        self.guarded(self.finish)
        phase("finish")
        self.report("driver_peak_rss_mb", peak_rss_mb(), "MB")
        if trace:
            self.guarded(self.trace)
            phase("trace")
        self.report("setup_s", statistics.median(self.out.setups), "s")
        return self.out

    def fixture(self): ...
    def warmup(self): ...
    def setup(self) -> float: ...
    def measure(self, seconds: float): ...
    def finish(self): ...
    def trace(self): ...

    def layout_probe(self, df) -> None:
        """layout.probe_s / layout.degenerate on this workload's input."""
        from lsh_search_go_spark.functions import layout

        layout._PROBE_MEMO.clear()      # time the probe, not its memo
        t0 = time.perf_counter()
        with self.span("layout.probe"):
            degenerate = layout.is_degenerate(df)
        self.out.layers["layout.probe_s"] = time.perf_counter() - t0
        self.out.layers["layout.degenerate"] = int(degenerate)


# ---------------------------------------------------------------------------
# dedup_batch
# ---------------------------------------------------------------------------

class DedupBatch(Workload):
    """``DedupPipeline(impl="pandas").run(with_substring=True)`` over a
    synthetic code corpus: one batch job per operation."""

    name = "dedup_batch"
    warm_before_setup = True
    n_setups = 9

    def fixture(self):
        from lsh_search_go_spark import synth
        from lsh_search_go_spark.config import DedupConfig

        self.cfg = DedupConfig(strip_comments=True)
        corpus = synth.generate(self.sz["n_files"], self.ctx.seed)
        self.corpus_path = os.path.join(self.work, "corpus.parquet")
        synth.to_parquet(corpus, self.corpus_path)
        self.n_files = len(corpus.rows)
        self.warm_path = os.path.join(self.work, "warm.parquet")
        synth.to_parquet(synth.generate(self.sz["warm_files"], self.ctx.seed + 1),
                         self.warm_path)
        self.sha = {synth.doc_id_of(r["repo"], r["path"], r["commit"]):
                    hashlib.sha256(r["content"].encode()).hexdigest()
                    for r in corpus.rows}
        self.sets = oracle.shingle_sets(corpus.rows, self.cfg)
        self.truth = oracle.similar_pairs(self.sets, self.cfg.jaccard_threshold)
        self.input_bytes = os.path.getsize(self.corpus_path)
        self.n_runs = 0
        self.recall = None

    def _pipeline(self, src, workdir):
        from lsh_search_go_spark.pipeline import DedupPipeline

        return DedupPipeline(self.spark, self.cfg, workdir,
                             impl="pandas").run(src, with_substring=True)

    def warmup(self):
        """An untimed pipeline run on a small corpus: the first run in a
        session is about 2.5x a warm one (Python workers, first reads).
        Later runs keep getting faster for about five runs (JIT of the
        planning path), a slope every run shares."""
        wd = os.path.join(self.work, "warm")
        self._pipeline(self.spark.read.parquet(self.warm_path), wd)
        shutil.rmtree(wd, ignore_errors=True)

    def setup(self) -> float:
        """Open the input table and prepare it as each pipeline run does
        (document ids, ``content_sha``, salted repartition), read back in
        full and checked against the corpus."""
        from lsh_search_go_spark.pipeline import DedupPipeline

        t0 = time.perf_counter()
        self.src = self.spark.read.parquet(self.corpus_path)
        pipe = DedupPipeline(self.spark, self.cfg, os.path.join(self.work, "setup"),
                             impl="pandas")
        rows = (pipe._prepare_source(self.src)
                .select(self.cfg.id_col, "content_sha").collect())
        dt = time.perf_counter() - t0
        if len(rows) != self.n_files or dict(rows) != self.sha:
            raise RuntimeError(f"prepared source ({len(rows)} rows) does not "
                               f"match the {self.n_files}-file corpus")
        return dt

    def check(self, res) -> list[str]:
        """Pairs re-verified exactly, recall against the all-pairs oracle,
        clusters equal to union-find over the pairs, content_sha per row."""
        thr = self.cfg.jaccard_threshold
        pairs = _read_rows(res.tables["pairs"], ["src_id", "dst_id", "inter", "uni"])
        bad = oracle.check_pairs(pairs, self.sets, thr)
        emitted = {(p[0], p[1]) for p in pairs}
        if len(emitted) != len(pairs):
            bad.append(f"{len(pairs) - len(emitted)} duplicate pair rows")
        self.recall = (len(emitted & self.truth.keys()) / len(self.truth)
                       if self.truth else 1.0)
        if self.recall < DUP_RECALL_MIN:
            bad.append(f"dup_pair_recall {self.recall:.4f} < {DUP_RECALL_MIN}")
        clusters = dict(_read_rows(res.tables["clusters"], ["doc_id", "cluster_id"]))
        expect = oracle.components(self.sha.keys(), emitted)
        wrong = sum(clusters.get(d) != c for d, c in expect.items())
        if wrong or len(clusters) != len(expect):
            bad.append(f"{wrong} docs in the wrong cluster "
                       f"({len(clusters)} rows for {len(expect)} docs)")
        shas = _read_rows(res.tables["signatures"], ["doc_id", "content_sha"])
        wrong = sum(self.sha.get(d) != s for d, s in shas)
        if wrong or len(shas) != self.n_files:
            bad.append(f"{wrong} content_sha mismatches over {len(shas)} rows")
        return bad

    def op(self):
        self.n_runs += 1
        wd = os.path.join(self.work, f"run{self.n_runs}")
        t0 = time.perf_counter()
        res = self._pipeline(self.src, wd)
        dt = time.perf_counter() - t0
        bad = self.check(res)
        if self.last_wd:
            shutil.rmtree(self.last_wd, ignore_errors=True)
        self.last_wd = wd
        return (dt, {s.name: s.seconds for s in res.stages}), bad

    def measure(self, seconds):
        self.last_wd = None
        self.runs = self.closed_loop(seconds, self.op, min_ops=3)
        times = [r[0] for r in self.runs]
        self.out.samples = times
        if times:
            med = statistics.median(times)
            self.report("files_per_s", self.n_files / med, "1/s")
            self.report("run_ms_p50", med * 1e3, "ms")
        self.report("dup_pair_recall", self.recall, "ratio")
        self.report("n_files", self.n_files, "count")
        self.report("oracle_pairs", len(self.truth), "count")

    def trace(self):
        from pyspark.sql import functions as F

        from lsh_search_go_spark.functions.signatures import with_signatures_fused
        from lsh_search_go_spark.operators.bands import (candidate_pairs,
                                                         explode_bands,
                                                         oversized_buckets)
        from lsh_search_go_spark.operators.cc import assign_clusters
        from lsh_search_go_spark.operators.substring import substring_pairs
        from lsh_search_go_spark.operators.verify import jaccard_verify
        from lsh_search_go_spark.pipeline import DedupPipeline
        from lsh_search_go_spark.sources.io import write_table

        L = self.out.layers
        cfg = self.cfg
        for stage in ("signatures", "pairs", "substring", "clusters"):
            L[f"pipeline.{stage}_s"] = statistics.median(
                r[1].get(stage, 0.0) for r in self.runs)
        self.layout_probe(self.src)

        # io: what the last untraced run wrote, and a resume of it
        files = _dir_files(self.last_wd)
        L["io.files_written"] = len(files)
        L["io.bytes_written_per_input_byte"] = (
            sum(os.path.getsize(f) for f in files) / self.input_bytes)
        t0 = time.perf_counter()
        with self.span("io.resume"):
            self._pipeline(self.src, self.last_wd)
        L["io.resume_s"] = time.perf_counter() - t0

        # the pipeline's layers one call at a time, each forced
        tr = self.ctx.tracer
        first = len(tr.spans)
        t_all = time.perf_counter()
        pipe = DedupPipeline(self.spark, cfg, os.path.join(self.work, "traced"),
                             impl="pandas")
        with self.span("signatures") as c:
            sig = (with_signatures_fused(pipe._prepare_source(self.src), cfg,
                                         rebalance=False)
                   .withColumn("doc_key", F.xxhash64(cfg.id_col)))
            c["rows"] = _force(sig)
        with self.span("bands") as c:
            buckets = explode_bands(sig.filter(F.size("shingles") > 0),
                                    "doc_key", "bands")
            c["bucket_rows"] = _force(buckets)
            c["oversized_buckets"] = oversized_buckets(
                buckets, cfg.max_bucket_size).count()
            cands = candidate_pairs(buckets, "doc_key", cfg.max_bucket_size)
            c["candidate_pairs"] = _force(cands)
        with self.span("verify") as c:
            ver = jaccard_verify(cands, sig, cfg.jaccard_threshold, "doc_key",
                                 "shingles")
            c["pairs_accepted"] = _force(ver)
        with self.span("substring") as c:
            sink = os.path.join(self.work, "traced", "dropped_blocks")
            sub = substring_pairs(sig, replace(cfg, id_col="doc_key"),
                                  dropped_sink=sink)
            c["pairs"] = _force(sub)
        with self.span("cc") as c:
            cl = assign_clusters(sig, ver, "doc_key", docs_unique=True)
            _force(cl)
            c["clusters"] = cl.select("cluster_id").distinct().count()
        traced_total = time.perf_counter() - t_all
        with self.span("io.write"):
            write_table(sig, os.path.join(self.work, "traced", "signatures"))
        dropped = _count_rows(sink)
        spans = {s["name"]: s for s in tr.spans[first:]}
        s = spans["signatures"]
        L.update({
            "signatures.busy_s": s["wall_s"], "signatures.rows": s["counts"]["rows"],
            "signatures.executor_run_s": s["executor_run_s"],
            "signatures.executor_cpu_s": s["executor_cpu_s"],
            "signatures.python_cpu_s": s["python_cpu_s"],
            "io.write_s": spans["io.write"]["wall_s"],
        })
        b, v = spans["bands"], spans["verify"]
        L.update({f"bands.{k}": b["counts"][k] for k in
                  ("bucket_rows", "candidate_pairs", "oversized_buckets")})
        L["verify.pairs_accepted"] = v["counts"]["pairs_accepted"]
        L["verify.accept_ratio"] = (v["counts"]["pairs_accepted"]
                                    / max(b["counts"]["candidate_pairs"], 1))
        L["substring.pairs"] = spans["substring"]["counts"]["pairs"]
        L["substring.dropped_blocks"] = dropped
        L["cc.edges"] = v["counts"]["pairs_accepted"]
        L["cc.clusters"] = spans["cc"]["counts"]["clusters"]
        for name in ("bands", "verify", "substring", "cc"):
            L[f"{name}.busy_s"] = spans[name]["wall_s"]
        for name in ("bands", "verify", "substring"):
            L[f"{name}.shuffle_write_bytes"] = spans[name]["shuffle_write_bytes"]
        L["trace.overhead_s"] = traced_total - statistics.median(
            r[0] for r in self.runs)
        for df in (sig, buckets, cands, ver, sub, cl):
            df.unpersist()

        # The streaming ingest path on a small base: incremental_ingest is
        # not one of the workloads BENCHMARK.json runs, so its layers are
        # traced here.
        leg = IncrementalIngest(self.ctx, size="leg", out=self.out)
        leg.fixture()
        leg.setup()
        leg.rounds = [r for r in (leg.attempt(leg.round) for _ in range(2)) if r]
        leg.trace(leg=True)


# ---------------------------------------------------------------------------
# ann_query
# ---------------------------------------------------------------------------

class AnnQuery(Workload):
    """FMNIST-shaped L2 vectors at the reference config: build the LSH
    forest and an IVF index, then one client alternates small query batches
    with bulk calls through ``ann.search`` and ``ivf.search``."""

    name = "ann_query"
    n_setups = 5

    def fixture(self):
        import bench

        out = os.path.join(self.work, "fixture")
        bench._make_annbench_shaped(
            out, n_proto=self.sz["n_proto"], per_proto=ANN["per_proto"],
            n_test=self.sz["n_test"], dims=ANN["dims"], sig_a=ANN["sig_a"],
            sig_b=ANN["sig_b"], seed=self.ctx.seed)
        self.Xd = np.stack(pq.read_table(f"{out}/train.parquet")
                           .column("vec").to_numpy(zero_copy_only=False))
        self.Qd = np.stack(pq.read_table(f"{out}/test.parquet")
                           .column("vec").to_numpy(zero_copy_only=False))
        gt = pq.read_table(f"{out}/ground_truth.parquet").to_pandas()
        gt = gt.sort_values(["query_id", "rank"])
        nq = self.Qd.shape[0]
        self.gt_ids = gt["neighbor_id"].to_numpy().reshape(nq, -1)
        self.gt_dist = gt["dist"].to_numpy().reshape(nq, -1)

        from pyspark.sql import functions as F

        from lsh_search_go_spark.config import AnnConfig

        self.train = (self.spark.read.parquet(f"{out}/train.parquet")
                      .withColumnRenamed("vec_id", "id").cache())
        self.train.count()
        self.queries = (self.spark.read.parquet(f"{out}/test.parquet")
                        .select(F.col("vec_id").alias("query_id"), "vec").cache())
        self.queries.count()
        self.acfg = AnnConfig(n_trees=ANN["n_trees"], k_min_vecs=ANN["k_min_vecs"],
                              dims=ANN["dims"], seed=42,
                              sample_size=self.Xd.shape[0])
        self.buckets = self.inv = None
        self.next_q = 0
        self.builds = []        # per set-up: seconds of each build step

    def setup(self) -> float:
        from lsh_search_go_spark.operators import ann, ivf

        for df in (self.buckets, self.inv):
            if df is not None:
                df.unpersist()
        t = [time.perf_counter()]
        with self.span("ann.collect"):
            ids, X = ann.collect_id_vec_matrix(self.train, "id", "vec")
        t.append(time.perf_counter())
        with self.span("ann.fit"):
            self.model = ann.fit(X, self.acfg)
        t.append(time.perf_counter())
        with self.span("ann.bucket_build"):
            self.buckets = ann.build_buckets_driver(
                self.spark, ids, X, self.model, "id", "bigint",
                workers=self.ctx.nproc)
            _force(self.buckets)
        t.append(time.perf_counter())
        with self.span("ivf.fit"):
            sample = ann.collect_vec_matrix(
                self.train.orderBy("id").limit(self.sz["ivf_sample"]).select("vec"))
            self.C = ivf.fit_centroids(sample, self.sz["n_centroids"], "l2")
        t.append(time.perf_counter())
        with self.span("ivf.assign"):
            self.inv = ivf.assign(self.train, self.C, "l2")
            _force(self.inv)
        t.append(time.perf_counter())
        d = np.diff(t)
        self.builds.append(d)
        return float(d.sum())

    def warmup(self):
        """Untimed searches: a few small batches and one bulk call of each
        kind.  The first small batch takes about 2.5x its steady time; later
        ones keep getting faster for about ten calls (JIT of the planning
        path), a slope every run shares."""
        for _ in range(self.sz["warm_small"]):
            self.small()
        self.bulk_ann()
        self.bulk_ivf()

    def _batch(self, n):
        from pyspark.sql import functions as F

        nq = self.Qd.shape[0]
        lo = self.next_q % nq
        hi = min(lo + n, nq)
        self.next_q = hi
        return self.queries.filter((F.col("query_id") >= lo)
                                   & (F.col("query_id") < hi)), range(lo, hi)

    def _ann(self, q):
        from lsh_search_go_spark.operators import ann

        return ann.search(q, self.buckets, self.train, self.model, k=ANN["k"],
                          max_dist=ANN["max_dist"], metric="l2",
                          dist_impl="matmul_grouped",
                          max_candidates=ANN["max_candidates"])

    def _ivf(self, q):
        from lsh_search_go_spark.operators import ivf

        return ivf.search(q, self.inv, self.train, self.C, k=ANN["k"],
                          max_dist=ANN["max_dist"], metric="l2",
                          nprobe=self.sz["nprobe"], dist_impl="matmul_grouped")

    def _timed(self, fn, q):
        t0 = time.perf_counter()
        rows = [tuple(r) for r in fn(q).collect()]
        return time.perf_counter() - t0, rows

    def _check(self, rows, qids) -> list[str]:
        bad = oracle.check_topk(rows, self.Qd, self.Xd, ANN["k"], ANN["max_dist"])
        stray = {r[0] for r in rows} - set(qids)
        if stray:
            bad.append(f"{len(stray)} result rows for queries not asked")
        return bad

    def small(self):
        q, qids = self._batch(self.sz["batch"])
        dt, rows = self._timed(self._ann, q)
        return dt, self._check(rows, qids)

    def _bulk(self, fn):
        nq = self.Qd.shape[0]
        dt, rows = self._timed(fn, self.queries)
        bad = self._check(rows, range(nq))
        rec = oracle.eps_recall(rows, self.gt_ids, self.gt_dist, range(nq),
                                ANN["epsilon"])
        return (dt, rec), bad

    def bulk_ann(self):
        return self._bulk(self._ann)

    def bulk_ivf(self):
        return self._bulk(self._ivf)

    def measure(self, seconds):
        """Small batches for 55% of the time, then bulk LSH and IVF calls
        alternately for the rest; at least three small and one bulk each."""
        start = time.perf_counter()
        small = self.closed_loop(0.55 * seconds, self.small, min_ops=3)
        bulk, bulk_ivf = [], []
        n = 0
        while n == 0 or time.perf_counter() < start + seconds:
            n += 1
            for fn, acc in ((self.bulk_ann, bulk), (self.bulk_ivf, bulk_ivf)):
                r = self.attempt(fn)
                if r is not None:
                    acc.append(r)
        self.small_s = small
        self.out.samples = small
        nq = self.Qd.shape[0]
        b = np.median(np.array(self.builds), axis=0)
        self.report("index_build_s", float(b[:3].sum()), "s")
        self.report("ivf_build_s", float(b[3:].sum()), "s")
        if small:
            self.report("query_batch_ms_p50", statistics.median(small) * 1e3, "ms")
            tl = tail(small)
            self.report("query_batch_ms_tail",
                        None if tl is None else tl[0] * 1e3, "ms")
            self.report("query_batch_tail_pct",
                        None if tl is None else tl[1], "%")
            self.report("query_batch_samples", len(small), "count")
        if bulk:
            self.report("bulk_queries_per_s",
                        nq / statistics.median(r[0] for r in bulk), "1/s")
            self.report("ann_recall", min(r[1] for r in bulk), "ratio")
        if bulk_ivf:
            self.report("ivf_bulk_queries_per_s",
                        nq / statistics.median(r[0] for r in bulk_ivf), "1/s")
            self.report("ivf_recall", min(r[1] for r in bulk_ivf), "ratio")
        from lsh_search_go_spark.operators import ann

        self.report("model_fingerprint", ann.model_fingerprint(self.model), "sha")

    def finish(self):
        self.out.attempted += 1
        rec = self.out.report.get("ann_recall", (0.0, ""))[0]
        if rec < ANN_RECALL_MIN:
            self.out.failed += 1
            self.problem(f"ann_recall {rec:.4f} < {ANN_RECALL_MIN}")

    def trace(self):
        from pyspark.sql import functions as F

        from lsh_search_go_spark.operators import ann, ivf

        L = self.out.layers
        b = np.median(np.array(self.builds), axis=0)
        for i, name in enumerate(("ann.collect_s", "ann.fit_s",
                                  "ann.bucket_build_s", "ivf.fit_s",
                                  "ivf.assign_s")):
            L[name] = float(b[i])
        self.layout_probe(self.train)

        # jobs one small-batch search submits
        tr = self.ctx.tracer
        q, _ = self._batch(self.sz["batch"])
        with self.span("ann.search"):
            self._ann(q).collect()
        L["ann.jobs_per_call"] = tr.spans[-1]["jobs"]

        # a small batch one layer call at a time, three times
        parts = {k: [] for k in ("query_collect", "probe_hash", "candidate",
                                 "verify", "total", "cands")}
        for _ in range(3):
            q, qids = self._batch(self.sz["batch"])
            qq = q.select("query_id", F.col("vec").alias("__qvec"))
            t0 = time.perf_counter()
            with self.span("ann.query_collect"):
                collected = ann._collect_queries(qq)
            t1 = time.perf_counter()
            with self.span("ann.probe_hash"):
                arrays = ann.driver_probe_arrays(collected[1], self.model,
                                                 len(collected[0]))
            t2 = time.perf_counter()
            with self.span("ann.candidate"):
                cands = ann.candidate_pairs(
                    qq, self.buckets, self.model,
                    max_candidates=ANN["max_candidates"],
                    _collected=collected, _probe_arrays=arrays)
                n_cands = _force(cands)
            t3 = time.perf_counter()
            with self.span("ann.verify"):
                rows = [tuple(r) for r in ann.verify_topk(
                    qq, cands, self.train, ANN["k"], ANN["max_dist"], "l2",
                    dist_impl="matmul_grouped", collected=collected).collect()]
            t4 = time.perf_counter()
            cands.unpersist()
            for k, v in zip(("query_collect", "probe_hash", "candidate",
                             "verify", "total"),
                            (t1 - t0, t2 - t1, t3 - t2, t4 - t3, t4 - t0)):
                parts[k].append(v)
            parts["cands"].append(n_cands / max(len(qids), 1))
            self.out.attempted += 1
            bad = self._check(rows, qids)
            if bad:
                self.out.failed += 1
                self.problem(bad[0])
        med = {k: statistics.median(v) for k, v in parts.items()}
        L.update({"ann.query_collect_s": med["query_collect"],
                  "ann.probe_hash_s": med["probe_hash"],
                  "ann.candidate_s": med["candidate"],
                  "ann.verify_s": med["verify"],
                  "ann.candidates_per_query": med["cands"],
                  "trace.overhead_s": med["total"] - statistics.median(self.small_s)})

        # IVF: one traced bulk search; candidates from the list sizes
        t0 = time.perf_counter()
        with self.span("ivf.search"):
            self._ivf(self.queries).collect()
        L["ivf.search_s"] = time.perf_counter() - t0
        sizes = np.bincount(
            np.asarray(self.inv.select("centroid_id").toPandas()["centroid_id"]),
            minlength=self.C.shape[0])
        probed = ivf.probe_centroids_np(self.Qd, self.C, self.sz["nprobe"], "l2")
        L["ivf.candidates_per_query"] = float(sizes[probed].sum(1).mean())


# ---------------------------------------------------------------------------
# incremental_ingest
# ---------------------------------------------------------------------------

class IncrementalIngest(Workload):
    """A base corpus ingested through ``start_incremental_ingest``, then
    rounds of: drop a delta parquet (new files plus planted copies of old
    ones), run the stream to quiescence, read ``latest_epoch`` and pair the
    delta with ``incremental_pairs(since=prev)``."""

    name = "incremental_ingest"

    def fixture(self):
        from lsh_search_go_spark import synth
        from lsh_search_go_spark.config import DedupConfig

        self.cfg = DedupConfig(strip_comments=True)
        self.rng = random.Random(self.ctx.seed)
        base = synth.generate(self.sz["n_base"], self.ctx.seed)
        self.staging = os.path.join(self.work, "staging")
        os.makedirs(self.staging, exist_ok=True)
        self.base_path = os.path.join(self.staging, "base.parquet")
        synth.to_parquet(base, self.base_path)
        self.sets = oracle.shingle_sets(base.rows, self.cfg)
        self.base_rows = base.rows
        self.n_rounds = 0

    def stage_delta(self):
        """Write the next delta to the staging area (untimed): fresh files
        plus exact copies (after comment stripping) of ingested ones."""
        from lsh_search_go_spark import synth

        self.n_rounds += 1
        r = self.n_rounds
        delta = synth.generate(self.sz["delta_new"],
                               self.ctx.seed * 100_003 + r)
        planted = []
        for i in range(self.sz["delta_dups"]):
            old = self.rng.choice(self.rows)
            row = dict(old, path=f"copies/r{r}/{i}/{old['path']}",
                       content=old["content"] + f"\n# copy {r}.{i}")
            delta.rows.append(row)
            planted.append((synth.doc_id_of(old["repo"], old["path"], old["commit"]),
                            synth.doc_id_of(row["repo"], row["path"], row["commit"])))
        path = os.path.join(self.staging, f"delta-{r:05d}.parquet")
        synth.to_parquet(delta, path)
        self.sets.update(oracle.shingle_sets(delta.rows, self.cfg))
        return path, delta.rows, planted

    def _ingest(self):
        from lsh_search_go_spark.streaming.incremental import start_incremental_ingest

        q = start_incremental_ingest(self.spark, self.src_dir, self.out_dir,
                                     self.cfg, impl="pandas")
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"ingest stream failed: {q.exception()}")

    def _pairs(self, since):
        from lsh_search_go_spark.streaming.incremental import incremental_pairs

        return [tuple(r) for r in incremental_pairs(
            self.spark, self.out_dir, self.cfg, since=since)
            .select("src_id", "dst_id", "inter", "uni").collect()]

    def warmup(self):
        self.attempt(self.round)

    def setup(self) -> float:
        from lsh_search_go_spark.streaming.incremental import latest_epoch

        k = len(self.out.setups) + 1
        self.src_dir = os.path.join(self.work, f"source{k}")
        self.out_dir = os.path.join(self.work, f"tables{k}")
        os.makedirs(self.src_dir)
        t0 = time.perf_counter()
        shutil.copy(self.base_path, os.path.join(self.src_dir, "base.parquet"))
        self._ingest()
        self.epoch = latest_epoch(self.spark, self.out_dir)
        pairs = self._pairs(None)
        dt = time.perf_counter() - t0
        self.rows = list(self.base_rows)
        bad = oracle.check_pairs(pairs, self.sets, self.cfg.jaccard_threshold)
        if bad:
            raise RuntimeError(f"base pairs fail the exact check: {bad[0]}")
        self.cum = {(p[0], p[1]) for p in pairs}
        return dt

    def round(self, spans: bool = False):
        from lsh_search_go_spark.streaming.incremental import latest_epoch

        path, rows, planted = self.stage_delta()
        span = self.span if spans else (lambda name: nullcontext({}))
        t = [time.perf_counter()]
        os.replace(path, os.path.join(self.src_dir, os.path.basename(path)))
        with span("incremental.ingest"):
            self._ingest()
        t.append(time.perf_counter())
        with span("incremental.epoch"):
            epoch = latest_epoch(self.spark, self.out_dir)
        t.append(time.perf_counter())
        with span("incremental.pairs"):
            pairs = self._pairs(self.epoch)
        t.append(time.perf_counter())
        self.rows += rows
        bad = oracle.check_pairs(pairs, self.sets, self.cfg.jaccard_threshold)
        if epoch <= self.epoch:
            bad.append(f"epoch did not advance ({self.epoch} -> {epoch})")
        got = {(p[0], p[1]) for p in pairs}
        missed = [p for p in planted if (min(p), max(p)) not in got]
        if missed:
            bad.append(f"{len(missed)} of {len(planted)} planted copies unpaired")
        self.epoch = epoch
        self.cum |= got
        return (t[-1] - t[0], list(np.diff(t)), len(rows)), bad

    def measure(self, seconds):
        self.rounds = self.closed_loop(seconds, self.round)
        times = [r[0] for r in self.rounds]
        self.out.samples = times
        if times:
            med = statistics.median(times)
            self.report("delta_ms_p50", med * 1e3, "ms")
            tl = tail(times)
            self.report("delta_ms_tail", None if tl is None else tl[0] * 1e3, "ms")
            self.report("delta_tail_pct", None if tl is None else tl[1], "%")
            self.report("delta_samples", len(times), "count")
            self.report("delta_files_per_s",
                        statistics.median(r[2] for r in self.rounds) / med, "1/s")

    def finish(self):
        """The cumulative union of the rounds' pairs equals the batch pair
        job over the final tables."""
        self.out.attempted += 1
        full = {(p[0], p[1]) for p in self._pairs(None)}
        rec = len(self.cum & full) / len(full) if full else 1.0
        self.report("incremental_pair_recall", rec, "ratio")
        if self.cum != full:
            self.out.failed += 1
            self.problem(f"cumulative pairs {len(self.cum)} != batch pairs "
                         f"{len(full)} ({len(self.cum - full)} extra)")

    def trace(self, leg: bool = False):
        from pyspark.sql import functions as F

        from lsh_search_go_spark.functions import hashing as H
        from lsh_search_go_spark.functions.shingles import with_shingles
        from lsh_search_go_spark.functions.simhash import with_simhash

        L = self.out.layers
        if not leg:
            self.layout_probe(self.spark.read.parquet(self.base_path))
        tr = self.ctx.tracer
        traced = []
        for _ in range(2):
            first = len(tr.spans)
            res = self.attempt(lambda: self.round(spans=True))
            if res is not None:
                traced.append((res, tr.spans[first:]))
                # buckets the round's new documents touched
                sigs = self.spark.read.parquet(os.path.join(self.out_dir, "signatures"))
                new = sigs.filter(F.col("_epoch") == self.epoch).select(self.cfg.id_col)
                touched = (self.spark.read.parquet(os.path.join(self.out_dir, "buckets"))
                           .join(new, self.cfg.id_col)
                           .select("band_id", "band_hash").distinct().count())
                L["incremental.touched_buckets"] = touched
        for i, name in enumerate(("ingest_s", "epoch_s", "pairs_s")):
            L[f"incremental.{name}"] = statistics.median(r[0][1][i] for r in traced)
        if not leg:
            L["trace.overhead_s"] = (
                statistics.median(r[0][0] for r in traced)
                - statistics.median(r[0] for r in self.rounds))
        L["io.table_files"] = sum(len(_dir_files(os.path.join(self.out_dir, t)))
                                  for t in ("signatures", "buckets"))

        # the ingest path's chained UDFs, each materialized on its own
        path, _, _ = self.stage_delta()
        delta = self.spark.read.parquet(path).cache()
        delta.count()
        cfg = self.cfg
        with self.span("shingles"):
            sh = with_shingles(delta, cfg, "pandas")
            _force(sh)
        with self.span("hashing"):
            mh = H.with_minhash_bands(sh, cfg, "pandas")
            _force(mh)
        with self.span("simhash"):
            sm = with_simhash(mh, cfg, "pandas")
            _force(sm)
        for name in ("shingles", "hashing", "simhash"):
            L[f"{name}.busy_s"] = tr.layer(name)[-1]["wall_s"]
        for df in (sm, mh, sh, delta):
            df.unpersist()


WORKLOADS = {w.name: w for w in (DedupBatch, AnnQuery, IncrementalIngest)}
