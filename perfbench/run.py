#!/usr/bin/env python3
"""The repository's benchmark: one command, three workloads.

    python3 perfbench/run.py --workload dedup_batch --seed 1 --seconds 16 --trace 0

It runs the checkout's own ``lsh_search_go_spark`` (the package next to this
directory; anything else on ``sys.path`` is refused) on ``local[nproc]`` in
one process, checks every operation's outputs, and prints two JSON lines:

* a report with every metric of the workload under its own name and unit,
  the provenance of the run (git sha or tree hash, time, nproc, load) and,
  with ``--trace 1``, the per-layer figures;
* last, the result line: ``{"correct", "attempted", "failed", "metrics"}``
  with the ``END_TO_END`` metrics (``--trace 0``) or the ``PER_LAYER`` ones
  (``--trace 1``).

``python3 perfbench/run.py --write-spec`` rewrites ``BENCHMARK.json`` from
the tables below.  Everything the run writes stays under
``.perfbench_work/`` (deleted at exit) and ``.perfbench_out/`` (span dumps)
in the checkout.  See ``perfbench/README.md`` for what each metric means.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOAD_WHY = {
    "dedup_batch": "batch: the product's main job, DedupPipeline over a 500-file "
                   "synthetic corpus; signatures/bands/verify/substring/cc/io, "
                   "no ann/ivf",
    "ann_query": "closed loop, 1 client: 10-query batches plus bulk LSH-forest "
                 "and IVF searches over 3k FMNIST-shaped vectors; "
                 "ann/ivf/arrowmat, no text layers",
    "incremental_ingest": "closed loop, 1 client: 100-file delta drops into the "
                          "stream over a 1k-file base, then incremental_pairs; "
                          "chained UDFs and per-job fixed cost",
}
# The workloads BENCHMARK.json lists.  incremental_ingest runs from this
# command but is left out: a full measurement of three workloads does not
# fit its 3420 s budget on a 4-core box (see README.md).
SPEC_WORKLOADS = ("dedup_batch", "ann_query")

# (name, unit, better, bound): one value per workload, see README.md for the
# per-workload meaning.
END_TO_END = [
    ("latency_ms_p50", "ms", "lower", 0.25),
    ("throughput_per_s", "1/s", "higher", 0.25),
    ("recall", "ratio", "higher", 0.02),
    ("driver_peak_rss_mb", "MB", "lower", 0.2),
    ("setup_s", "s", "lower", 0.25),
]

# workload → end-to-end name → the workload's own report name
E2E_SOURCE = {
    "dedup_batch": {"latency_ms_p50": "run_ms_p50",
                    "throughput_per_s": "files_per_s",
                    "recall": "dup_pair_recall"},
    "ann_query": {"latency_ms_p50": "query_batch_ms_p50",
                  "throughput_per_s": "bulk_queries_per_s",
                  "recall": "ann_recall"},
    "incremental_ingest": {"latency_ms_p50": "delta_ms_p50",
                           "throughput_per_s": "delta_files_per_s",
                           "recall": "incremental_pair_recall"},
}

PER_LAYER = [
    ("pipeline.signatures_s", "s"), ("pipeline.pairs_s", "s"),
    ("pipeline.substring_s", "s"), ("pipeline.clusters_s", "s"),
    ("signatures.busy_s", "s"), ("signatures.rows", "count"),
    ("signatures.executor_run_s", "s"), ("signatures.executor_cpu_s", "s"),
    ("signatures.python_cpu_s", "s"),
    ("shingles.busy_s", "s"), ("hashing.busy_s", "s"), ("simhash.busy_s", "s"),
    ("layout.probe_s", "s"), ("layout.degenerate", "count"),
    ("bands.bucket_rows", "count"), ("bands.candidate_pairs", "count"),
    ("bands.oversized_buckets", "count"), ("bands.busy_s", "s"),
    ("bands.shuffle_write_bytes", "bytes"),
    ("verify.pairs_accepted", "count"), ("verify.accept_ratio", "ratio"),
    ("verify.busy_s", "s"), ("verify.shuffle_write_bytes", "bytes"),
    ("substring.pairs", "count"), ("substring.dropped_blocks", "count"),
    ("substring.busy_s", "s"), ("substring.shuffle_write_bytes", "bytes"),
    ("cc.edges", "count"), ("cc.clusters", "count"), ("cc.busy_s", "s"),
    ("io.write_s", "s"), ("io.files_written", "count"),
    ("io.bytes_written_per_input_byte", "ratio"), ("io.resume_s", "s"),
    ("io.table_files", "count"),
    ("ann.collect_s", "s"), ("ann.fit_s", "s"), ("ann.bucket_build_s", "s"),
    ("ann.query_collect_s", "s"), ("ann.probe_hash_s", "s"),
    ("ann.candidates_per_query", "count"), ("ann.candidate_s", "s"),
    ("ann.verify_s", "s"), ("ann.jobs_per_call", "count"),
    ("ivf.fit_s", "s"), ("ivf.assign_s", "s"), ("ivf.search_s", "s"),
    ("ivf.candidates_per_query", "count"),
    ("incremental.ingest_s", "s"), ("incremental.epoch_s", "s"),
    ("incremental.pairs_s", "s"), ("incremental.touched_buckets", "count"),
    ("driver.self_s", "s"), ("spill_bytes", "bytes"), ("task_skew", "ratio"),
    ("trace.overhead_s", "s"),
]
HIGHER_IS_BETTER = {"signatures.rows", "verify.pairs_accepted",
                    "verify.accept_ratio"}


def spec() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": 16,
        "workloads": [{"name": n, "why": WORKLOAD_WHY[n]} for n in SPEC_WORKLOADS],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bd}
                       for n, u, b, bd in END_TO_END],
        "per_layer": [{"name": n, "unit": u,
                       "better": "higher" if n in HIGHER_IS_BETTER else "lower"}
                      for n, u in PER_LAYER],
    }


# ---------------------------------------------------------------------------

def _import_checkout_package():
    """Import the package that sits in this checkout, and nothing else."""
    if not os.path.isfile(os.path.join(ROOT, "lsh_search_go_spark", "__init__.py")):
        sys.exit(f"perfbench: no lsh_search_go_spark package in {ROOT}")
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)
    import lsh_search_go_spark

    pkg = os.path.realpath(lsh_search_go_spark.__file__)
    if not pkg.startswith(os.path.realpath(ROOT) + os.sep):
        sys.exit(f"perfbench: imported {pkg}, which is outside {ROOT}")
    return pkg


def provenance(nproc: int) -> dict:
    try:
        sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        git_sha = sha.stdout.strip() if sha.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        git_sha = None
    h = hashlib.sha256()
    for d, dirs, files in os.walk(os.path.join(ROOT, "lsh_search_go_spark")):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(d, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return {"git_sha": git_sha, "tree_sha": h.hexdigest()[:16],
            "timestamp": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "nproc": nproc, "loadavg": list(os.getloadavg())}


def make_session(work: str, nproc: int):
    """local[nproc] with a driver heap capped at a quarter of physical RAM
    (at most 4 GB), every scratch directory inside ``work``."""
    from pyspark.sql import SparkSession

    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    heap_gb = max(1, min(4, int(ram_gb // 4)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{heap_gb}g")
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(max(2 * nproc, 8)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to exit."""
    from pyspark import SparkContext

    from spans import proc_children

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    workers = proc_children(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    gw.shutdown()
    # a later session in this process must start a new gateway and JVM
    SparkContext._gateway = SparkContext._jvm = None
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    while workers and time.time() < deadline:
        workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)


def prepare_environment(work: str) -> str:
    """Environment for one benchmark process; returns the imported package
    path.  One process, at most nproc busy threads: single-threaded BLAS in
    this Spark driver process and in its Python workers (which inherit this
    environment), and every temporary file inside ``work``."""
    os.environ.update({k: "1" for k in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
                                         "MKL_NUM_THREADS")})
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    pkg = _import_checkout_package()
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    return pkg


def run_workload(spark, name: str, seed: int, seconds: float, trace: bool,
                 size: str, work: str, nproc: int):
    """Run one workload on a live session; returns its Outcome with, when
    traced, the run-wide span figures."""
    import workloads
    from spans import Tracer

    tracer = Tracer(spark, f"{name}-{seed}") if trace else None
    ctx = workloads.Ctx(spark=spark, work=work, seed=seed,
                        size=size, nproc=nproc, tracer=tracer)
    out = workloads.WORKLOADS[name](ctx).run(seconds, trace)
    out.report["error_rate"] = (out.failed / max(out.attempted, 1), "ratio")
    if tracer is not None:
        out.layers.update(tracer.totals())
        tracer.dump(os.path.join(ROOT, ".perfbench_out",
                                 f"spans-{name}-{seed}.json"))
    return out


def result_line(name: str, out, trace: bool) -> dict:
    """The last line a run prints.  A metric no operation produced (every
    one failed) reads null, and the run is not correct."""
    if trace:
        metrics = {n: {"value": out.layers.get(n, 0), "unit": u}
                   for n, u in PER_LAYER}
    else:
        src = E2E_SOURCE[name]
        metrics = {n: {"value": out.report.get(src.get(n, n), (None,))[0],
                       "unit": u}
                   for n, u, _, _ in END_TO_END}
    complete = all(m["value"] is not None for m in metrics.values())
    return {"correct": out.failed == 0 and complete,
            "attempted": out.attempted, "failed": out.failed,
            "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOAD_WHY))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-spec", action="store_true",
                    help="rewrite BENCHMARK.json from this file's tables")
    args = ap.parse_args(argv)
    if args.write_spec:
        with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as f:
            json.dump(spec(), f, indent=2)
            f.write("\n")
        return 0
    if not args.workload:
        ap.error("--workload is required")

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    pkg = prepare_environment(work)
    prov = provenance(nproc)
    t0 = time.perf_counter()
    spark = make_session(work, nproc)
    try:
        session_s = time.perf_counter() - t0
        out = run_workload(spark, args.workload, args.seed, args.seconds,
                           bool(args.trace), "bench", work, nproc)
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "package": os.path.relpath(pkg, ROOT), "provenance": prov,
        "session_s": session_s, "fixture_s": out.fixture_s,
        "setup_s_all": out.setups, "phases_s": out.phases,
        "samples_s": out.samples, "problems": out.problems[:20],
        "report": {n: {"value": v, "unit": u} for n, (v, u) in out.report.items()},
        "layers": dict(sorted(out.layers.items())),
    }))
    print(json.dumps(result_line(args.workload, out, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
