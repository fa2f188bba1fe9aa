"""Smoke tests of the benchmark itself, at tiny input sizes.

    python3 -m pytest perfbench/smoke_perfbench.py -q

The file name keeps it out of the repository's own test run: the tests
start and stop a Spark session of their own and take about two minutes.
One Spark session serves every workload.  Each workload runs once, traced,
and the tests check that the report carries every named end-to-end metric
with its unit, that both result lines carry every contract metric, that the
output checks catch a corrupted pair set, and that a run whose every
operation fails still ends with a result line.
"""

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import run

# Every end-to-end metric each workload reports under its own name.
REPORT_NAMES = {
    "dedup_batch": {"setup_s": "s", "error_rate": "ratio",
                    "driver_peak_rss_mb": "MB", "files_per_s": "1/s",
                    "dup_pair_recall": "ratio"},
    "ann_query": {"setup_s": "s", "error_rate": "ratio",
                  "driver_peak_rss_mb": "MB", "index_build_s": "s",
                  "ivf_build_s": "s", "query_batch_ms_p50": "ms",
                  "query_batch_ms_tail": "ms", "bulk_queries_per_s": "1/s",
                  "ivf_bulk_queries_per_s": "1/s", "ann_recall": "ratio"},
    "incremental_ingest": {"setup_s": "s", "error_rate": "ratio",
                           "driver_peak_rss_mb": "MB", "delta_ms_p50": "ms",
                           "delta_ms_tail": "ms",
                           "incremental_pair_recall": "ratio"},
}

# A per-layer figure each workload's traced run must fill (its layers ran).
EXERCISED = {
    "dedup_batch": ["pipeline.signatures_s", "signatures.busy_s",
                    "bands.candidate_pairs", "verify.pairs_accepted",
                    "cc.clusters", "io.resume_s", "incremental.ingest_s",
                    "shingles.busy_s", "layout.probe_s", "driver.self_s"],
    "ann_query": ["ann.fit_s", "ann.verify_s", "ann.jobs_per_call",
                  "ivf.search_s", "ivf.candidates_per_query", "layout.probe_s"],
    "incremental_ingest": ["incremental.pairs_s", "incremental.touched_buckets",
                           "simhash.busy_s", "io.table_files"],
}


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    environ = dict(os.environ)
    run.prepare_environment(work)
    spark = run.make_session(work, 2)
    yield spark, work
    run.stop_session(spark)
    os.environ.clear()
    os.environ.update(environ)


@pytest.fixture(scope="module")
def outcomes(session):
    spark, work = session
    return {name: run.run_workload(spark, name, seed=3, seconds=1, trace=True,
                                   size="smoke", work=os.path.join(work, name),
                                   nproc=2)
            for name in REPORT_NAMES}


def test_spec_matches_the_tables():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        assert json.load(f) == run.spec()


@pytest.mark.parametrize("name", sorted(REPORT_NAMES))
def test_every_metric_is_emitted_with_its_unit(outcomes, name):
    out = outcomes[name]
    assert out.failed == 0, out.problems
    for metric, unit in REPORT_NAMES[name].items():
        assert metric in out.report, metric
        assert out.report[metric][1] == unit, metric
    assert out.report["error_rate"][0] == 0
    for trace, table in ((False, run.END_TO_END), (True, run.PER_LAYER)):
        line = run.result_line(name, out, trace)
        assert line["correct"] and line["attempted"] >= 1
        assert {n: m["unit"] for n, m in line["metrics"].items()} == \
            {t[0]: t[1] for t in table}
        assert all(isinstance(m["value"], (int, float))
                   for m in line["metrics"].values())
    for metric in EXERCISED[name]:
        assert out.layers.get(metric, 0) > 0, metric


def test_dedup_check_catches_a_corrupted_pair_set(session, tmp_path):
    """A seeded dedup run's outputs pass the checks; the same outputs with
    one true pair swapped for a non-duplicate pair fail them."""
    import workloads

    spark, work = session
    ctx = workloads.Ctx(spark=spark, work=str(tmp_path), seed=5, size="smoke",
                        nproc=2)
    wl = workloads.DedupBatch(ctx)
    wl.fixture()
    wl.setup()
    res = wl._pipeline(wl.src, str(tmp_path / "run"))
    assert wl.check(res) == []

    pairs = pq.read_table(res.tables["pairs"]).to_pylist()
    ids = sorted(wl.sets)
    comp = workloads.oracle.components(ids, wl.truth)
    fake = next((a, b) for a in ids for b in ids
                if a < b and comp[a] != comp[b])
    inter, uni = workloads.oracle.jaccard_counts(wl.sets[fake[0]], wl.sets[fake[1]])
    pairs[0].update(src_id=fake[0], dst_id=fake[1], inter=inter, uni=uni,
                    jaccard=inter / uni)
    bad_dir = tmp_path / "corrupt"
    bad_dir.mkdir()
    pq.write_table(pa.Table.from_pylist(pairs), str(bad_dir / "part-0.parquet"))
    res.tables["pairs"] = str(bad_dir)
    problems = wl.check(res)
    assert any("Jaccard" in p for p in problems), problems
    assert any("cluster" in p for p in problems), problems


def test_a_run_whose_every_operation_fails_still_reports(session, monkeypatch):
    """Every pipeline run fails its checks: the run still ends with both
    result lines, not correct, every timed operation counted as failed and
    the timings it could not measure null."""
    import workloads

    spark, work = session
    monkeypatch.setattr(workloads.DedupBatch, "check",
                        lambda self, res: ["forced failure"])
    out = run.run_workload(spark, "dedup_batch", seed=3, seconds=1, trace=True,
                           size="smoke", work=os.path.join(work, "all-fail"),
                           nproc=2)
    assert out.failed >= 3 and out.report["error_rate"][0] > 0
    for trace in (False, True):
        line = json.loads(json.dumps(run.result_line("dedup_batch", out, trace)))
        assert not line["correct"]
        assert line["attempted"] >= line["failed"] == out.failed
    metrics = run.result_line("dedup_batch", out, False)["metrics"]
    assert metrics["latency_ms_p50"]["value"] is None
    assert metrics["throughput_per_s"]["value"] is None
    assert metrics["setup_s"]["value"] > 0


def test_refuses_to_run_without_the_package(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/, the
    command exits non-zero and prints no result."""
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(run.HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        "dedup_batch", "--seed", "1", "--seconds", "1",
                        "--trace", "0"], cwd=tmp_path, capture_output=True,
                       text=True, timeout=120)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
