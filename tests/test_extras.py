"""Tests for stats/scaler (A1-A4), lang-ID, streaming incremental ingest."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from lsh_search_go_spark import synth
from lsh_search_go_spark.config import DedupConfig
from lsh_search_go_spark.functions import stats as ST
from lsh_search_go_spark.functions.langid import lang_id


def test_dim_stats_exact_values(spark):
    """Mirrors TestStats' intent (lsh_test.go:151-213) with exact assertions:
    mean and MAD (the reference's 'std' quirk, helpers.go:44-80) computed
    distributed must equal numpy's."""
    rng = np.random.default_rng(1)
    X = rng.normal(loc=3.0, scale=2.0, size=(500, 6))
    df = spark.createDataFrame([(v.tolist(),) for v in X], "vec array<double>")
    got = {r.dim: r for r in ST.dim_stats(df, "vec").collect()}
    for d in range(6):
        np.testing.assert_allclose(got[d].mean, X[:, d].mean(), rtol=1e-9)
        np.testing.assert_allclose(
            got[d].mad, np.abs(X[:, d] - X[:, d].mean()).mean(), rtol=1e-9
        )
        np.testing.assert_allclose(got[d].stddev, X[:, d].std(), rtol=1e-9)


def test_vector_range(spark):
    df = spark.createDataFrame([([1.0, -7.5],), ([3.0, 2.0],)], "vec array<double>")
    row = ST.vector_range(df, "vec").collect()[0]
    assert row.vmin == -7.5 and row.vmax == 3.0


def test_scaler_and_fallback(spark):
    """Scaler semantics incl. the nil/mismatch fallback
    (helpers.go:158-171: mean=0, std=1)."""
    df = spark.createDataFrame([([2.0, 4.0],), ([4.0, 8.0],)], "vec array<double>")
    got = ST.scale_vectors(df, np.array([2.0, 4.0]), np.array([2.0, 4.0]), 2) \
        .select("scaled").collect()
    assert got[0].scaled == [0.0, 0.0]
    assert got[1].scaled == [1.0, 1.0]
    # fallback: wrong-size mean/std → identity transform
    fb = ST.scale_vectors(df, np.array([1.0]), None, 2).select("scaled").collect()
    assert fb[0].scaled == [2.0, 4.0]
    # zero std → treated as 1
    z = ST.scale_vectors(df, np.zeros(2), np.zeros(2), 2).select("scaled").collect()
    assert z[0].scaled == [2.0, 4.0]


def test_lang_id_on_synth_corpus(spark):
    cfg = DedupConfig(strip_comments=True)
    src = synth.to_spark_df(spark, synth.generate(n_files=150, seed=11))
    pred = lang_id(src, cfg)
    agg = pred.select(
        (F.col("lang_pred") == F.col("lang")).cast("int").alias("hit")
    ).agg(F.avg("hit")).collect()[0][0]
    # path-extension evidence makes this exact on the synth corpus
    assert agg >= 0.99, f"lang-id accuracy {agg}"
    # keyword-only path (no extension evidence) still does well
    kw_only = lang_id(src.drop("path"), cfg)
    acc = kw_only.select(
        (F.col("lang_pred") == F.col("lang")).cast("int").alias("hit")
    ).agg(F.avg("hit")).collect()[0][0]
    assert acc >= 0.6, f"keyword-only lang-id accuracy {acc}"


def test_streaming_incremental_ingest(spark, tmp_path):
    """Drop two file batches into the source dir; the streaming query must
    append signatures+buckets that exactly match the batch pipeline's for the
    same rows (exactly-once per epoch via foreachBatch + checkpoint)."""
    from lsh_search_go_spark.functions import hashing as H
    from lsh_search_go_spark.functions.shingles import with_shingles
    from lsh_search_go_spark.streaming.incremental import start_incremental_ingest

    cfg = DedupConfig(strip_comments=True)
    src_dir = str(tmp_path / "incoming")
    out_dir = str(tmp_path / "index")
    os.makedirs(src_dir)

    c1 = synth.generate(n_files=40, seed=21)
    c2 = synth.generate(n_files=30, seed=22)
    synth.to_parquet(c1, os.path.join(src_dir, "drop1.parquet"))

    q = start_incremental_ingest(spark, src_dir, out_dir, cfg, impl="pandas")
    q.awaitTermination(120)

    synth.to_parquet(c2, os.path.join(src_dir, "drop2.parquet"))
    q2 = start_incremental_ingest(spark, src_dir, out_dir, cfg, impl="pandas")
    q2.awaitTermination(120)

    sigs = spark.read.parquet(os.path.join(out_dir, "signatures"))
    assert sigs.count() == 70
    assert sigs.select("doc_id").distinct().count() == 70

    # signature parity with the batch path for drop1's rows
    batch = with_shingles(
        synth.to_spark_df(spark, c1), cfg, "pandas"
    )
    batch = H.with_minhash_bands(batch, cfg, "pandas")
    exp = {r.doc_id: list(r.minhash) for r in batch.select("doc_id", "minhash").collect()}
    got = {r.doc_id: list(r.minhash)
           for r in sigs.select("doc_id", "minhash").collect() if r.doc_id in exp}
    assert got == exp

    buckets = spark.read.parquet(os.path.join(out_dir, "buckets"))
    assert buckets.count() == 70 * cfg.num_bands


def test_incremental_pairs_cumulative_equals_batch(spark, tmp_path):
    """The streaming freshness story end-to-end (r3 VERDICT task 4): ingest
    one corpus in 3 micro-batch rounds, run the touched-bucket incremental
    pair job after each round, and assert the CUMULATIVE edge set equals the
    one-shot batch pair job over the same corpus — i.e. restricting each
    round to buckets touched since the previous round loses nothing (the
    reference's Train-then-Search freshness contract, lsh/lsh.go:107-136,
    without its full rebuild)."""
    import pandas as pd

    from lsh_search_go_spark.streaming.incremental import (
        incremental_pairs, start_incremental_ingest)

    cfg = DedupConfig(strip_comments=True)
    src_dir = str(tmp_path / "incoming")
    out_dir = str(tmp_path / "index")
    os.makedirs(src_dir)

    # one corpus with planted dup clusters, rows shuffled so clusters SPAN
    # drops (cross-round pairs are the interesting case)
    corpus = synth.generate(n_files=90, seed=33)
    pdf = pd.DataFrame(corpus.rows).sample(frac=1.0, random_state=7)
    drops = [pdf.iloc[0:30], pdf.iloc[30:60], pdf.iloc[60:]]

    cumulative: set[tuple] = set()
    since = None
    for r, drop in enumerate(drops):
        drop.to_parquet(os.path.join(src_dir, f"drop{r}.parquet"), index=False)
        q = start_incremental_ingest(spark, src_dir, out_dir, cfg,
                                     impl="pandas")
        q.awaitTermination(120)
        got = incremental_pairs(spark, out_dir, cfg, since=since)
        round_pairs = {(p.src_id, p.dst_id) for p in got.collect()}
        if since is not None:
            # touched-bucket restriction: every emitted pair involves a doc
            # ingested this round
            new_ids = {
                r2.doc_id
                for r2 in spark.read.parquet(os.path.join(out_dir, "signatures"))
                .filter(F.col("_ingested_at") > F.lit(since))
                .select(F.col(cfg.id_col).alias("doc_id")).collect()
            }
            assert all(s in new_ids or d in new_ids for s, d in round_pairs)
        cumulative |= round_pairs
        since = (spark.read.parquet(os.path.join(out_dir, "signatures"))
                 .agg(F.max("_ingested_at")).head()[0])

    batch = {(p.src_id, p.dst_id)
             for p in incremental_pairs(spark, out_dir, cfg).collect()}
    assert batch, "fixture produced no duplicate pairs — test is vacuous"
    assert cumulative == batch


def test_incremental_pairs_cumulative_equals_batch_simhash(spark, tmp_path):
    """The simhash strategy of the touched-bucket incremental pair job
    (r4 VERDICT task 6), driven by the EPOCH watermark instead of wall-clock
    timestamps (r4 ADVICE: epochs are the checkpoint's own monotone
    micro-batch ids — no tie to straddle): ingest in 3 rounds, pair
    incrementally per round via bit-slice simhash buckets + Hamming verify,
    and assert the cumulative edge set equals the one-shot batch job."""
    import pandas as pd

    from lsh_search_go_spark.streaming.incremental import (
        incremental_pairs, latest_epoch, start_incremental_ingest)

    cfg = DedupConfig(strip_comments=True)
    src_dir = str(tmp_path / "incoming")
    out_dir = str(tmp_path / "index")
    os.makedirs(src_dir)

    corpus = synth.generate(n_files=90, seed=33)
    pdf = pd.DataFrame(corpus.rows).sample(frac=1.0, random_state=7)
    drops = [pdf.iloc[0:30], pdf.iloc[30:60], pdf.iloc[60:]]

    cumulative: set[tuple] = set()
    since = None
    for r, drop in enumerate(drops):
        drop.to_parquet(os.path.join(src_dir, f"drop{r}.parquet"), index=False)
        q = start_incremental_ingest(spark, src_dir, out_dir, cfg,
                                     impl="pandas")
        q.awaitTermination(120)
        got = incremental_pairs(spark, out_dir, cfg, since=since,
                                strategy="simhash")
        round_pairs = {(p.src_id, p.dst_id) for p in got.collect()}
        if since is not None:
            new_ids = {
                r2.doc_id
                for r2 in spark.read.parquet(os.path.join(out_dir, "signatures"))
                .filter(F.col("_epoch") > F.lit(since))
                .select(F.col(cfg.id_col).alias("doc_id")).collect()
            }
            assert all(s in new_ids or d in new_ids for s, d in round_pairs)
        cumulative |= round_pairs
        since = latest_epoch(spark, out_dir)   # quiesced: ingest terminated

    batch = {(p.src_id, p.dst_id)
             for p in incremental_pairs(spark, out_dir, cfg,
                                        strategy="simhash").collect()}
    assert batch, "fixture produced no simhash duplicate pairs — vacuous"
    assert cumulative == batch


def test_plant_exact_dups_string_ids(spark):
    """The exact-dup fixture planter must work for string ids too (r4
    VERDICT task 5): the integral scheme is unchanged, the string scheme
    re-keys a deterministic sha256-selected subset, and unsupported id
    types raise with the fixture contract spelled out."""
    from lsh_search_go_spark.gated import _plant_exact_dups
    from lsh_search_go_spark.operators.exact import exact_dup_pairs

    rows = [(f"doc-{i:04d}", f"content body {i}") for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id string, content string")
    planted = _plant_exact_dups(docs)
    extra = planted.count() - 200
    assert extra > 0, "sha-prefix selection planted nothing at n=200"
    pairs = exact_dup_pairs(planted, "doc_id", "content")
    assert pairs.count() == extra     # each planted copy pairs its original

    # integral ids keep the r4 scheme byte-for-byte
    int_docs = spark.createDataFrame(
        [(i, f"c{i}") for i in range(200)], "doc_id long, content string")
    got = {r.doc_id for r in _plant_exact_dups(int_docs)
           .filter(F.col("doc_id") >= 1_000_000_000).collect()}
    assert got == {1_000_000_000 + i for i in range(0, 200, 97)}

    bad = spark.createDataFrame([(1.5, "x")], "doc_id double, content string")
    with pytest.raises(TypeError, match="no engine-portable re-key"):
        _plant_exact_dups(bad)


# --- substring blocking skew guard (r1 VERDICT #7) ---------------------------

def test_substring_block_cap_license_header(spark):
    """100 docs sharing a license-header prefix: the hot first-shingle
    blocking key must be droppable (capped + reported), and the pass must
    complete without quadratic blowup."""
    from lsh_search_go_spark.functions.shingles import with_shingles
    from lsh_search_go_spark.operators.substring import (oversized_blocks,
                                                         substring_pairs)

    header = "copyright acme corp all rights reserved license apache two"
    rows = [(f"d{i:03d}", f"{header} body{i} unique{i} content{i} here{i}")
            for i in range(100)]
    # plus one genuine containment pair with a distinct prefix
    rows.append(("inner0", "zeta omega kappa special payload words"))
    rows.append(("outer0", "zeta omega kappa special payload words plus trailer text"))
    cfg = DedupConfig()
    df = spark.createDataFrame(rows, "doc_id string, content string")
    sh = with_shingles(df, cfg, "sql")
    exploded = sh.select("doc_id", F.explode("shingles").alias("__sh"))
    hot = oversized_blocks(exploded, 50)
    assert hot.count() > 0, "the shared header must produce hot blocking keys"
    pairs = substring_pairs(sh.withColumn("content", F.col("content")), cfg,
                            max_block_size=50)
    got = {(r.inner_id, r.outer_id) for r in pairs.collect()}
    # the distinct-prefix containment survives the cap
    assert ("inner0", "outer0") in got
    # capped keys may drop header-prefixed pairs — but nothing explodes and
    # no self/equal pairs appear
    assert all(i != o for i, o in got)


def test_substring_cap_disabled_matches_uncapped(spark):
    from lsh_search_go_spark.functions.shingles import with_shingles
    from lsh_search_go_spark.operators.substring import substring_pairs

    rows = [("a", "one two three four five"),
            ("b", "zero one two three four five six"),
            ("c", "unrelated words entirely different tokens")]
    cfg = DedupConfig()
    sh = with_shingles(spark.createDataFrame(rows, "doc_id string, content string"),
                       cfg, "sql")
    capped = {(r.inner_id, r.outer_id)
              for r in substring_pairs(sh, cfg, max_block_size=2000).collect()}
    uncapped = {(r.inner_id, r.outer_id)
                for r in substring_pairs(sh, cfg, max_block_size=0).collect()}
    assert capped == uncapped == {("a", "b")}


# --- bytes-aware driver-CC budget (r1 VERDICT #8) ----------------------------

def test_cc_driver_budget_is_width_aware(spark):
    from lsh_search_go_spark.operators.cc import _driver_row_budget

    num = spark.createDataFrame([(1, 2)], "src_id long, dst_id long")
    strs = spark.createDataFrame([("a" * 64, "b" * 64)],
                                 "src_id string, dst_id string")
    b_num = _driver_row_budget(num, 64 << 20)
    b_str = _driver_row_budget(strs, 64 << 20)
    assert b_num == (64 << 20) // 300
    assert b_str == (64 << 20) // 900
    assert b_str < b_num
    # budget shrinks with the byte budget
    assert _driver_row_budget(strs, 1 << 20) < b_str


# --- HDF5 ingestion wiring (reference S1/S2; h5py absent in sandbox) --------

def test_hdf5_ingestion_with_fake_module(tmp_path):
    """The conversion path is exercised with an in-memory stand-in for h5py
    (the real library is optional); outputs must mirror
    PrepHdf5BenchDataset's tables."""
    import numpy as np
    import pandas as pd

    from lsh_search_go_spark.sources import hdf5 as H5

    rng = np.random.default_rng(0)
    data = {
        "train": rng.normal(size=(20, 4)).astype(np.float32),
        "test": rng.normal(size=(5, 4)).astype(np.float32),
        "neighbors": rng.integers(0, 20, size=(5, 3)).astype(np.int32),
        "distances": rng.random(size=(5, 3)).astype(np.float32),
    }

    class FakeFile(dict):
        def __init__(self, *_a, **_k):
            super().__init__(data)
        def __enter__(self):
            return self
        def __exit__(self, *a):
            return False

    class FakeH5py:
        File = FakeFile

    paths = H5.dataset_to_parquet("ignored.hdf5", str(tmp_path), h5py_mod=FakeH5py)
    train = pd.read_parquet(paths["train"])
    assert len(train) == 20 and len(train.vec.iloc[0]) == 4
    gt = pd.read_parquet(paths["ground_truth"])
    assert list(gt.columns) == ["query_id", "rank", "neighbor_id", "dist"]
    assert len(gt) == 15 and gt["rank"].max() == 3
    assert gt[gt.query_id == 0].neighbor_id.tolist() == data["neighbors"][0].tolist()


def test_hdf5_missing_dependency_is_explicit():
    import pytest as _pytest

    from lsh_search_go_spark.sources import hdf5 as H5

    with _pytest.raises(NotImplementedError, match="h5py"):
        H5._require_h5py()


# --- watermarked window aggregation (streaming/windows.py) -------------------

def test_windowed_stats_batch_matches_manual(spark, sf_dir):
    from lsh_search_go_spark.streaming.windows import windowed_event_stats

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    got = windowed_event_stats(ev, "10 minutes", watermark=None)
    n = got.agg(F.sum("n_events")).collect()[0][0]
    assert n == ev.count(), "every event lands in exactly one window"


def test_windowed_stats_watermark_drops_late_events(spark, tmp_path):
    """Append-mode + watermark: a window is emitted once final, and events
    later than the watermark are dropped — demonstrated across two
    checkpointed streaming runs over a file source."""
    import datetime as dt

    from lsh_search_go_spark.streaming.windows import start_windowed_stats_stream

    src = tmp_path / "events_src"
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    schema = "event_id long, ts timestamp, event_type string, value double"
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def write_file(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite").parquet(str(src / name))

    # run 1: events up to 01:00 → watermark advances to 00:55 (5 min)
    write_file("f1", [(1, t0 + dt.timedelta(minutes=10), "a", 1.0),
                      (2, t0 + dt.timedelta(minutes=12), "a", 2.0),
                      (3, t0 + dt.timedelta(minutes=60), "a", 3.0)])
    sink = str(tmp_path / "sink")
    q1 = start_windowed_stats_stream(spark, str(src / "*"), ckpt, schema, sink,
                                     "10 minutes", "5 minutes")
    q1.awaitTermination(120)
    run1 = {(r.window_start.minute, r.n_events)
            for r in spark.read.parquet(sink).collect()}
    # the 00:10 window is final (watermark 00:55) and emitted with both events
    assert (10, 2) in run1

    # run 2: one LATE event (00:11 < watermark) + one new + one flush
    write_file("f2", [(4, t0 + dt.timedelta(minutes=11), "a", 9.0),   # late → dropped
                      (5, t0 + dt.timedelta(minutes=65), "a", 4.0),
                      (6, t0 + dt.timedelta(minutes=90), "a", 5.0)])  # flush
    q2 = start_windowed_stats_stream(spark, str(src / "*"), ckpt, schema, sink,
                                     "10 minutes", "5 minutes")
    q2.awaitTermination(120)
    run2 = {(r.window_start.minute, r.n_events)
            for r in spark.read.parquet(sink).collect()} - run1
    # the late event's window (00:10) must NOT re-emit or include event 4
    assert not any(m == 10 for m, _ in run2), f"late event leaked: {run2}"
    # the 01:00 window finalizes (watermark 01:25) with events 3 and 5 only
    assert (0, 2) in run2, f"expected finalized 01:00 window, got {run2}"


def test_windowed_stats_value_col_optional(spark, sf_dir):
    """value_col is parameterized: frames without a 'value' column aggregate
    counts only instead of throwing AnalysisException (r2 ADVICE)."""
    from lsh_search_go_spark.streaming.windows import windowed_event_stats

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    no_value = ev.drop("value")
    got = windowed_event_stats(no_value, "10 minutes", watermark=None)
    assert "total_value" not in got.columns
    assert got.agg(F.sum("n_events")).collect()[0][0] == ev.count()
    # explicit value_col still works
    renamed = ev.withColumnRenamed("value", "amount")
    got2 = windowed_event_stats(renamed, "10 minutes", watermark=None,
                                value_col="amount")
    assert "total_value" in got2.columns


def test_windowed_stream_refuses_changed_window_config(spark, tmp_path,
                                                       count_jobs):
    """A stale checkpoint + a different window size must fail loudly —
    Spark itself cannot detect the change (identical state schema) and
    would silently mix old- and new-width windows (r2 VERDICT task 8)."""
    import datetime as dt

    import pytest as _pytest

    from lsh_search_go_spark.streaming.windows import (
        _guard_window_config, start_windowed_stats_stream)

    src = tmp_path / "events_src"
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    schema = "event_id long, ts timestamp, event_type string, value double"
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    spark.createDataFrame([(1, t0, "a", 1.0)], schema).coalesce(1).write.mode(
        "overwrite").parquet(str(src / "f1"))
    sink = str(tmp_path / "sink")
    q1 = start_windowed_stats_stream(spark, str(src / "*"), ckpt, schema, sink,
                                     "10 minutes", "5 minutes")
    q1.awaitTermination(120)

    with _pytest.raises(ValueError, match="window state"):
        start_windowed_stats_stream(spark, str(src / "*"), ckpt, schema, sink,
                                    "15 minutes", "5 minutes")
    with _pytest.raises(ValueError, match="window state"):
        start_windowed_stats_stream(spark, str(src / "*"), ckpt, schema, sink,
                                    "10 minutes", "30 minutes")

    # unchanged config resumes fine
    q2 = start_windowed_stats_stream(spark, str(src / "*"), ckpt, schema, sink,
                                     "10 minutes", "5 minutes")
    q2.awaitTermination(120)
    # and the check of an existing checkpoint's config starts no Spark job
    assert count_jobs(lambda: _guard_window_config(
        spark, ckpt, "10 minutes", "5 minutes")) == 0
