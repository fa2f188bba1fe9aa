"""Watermarked event-time window aggregation (Structured Streaming idiom).

The ingestion-monitoring side of the pipeline: as corpus drops stream in,
per-window counts/volumes per event type feed the lineage/metrics tables
(N7) without a batch recompute.  Late events beyond the watermark are
DROPPED by the engine — the deterministic, documented alternative to
unbounded state growth.

The same plan works on a batch DataFrame (window() is an ordinary grouping
expression there), which is what the DuckDB-gated ``event_window_stats``
query checks: the streaming aggregation and the batch aggregation are the
same logical plan, differing only in source and output mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# sentinel distinguishing "caller didn't specify value_col" (optional
# 'value' column, silently counts-only if absent) from an EXPLICIT
# value_col="value" (must exist or raise) — string-matching the name would
# leave the silent-fallback hole open for users whose column IS 'value'
_DEFAULT_VALUE_COL = object()


def windowed_event_stats(events: DataFrame, window: str = "10 minutes",
                         watermark: str | None = "30 minutes",
                         ts_col: str = "ts",
                         type_col: str = "event_type",
                         value_col=_DEFAULT_VALUE_COL) -> DataFrame:
    """(window_start, window_end, event_type, n_events[, total_value]).

    With ``watermark`` set and a streaming source, append-mode output emits a
    window only once it is final (watermark passed) and silently drops events
    later than the watermark — exactly-once per window.  Pass
    ``watermark=None`` for batch use (watermarks are streaming-only state
    bounds; on a batch plan the call is a no-op anyway).

    ``value_col`` names the numeric column summed into ``total_value``; pass
    ``None`` (or leave the default on a frame without a 'value' column) to
    emit counts only.  The missing-column fallback applies ONLY to the
    unspecified default — any explicitly passed column (including
    ``"value"`` itself) that does not exist raises instead of silently
    dropping ``total_value`` from the schema (r3 ADVICE: a typo like
    ``value_col='vlaue'`` — or an upstream rename — must not change the
    output contract)."""
    df = events
    if watermark is not None and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    if value_col is _DEFAULT_VALUE_COL:
        value_col = "value" if "value" in df.columns else None
    elif value_col is not None and value_col not in df.columns:
        raise ValueError(
            f"value_col {value_col!r} not found in input columns "
            f"{df.columns}; pass value_col=None for counts-only output")
    aggs = [F.count(F.lit(1)).alias("n_events")]
    out_cols = [F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                type_col, "n_events"]
    if value_col is not None:
        aggs.append(F.sum(value_col).alias("total_value"))
        out_cols.append("total_value")
    return (
        df.groupBy(F.window(ts_col, window).alias("w"), F.col(type_col))
        .agg(*aggs)
        .select(*out_cols)
    )


def _guard_window_config(spark, checkpoint_dir: str, window: str,
                         watermark: str) -> None:
    """Persist (window, watermark) next to the checkpoint and refuse to
    restart with different values.  Spark CANNOT detect a changed window
    duration across a restart — the window-struct state schema is identical,
    so stale state from the old window size would silently mix with new
    windows in the same sink.  The config is a one-row JSON dataset in
    ``<checkpoint_dir>/_window_config`` (``io.write_meta``/``read_meta``):
    it works on HDFS/S3, and a restart's check starts no Spark job."""
    from lsh_search_go_spark.sources import io

    cfg_path = checkpoint_dir.rstrip("/") + "/_window_config"
    jpath = spark._jvm.org.apache.hadoop.fs.Path(cfg_path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(jpath):
        cfg = io.read_meta(spark, cfg_path)
        if (cfg["window"], cfg["watermark"]) != (window, watermark):
            raise ValueError(
                f"checkpoint at {checkpoint_dir!r} was written with "
                f"window={cfg['window']!r} watermark={cfg['watermark']!r}; "
                f"restarting with window={window!r} watermark={watermark!r} "
                "would silently mix window state — use a fresh checkpoint "
                "dir (and sink) to change the window config")
    else:
        # A checkpoint that already carries streaming state (offsets/ exists)
        # but predates this guard has an UNKNOWN window config — adopting the
        # current one would bless exactly the stale-state mix the guard is
        # for (r3 ADVICE).  Refuse; the operator must either re-create the
        # checkpoint or write _window_config by hand after verifying.
        offsets = spark._jvm.org.apache.hadoop.fs.Path(
            checkpoint_dir.rstrip("/") + "/offsets")
        if fs.exists(offsets):
            raise ValueError(
                f"checkpoint at {checkpoint_dir!r} contains streaming state "
                "but no _window_config marker — its window/watermark config "
                "is unknown, so resuming could silently mix differently-"
                "sized window state; use a fresh checkpoint dir, or write "
                "the _window_config dataset manually if the old config is "
                "known to match")
        io.write_meta(spark, cfg_path,
                      {"window": window, "watermark": watermark})


def start_windowed_stats_stream(spark, source_dir: str, checkpoint_dir: str,
                                schema: str, sink_dir: str,
                                window: str = "10 minutes",
                                watermark: str = "30 minutes"):
    """File-source → append-mode parquet sink (fault-tolerant: the watermark
    state lives in the checkpoint, so a restarted query keeps dropping events
    older than the recovered watermark).  Refuses to resume a checkpoint
    written with a different window/watermark config (see
    :func:`_guard_window_config`).  Returns the StreamingQuery."""
    _guard_window_config(spark, checkpoint_dir, window, watermark)
    stream = spark.readStream.schema(schema).parquet(source_dir)
    agg = windowed_event_stats(stream, window, watermark)
    return (
        agg.writeStream.outputMode("append")
        .format("parquet").option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
