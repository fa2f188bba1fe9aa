"""Table I/O: Iceberg-when-available, Parquet otherwise, plus stage
checkpoint bookkeeping.

The target spec names Iceberg tables; this sandbox has no Iceberg jars, so the
writer selects ``format("iceberg")`` only when a catalog is configured on the
session and otherwise writes plain Parquet paths with ``_SUCCESS`` markers —
the resume contract is identical either way (a stage is complete iff its
output committed atomically).

Stage bookkeeping runs no Spark job: :func:`committed_rows` counts a stage
from the footers of the files it committed, :func:`committed_schema` reads
the schema Spark wrote there, and :func:`write_lineage` writes the
per-partition counts with pyarrow.

The ANN serving stores (the forest's bucket store and IVF's list store) are
written by :func:`write_store`, and their meta is read and checked by
:func:`read_store_meta` on the driver, so a store read starts no Spark job
of its own.

Reference analog of the model/stage persistence: gob ``dump``/``load`` of the
hasher (/root/reference/lsh/hasher.go:221-251) — generalized to every pipeline
stage, keyed by the config hash so a config change never resumes stale data.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections import Counter
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def iceberg_available(spark: SparkSession) -> bool:
    """True iff an Iceberg catalog is configured on this session."""
    conf = spark.conf
    try:
        for key in ("spark.sql.catalog.spark_catalog", "spark.sql.catalog.local"):
            try:
                if "iceberg" in (conf.get(key) or "").lower():
                    return True
            except Exception:
                continue
    except Exception:
        pass
    return False


def _iceberg(spark: SparkSession, path: str) -> bool:
    """A table name goes to the Iceberg catalog; a filesystem path is Parquet."""
    return iceberg_available(spark) and not path.startswith("/")


def write_table(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write a stage output.  ``Store.Clear()`` analog
    (/root/reference/store/store.go:17) = overwrite mode."""
    if _iceberg(df.sparkSession, path):  # pragma: no cover - no jars in sandbox
        writer = df.writeTo(path)
        if mode == "overwrite":
            writer.createOrReplace()
        else:
            writer.append()
        return
    df.write.mode(mode).parquet(path)


def read_table(spark: SparkSession, path: str,
               schema: StructType | None = None) -> DataFrame:
    """``schema``: the schema the table was written with.  Passing it skips
    Parquet schema inference (a Spark job), and a table with no data file
    reads back as empty instead of failing."""
    if _iceberg(spark, path):  # pragma: no cover
        return spark.read.format("iceberg").load(path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def _partition_id(file_name: str) -> int:
    """The write task's number: ``part-00003-<uuid>-c000.snappy.parquet`` (Spark
    Parquet) or ``00003-<attempt>-<uuid>-00001.parquet`` (Iceberg) → 3."""
    return int(file_name.removeprefix("part-").split("-", 1)[0])


def committed_rows(spark: SparkSession, path: str) -> list[tuple[int, int]]:
    """``(partition_id, rows)`` per write task of a committed table, sorted by
    partition id.  Read from the Parquet footers on the driver (or from
    Iceberg's ``files`` metadata table), so it runs no scan of the data."""
    counts: Counter = Counter()
    if _iceberg(spark, path):  # pragma: no cover - no jars in sandbox
        files = (spark.read.format("iceberg").load(f"{path}.files")
                 .select("file_path", "record_count").collect())
        for f in files:
            counts[_partition_id(os.path.basename(f.file_path))] += f.record_count
    else:
        # dataset discovery skips ``_SUCCESS`` and other ``_``/``.`` files
        for frag in pads.dataset(path, format="parquet").get_fragments():
            counts[_partition_id(os.path.basename(frag.path))] += frag.count_rows()
    return sorted(counts.items())


SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def committed_schema(path: str) -> StructType | None:
    """The schema Spark wrote into the footer of a committed Parquet table's
    first data file (key :data:`SPARK_SCHEMA_KEY`), read on the driver, so
    a resumed stage is read back without a schema-inference job.  ``None``
    when there is no data file or the file was not written by Spark."""
    frag = next(iter(pads.dataset(path, format="parquet").get_fragments()),
                None)
    raw = None if frag is None else (frag.metadata.metadata or {}).get(
        SPARK_SCHEMA_KEY)
    return None if raw is None else StructType.fromJson(json.loads(raw))


def write_lineage(path: str, stage: str, parts: list[tuple[int, int]]) -> None:
    """Replace the lineage table at ``path`` with one ``(stage, partition_id,
    rows)`` row per entry of ``parts``: one Parquet file plus ``_SUCCESS``."""
    table = pa.table({
        "stage": pa.array([stage] * len(parts), pa.string()),
        "partition_id": pa.array([p for p, _ in parts], pa.int32()),
        "rows": pa.array([n for _, n in parts], pa.int64()),
    })
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))
    open(os.path.join(path, "_SUCCESS"), "w").close()


def write_meta(spark: SparkSession, path: str, meta: dict) -> None:
    """Replace the one-row JSON dataset at ``path`` with ``meta``, written
    through Spark so that it works on any Hadoop filesystem."""
    (spark.createDataFrame(pa.table({k: [v] for k, v in meta.items()}))
     .coalesce(1).write.mode("overwrite").json(path))


def read_meta(spark: SparkSession, path: str) -> dict:
    """The row :func:`write_meta` wrote at ``path``, read through the Hadoop
    ``FileSystem`` API on the driver: no Spark job, any Hadoop filesystem.
    Raises ``ValueError`` naming ``path`` unless it holds exactly one
    ``part-*`` file; I/O errors propagate."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        raise ValueError(f"no meta at {path!r}")
    parts = [st.getPath() for st in fs.listStatus(jpath)
             if st.getPath().getName().startswith("part-")]
    if len(parts) != 1:
        raise ValueError(f"meta at {path!r} has {len(parts)} part-* files")
    stream = fs.open(parts[0])
    try:
        return json.loads(bytes(stream.readAllBytes()).decode("utf-8"))
    finally:
        stream.close()


def _store_meta_path(path: str) -> str:
    return path.rstrip("/") + "/_store_meta"


def write_store(df: DataFrame, path: str, partition_cols: list[str],
                meta: dict) -> None:
    """Replace the serving store at ``path``: ``df`` partitioned by
    ``partition_cols``, one file per partition directory, and ``meta`` in
    ``<path>/_store_meta`` (hidden from the Parquet scan by its leading
    underscore).  ``partitionOverwriteMode`` is pinned to ``static``: under
    a session-level ``dynamic`` default, a re-layout to fewer partitions
    would leave stale directories that a pruned read still selects."""
    (df.repartition(*partition_cols)
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "static")
     .partitionBy(*partition_cols)
     .parquet(path))
    write_meta(df.sparkSession, _store_meta_path(path), meta)


def read_store_meta(spark: SparkSession, path: str, what: str, key: str,
                    fingerprint: str) -> dict:
    """The meta of the :func:`write_store` store at ``path``.  A store only
    answers correctly for the ``what`` (model, quantizer) that built it, so
    unless its meta's ``key`` equals ``fingerprint``, the fingerprint of the
    caller's ``what``, this raises ``ValueError``: also for a store with no
    meta or no ``key``, which cannot be checked."""
    meta = read_meta(spark, _store_meta_path(path))
    stored = meta.get(key)
    if stored is None:
        raise ValueError(f"store at {path!r} has no {key} in its meta, so "
                         f"the probe {what} cannot be checked; rebuild it")
    if stored != fingerprint:
        raise ValueError(
            f"{what} mismatch: store at {path!r} was built with {what} "
            f"{stored} but the probe {what} is {fingerprint}, which would "
            f"silently miss rows; rebuild the store or load the original "
            f"{what}")
    return meta


def stage_complete(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


@dataclass
class StageResult:
    name: str
    path: str
    rows: int
    seconds: float
    resumed: bool


def write_manifest(workdir: str, config_hash: str, stages: list[StageResult],
                   extra: dict | None = None) -> str:
    manifest = {
        "config_hash": config_hash,
        "written_at_unix": int(time.time()),
        "stages": [vars(s) for s in stages],
        **(extra or {}),
    }
    path = os.path.join(workdir, "manifest.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=2)
    os.replace(tmp, path)
    return path
