"""Lineage / metrics + resume (north_rule: per-partition lineage rows,
resumable from the last committed snapshot).

The reference's only lineage is print statements and an email summary
(ref: pypdfocr/pypdfocr.py:340,387,410-438); its resume primitive is the
watcher's processed-set sentinel ``-1``
(ref: pypdfocr/pypdfocr_watcher.py:97-109). Here both are reads of the
one committed table, ``<out_dir>/extracted``:

* ``commit`` — one append per commit: the extraction output, each row
  stamped with the commit's ``run_id``. The extraction runs once, in
  that append. On a real cluster the append is an Iceberg
  ``writeTo(...).append()`` snapshot; parquet + directory convention
  stands in when no Iceberg runtime jar is present. There is no second
  table to lag the data: lineage and resume both read what was appended.
* ``lineage_table`` — lineage as a view: one metrics row per committed
  (run_id, partition) — (run_id, partition_id, doc_count, byte_count,
  failures, wall_ms) — grouped JVM-side (``lineage_rows``, a
  map-side-combinable agg). A row's partition is the write task's index
  in its data file's name.
* ``resume_filter`` — ``left_anti`` join of the input corpus against
  already-committed urls (the EXCEPT-by-key of SURVEY §2.7 O4). The join
  broadcasts when the committed side is small; at scale it's a shuffled
  anti-join that AQE plans.
"""

from __future__ import annotations

import time
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import catalog
from .schema import LINEAGE_SCHEMA


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]


def lineage_rows(committed: DataFrame, partition_id: Column) -> DataFrame:
    """Per-(run, partition) metrics over committed rows, which carry the
    ``run_id`` their commit stamped. ``partition_id`` names each row's
    partition; ``lineage_table`` passes the write task's index parsed
    from each data file's name: the value ``spark_partition_id()`` gave
    the rows in the write job.

    ``wall_ms`` per partition is the rounded sum of the per-row Python
    compute shares measured inside the Arrow stages
    (EXTRACTED_SCHEMA.wall_ms); 0 when that column is null.
    """
    sel = [
        F.col("run_id"),
        partition_id.cast("int").alias("partition_id"),
        F.col("byte_count"),
        F.when(F.col("status") != "ok", F.col("url")).alias("failure_url"),
        F.col("wall_ms").cast("double").alias("row_wall_ms"),
    ]
    return (
        committed.select(*sel)
        .groupBy("run_id", "partition_id")
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.coalesce(F.sum("byte_count"), F.lit(0)).alias("byte_count"),
            F.filter(F.collect_list("failure_url"), lambda x: x.isNotNull()).alias("failures"),
            F.round(F.coalesce(F.sum("row_wall_ms"), F.lit(0.0))).cast("long").alias("wall_ms"),
        )
    )


# The write task's partition index leads every data file name: Spark's
# parquet writer names files ``part-00003-<uuid>-c000...``, Iceberg's
# ``00003-<task>-<uuid>-00001.parquet``.
_FILE_PARTITION = r"^(?:part-)?(\d+)-"

# The committed columns lineage reads. Each read of the committed table
# gives its columns, not inferring them: inference runs a Spark job on
# every read, and a given column the files lack reads as null.
_LINEAGE_READ = "run_id STRING, url STRING, status STRING, byte_count LONG, wall_ms DOUBLE"


def lineage_table(spark: SparkSession, out_dir: str) -> DataFrame:
    """LINEAGE_SCHEMA rows for every commit to ``out_dir``: a grouped read
    of the committed table by ``run_id`` and by the partition in each
    row's data file name. Empty before the first commit."""
    try:
        committed = spark.read.schema(_LINEAGE_READ).parquet(f"{out_dir}/extracted")
    except AnalysisException:  # no commit yet
        return spark.createDataFrame([], LINEAGE_SCHEMA)
    part = F.regexp_extract("_metadata.file_name", _FILE_PARTITION, 1)
    return lineage_rows(committed, part)


def commit(extracted: DataFrame, out_dir: str, run_id: str | None = None) -> dict:
    """Append extraction output, each row stamped with ``run_id``, to
    ``<out_dir>/extracted``; returns commit stats.

    One append per commit: the extraction runs once, in that append, and
    nothing else is written. ``lineage_table`` computes lineage from the
    committed rows when it is read, and ``resume_filter`` skips them.
    """
    run_id = run_id or new_run_id()
    t0 = time.monotonic()
    catalog.append(extracted.withColumn("run_id", F.lit(run_id)), f"{out_dir}/extracted")
    return {"run_id": run_id, "wall_ms": int((time.monotonic() - t0) * 1000)}


def committed_urls(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """Urls already present in the committed output table, or None if no
    snapshot exists yet. Not de-duplicated: the left-anti join that
    reads them does not need it."""
    try:
        return spark.read.schema("url STRING").parquet(f"{out_dir}/extracted")
    except AnalysisException:
        return None


def resume_filter(corpus_df: DataFrame, out_dir: str) -> DataFrame:
    """Drop documents already committed: input LEFT ANTI JOIN committed
    ON url — the resume primitive (SURVEY §2.7 O4)."""
    done = committed_urls(corpus_df.sparkSession, out_dir)
    if done is None:
        return corpus_df
    return corpus_df.join(done, on="url", how="left_anti")
