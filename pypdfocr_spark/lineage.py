"""Lineage / metrics + resume (north_rule: per-partition lineage rows,
resumable from the last committed snapshot).

The reference's only lineage is print statements and an email summary
(ref: pypdfocr/pypdfocr.py:340,387,410-438); its resume primitive is the
watcher's processed-set sentinel ``-1``
(ref: pypdfocr/pypdfocr_watcher.py:97-109). Here both become data:

* ``lineage_rows`` — one metrics row per physical partition of the
  extraction output: (run_id, partition_id, doc_count, byte_count,
  failures, wall_ms), computed with JVM-side aggregation (groupBy on
  the partition id — a map-side-combinable agg).
* ``commit`` — append results, then lineage, to two tables. The
  extraction runs once, in the first append; the lineage rollup reads
  back exactly the data files that append added through
  ``append_read_back``, which ``webtext.crawl_commit`` shares (explicit
  versions, not a re-run of a plan the append has changed), and takes
  each row's partition from its file's name. On a real cluster the appends are
  Iceberg ``writeTo(...).append()`` snapshots; parquet + directory
  convention stands in when no Iceberg runtime jar is present.
  Two assumptions: one committer per output directory (the parquet
  backend diffs directory listings to find the added files), and a
  two-append window — data first, then lineage — in which a crash leaves
  committed documents without lineage rows. Resume is unaffected by that
  window: it reads the data table.
* ``resume_filter`` — ``left_anti`` join of the input corpus against
  already-committed urls (the EXCEPT-by-key of SURVEY §2.7 O4). The join
  broadcasts when the committed side is small; at scale it's a shuffled
  anti-join that AQE plans.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .schema import LINEAGE_SCHEMA


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]


def lineage_rows(
    extracted: DataFrame, run_id: str, partition_id: Column, wall_ms: int = 0
) -> DataFrame:
    """Per-partition metrics over extraction output rows.

    ``partition_id`` names each row's partition. ``commit`` passes the
    write task's index parsed from each written file's name: the value
    ``spark_partition_id()`` gives the rows in the write job.

    ``wall_ms`` per partition is the sum of the per-row Python compute
    shares measured inside the Arrow stages (EXTRACTED_SCHEMA.wall_ms);
    the caller's job-level wall is the fallback when the column is absent.
    """
    wall_col = (
        F.round(F.coalesce(F.sum("row_wall_ms"), F.lit(float(wall_ms)))).cast("long")
        if "wall_ms" in extracted.columns
        else F.lit(wall_ms).cast("long")
    )
    sel = [
        partition_id.cast("int").alias("partition_id"),
        F.col("byte_count"),
        F.when(F.col("status") != "ok", F.col("url")).alias("failure_url"),
    ]
    if "wall_ms" in extracted.columns:
        sel.append(F.col("wall_ms").alias("row_wall_ms"))
    return (
        extracted.select(*sel)
        .groupBy("partition_id")
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.coalesce(F.sum("byte_count"), F.lit(0)).alias("byte_count"),
            F.filter(F.collect_list("failure_url"), lambda x: x.isNotNull()).alias("failures"),
            wall_col.alias("wall_ms"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            F.col("partition_id"),
            F.col("doc_count"),
            F.col("byte_count"),
            F.col("failures"),
            F.col("wall_ms"),
        )
    )


# The write task's partition index leads every data file name: Spark's
# parquet writer names files ``part-00003-<uuid>-c000...``, Iceberg's
# ``00003-<task>-<uuid>-00001.parquet``.
_FILE_PARTITION = r"^(?:part-)?(\d+)-"
# the only columns lineage_rows reads back from the committed files
_ROLLUP_COLUMNS = ("url", "status", "byte_count", "wall_ms")


def append_read_back(
    df: DataFrame, target: str, columns: tuple[str, ...]
) -> DataFrame | None:
    """Append ``df`` to ``target``, then read back exactly the data files
    that append added (``catalog.append`` returns them), with only
    ``columns``. None when the append added no file (reading no paths
    raises).

    The plan behind ``df`` runs once, in the append. A rollup over the
    returned frame reads committed files; it never re-runs a plan that
    the append may have changed.
    """
    from . import catalog

    added = catalog.append(df, target)
    if not added:
        return None
    narrow = StructType([f for f in df.schema if f.name in columns])
    return df.sparkSession.read.schema(narrow).parquet(*added)


def commit(extracted: DataFrame, out_dir: str, run_id: str | None = None) -> dict:
    """Append extraction output, then its lineage; returns commit stats.

    The extraction runs once, in the append to ``<out_dir>/extracted``.
    The lineage rollup then reads back only the data files that append
    added, and only the narrow columns it aggregates
    (``append_read_back``). It never re-runs the extraction plan: a
    resume plan scans ``<out_dir>/extracted`` through ``resume_filter``'s
    anti-join, so re-running it after the append would drop every url
    just written. Each row's partition is the write task's index in its
    file's name.

    Assumes one committer per ``out_dir``, as resume does: the parquet
    backend finds the added files by listing the directory before and
    after the append. The two appends are not atomic. A crash between
    them leaves documents without lineage rows; resume still skips those
    documents, because it reads the extracted table, not the lineage.
    On Iceberg each append is its own atomic snapshot.
    """
    from . import catalog

    run_id = run_id or new_run_id()
    t0 = time.monotonic()
    written = append_read_back(extracted, f"{out_dir}/extracted", _ROLLUP_COLUMNS)
    wall_ms = int((time.monotonic() - t0) * 1000)
    if written is not None:  # an append that adds no file has no lineage
        part = F.regexp_extract("_metadata.file_name", _FILE_PARTITION, 1)
        catalog.append(
            lineage_rows(written, run_id, part, wall_ms),
            f"{out_dir}/lineage",
        )
    return {"run_id": run_id, "wall_ms": wall_ms}


def committed_urls(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """Urls already present in the committed output table, or None if no
    snapshot exists yet."""
    try:
        return spark.read.parquet(f"{out_dir}/extracted").select("url").distinct()
    except Exception:
        return None


def resume_filter(corpus_df: DataFrame, out_dir: str) -> DataFrame:
    """Drop documents already committed: input LEFT ANTI JOIN committed
    ON url — the resume primitive (SURVEY §2.7 O4)."""
    done = committed_urls(corpus_df.sparkSession, out_dir)
    if done is None:
        return corpus_df
    return corpus_df.join(done, on="url", how="left_anti")
