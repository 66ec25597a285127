"""Filing sinks (SURVEY §2.2 / §2.10) — the reference's directory filer
(``move_to_matching_folder`` / ``file_original``,
ref: pypdfocr/pypdfocr_filer.py:17-105, pypdfocr/pypdfocr_filer_dirs.py)
over the routed DataFrame:

* K2 directory filer  → :class:`DirsSink` — routing is a *column*, so the
  per-file ``shutil.move`` + mkdir-p disappears into
  ``partitionBy(route)``; the ``_1/_2`` name-uniquify probe loop
  (ref: pypdfocr/pypdfocr_filer.py:52-65) becomes a ``row_number`` window.
* K3 original-move filer → :func:`original_move_manifest`.

The reference's Evernote filer and email summary have no counterpart:
this engine's output is the extracted-text table and the folders it is
routed to.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def original_move_manifest(
    extracted: DataFrame, original_move_folder: str | None
) -> DataFrame:
    """K3: the original-move filer as data. The reference physically
    ``shutil.move``s the source PDF into ``original_move_folder``,
    uniquifying the basename by appending a version integer
    (ref: pypdfocr/pypdfocr_filer_dirs.py:37-48 +
    pypdfocr/pypdfocr_filer.py:52-65). The corpus table is immutable, so
    the Spark-first form is a *manifest*: one row per document with its
    post-move location (url, moved_to); ``moved_to = url`` when no move
    folder is configured (the reference's leave-untouched branch,
    ref :39-41). A deployment applies the manifest with its object-store
    rename API (S3 copy+delete / HDFS rename) — or snapshots it into an
    Iceberg table column.
    """
    if not original_move_folder:
        return extracted.select("url", F.col("url").alias("moved_to"))
    basename = F.regexp_extract(F.col("url"), r"([^/]+)$", 1)
    stem = F.regexp_extract(basename, r"^(.*?)(\.[A-Za-z0-9]+)?$", 1)
    ext = F.regexp_extract(basename, r"(\.[A-Za-z0-9]+)?$", 1)
    w = Window.partitionBy(basename).orderBy("url")
    seq = F.row_number().over(w) - 1
    uniq = F.concat(
        stem,
        F.when(seq == 0, F.lit("")).otherwise(F.concat(F.lit("_"), seq.cast("string"))),
        ext,
    )
    return extracted.select(
        "url",
        F.concat(F.lit(original_move_folder.rstrip("/") + "/"), uniq).alias("moved_to"),
    )


class DirsSink:
    """K2: write route-partitioned parquet with uniquified artifact names.

    ``artifact_name`` reproduces the reference's collision policy: the
    first file keeps its basename, later ones get ``_1``, ``_2``, …
    (ref: pypdfocr/pypdfocr_filer.py:52-65), deterministically ordered by
    url instead of filesystem probe order.
    """

    def write(self, extracted: DataFrame, out_dir: str) -> None:
        self.with_artifact_names(extracted).write.mode("overwrite").partitionBy(
            "route"
        ).parquet(out_dir)

    @staticmethod
    def with_artifact_names(extracted: DataFrame) -> DataFrame:
        basename = F.regexp_extract(F.col("url"), r"([^/]+?)(?:\.[a-z]+)?$", 1)
        w = Window.partitionBy("route", basename).orderBy("url")
        seq = F.row_number().over(w) - 1
        return extracted.withColumn(
            "artifact_name",
            F.concat(
                basename,
                F.when(seq == 0, F.lit("")).otherwise(
                    F.concat(F.lit("_"), seq.cast("string"))
                ),
                F.lit("_ocr.pdf"),
            ),
        )
