"""Table I/O abstraction: Iceberg in production, parquet in this sandbox.

The north rule targets Iceberg tables (atomic snapshot commits, CDC for
the streaming modify-as-new-version case, sort orders for the size-class
pruning). The Iceberg runtime jar is not in this container, so the
functions below select the best available backend at session time and
keep the call sites backend-agnostic.

Production wiring (spark-submit) — generated by :func:`iceberg_submit_args`
so the artifact coordinates stay pinned to the running Spark version:

    --packages org.apache.iceberg:iceberg-spark-runtime-<major.minor>_2.13:1.10.0
    --conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog
    --conf spark.sql.catalog.lake.type=hive   # or rest/glue/hadoop

Then ``append(df, "lake.db.extracted")`` is an atomic Iceberg snapshot,
``read(spark, "lake.db.extracted")`` a snapshot-isolated scan, and
resume-from-snapshot is exactly lineage.resume_filter over the committed
table. A commit is one ``append`` and nothing else: lineage is a grouped
read of the committed rows (lineage.lineage_table), so no writer needs to
know which files its append added.
tests/test_ops.py::test_iceberg_catalog_roundtrip runs the real
append/read/resume path whenever the runtime jar is present (it skips
cleanly in jar-less sandboxes) — ``spark.sql.catalog.*`` confs are
runtime-settable, so the test attaches a hadoop-type catalog to the live
session without a JVM restart.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# The Iceberg Spark catalog plugin class (the probe target AND the value
# of every spark.sql.catalog.<name> conf).
ICEBERG_CATALOG_CLASS = "org.apache.iceberg.spark.SparkCatalog"


def iceberg_submit_args(
    spark_version: str, catalog_name: str = "lake", catalog_type: str = "hive",
    iceberg_version: str = "1.10.0",
) -> list[str]:
    """The spark-submit argv fragment that wires an Iceberg catalog,
    with the runtime artifact derived from the RUNNING Spark version
    (iceberg-spark-runtime is released per Spark minor; a mismatched
    artifact fails at class-load). Kept as code, not prose, so the
    pinned coordinates are testable."""
    major_minor = ".".join(spark_version.split(".")[:2])
    return [
        "--packages",
        f"org.apache.iceberg:iceberg-spark-runtime-{major_minor}_2.13:{iceberg_version}",
        "--conf",
        f"spark.sql.catalog.{catalog_name}={ICEBERG_CATALOG_CLASS}",
        "--conf",
        f"spark.sql.catalog.{catalog_name}.type={catalog_type}",
    ]


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg catalog is configured and the runtime jar is
    on the classpath."""
    try:
        jvm_has_class = (
            spark._jvm.org.apache.spark.util.Utils.classForName(
                ICEBERG_CATALOG_CLASS, False, False
            )
            is not None
        )
    except Exception:
        return False
    if not jvm_has_class:
        return False
    confs = spark.sparkContext.getConf().getAll()
    if any(k.startswith("spark.sql.catalog.") for k, _ in confs):
        return True
    # spark.sql.catalog.* is runtime-settable (CatalogManager resolves
    # plugins lazily) — a catalog attached via spark.conf.set after
    # session start lives in the SQL conf, not the static SparkConf
    return any(
        r["key"].startswith("spark.sql.catalog.")
        for r in spark.sql("SET").collect()
    )


def append(df: DataFrame, target: str) -> None:
    """Append rows to a table: Iceberg ``writeTo(...).append()`` (atomic
    snapshot) when available, parquet append otherwise."""
    if iceberg_available(df.sparkSession):
        df.writeTo(target).append()
    else:
        df.write.mode("append").parquet(target)


def read(spark: SparkSession, target: str) -> DataFrame:
    if iceberg_available(spark):
        return spark.read.table(target)
    return spark.read.parquet(target)


def write_bucketed(
    df: DataFrame, table: str, key: str, buckets: int = 32, sort: bool = True
) -> None:
    """Persist a table hash-bucketed (and optionally sorted) by ``key``.

    Bucketing is the co-located-join primitive at 100 TB: two tables
    bucketed by the same key with the same bucket count join with ZERO
    exchange — each task zips bucket i with bucket i (sorted buckets also
    skip the sort of a sort-merge join). This is how the resume anti-join
    (committed urls vs incoming corpus) and repeated dedup self-joins
    avoid re-shuffling the big side on every run. Iceberg mapping: a
    ``bucket(N, key)`` partition transform on the table spec.

    Uses ``saveAsTable`` (bucketing metadata lives in the session
    catalog; plain ``.parquet(path)`` cannot record it).
    """
    w = df.write.mode("overwrite").format("parquet").bucketBy(buckets, key)
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a table written by :func:`write_bucketed` with its bucketing
    metadata intact (the reader must come from the catalog, not the
    files, or the join planner won't see the bucket spec)."""
    return spark.read.table(table)
