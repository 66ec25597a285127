"""Table I/O abstraction: Iceberg in production, parquet in this sandbox.

The north rule targets Iceberg tables (atomic snapshot commits, CDC for
the streaming modify-as-new-version case, sort orders for the size-class
pruning). The Iceberg runtime jar is not in this container, so the
functions below select the best available backend at session time and
keep the call sites backend-agnostic.

Production wiring (spark-submit). Iceberg releases one runtime artifact
per Spark minor version, so ``<major.minor>`` must be the running Spark's
(``pyspark.__version__``); a mismatched artifact fails at class load. The
catalog class is :data:`ICEBERG_CATALOG_CLASS`, the one
:func:`iceberg_available` probes for:

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
