"""SparkSession factory and testdata loading.

Mirrors the *semantics* of the reference's session factory
(``src/processor/spark_session.py:97-199``: Iceberg extensions, REST
catalog, S3FileIO, dynamic partition overwrite) but built for a
local-first, catalog-optional engine.  Iceberg/S3 configs are applied
only when explicitly requested so the engine runs on any Spark install;
tests and the correctness harness use plain parquet tables.

Scale posture (100 TB): AQE on (runtime re-planning + skew-join
handling + partition coalescing), explicit shuffle-partition sizing,
Arrow for any Python boundary, UTC session time zone for deterministic
event-time semantics.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: every driver-provided synthetic table (see /root/repo/TESTDATA.md)
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(
    app_name: str = "lakehouse-cdc-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    with_iceberg: bool = False,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Replaces the reference's ``create_iceberg_spark_session``
    (``src/processor/spark_session.py:97-199``).  Key deviations, all
    deliberate:

    - AQE enabled (the reference runs stock ``local[*]`` with no
      tuning): runtime shuffle-partition coalescing and skew-join
      splitting are the single biggest win for unknown data shapes at
      100 TB.
    - ``spark.sql.session.timeZone=UTC`` so event-time results are
      machine-independent.
    - Iceberg catalog/extension configs are opt-in (``with_iceberg``)
      instead of hard-required, so the relational engine runs anywhere.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.sql.session.timeZone", "UTC")
        # Deliberate session-wide default: the testdata `events` parquet
        # stores TIMESTAMP(NANOS), which Spark's reader rejects outright.
        # Reading nanos as long (then rebuilding µs timestamps) is the
        # engine's contract for ALL nanos parquet — see plans/registry.py
        # table(), which also sets it at runtime for foreign sessions.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # dynamic partition overwrite, as the reference sets for its
        # Iceberg writes (src/processor/spark_session.py:168-169)
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # streaming checkpoints commit through FileSystem, not the
        # default FileContext manager: its rename stats source and
        # destination with getFileLinkStatus, which a local filesystem
        # without the native Hadoop library (pip PySpark ships none)
        # answers by forking a `readlink` process — 24 forks per
        # micro-batch.  FileSystem.rename is atomic on a local disk
        # (rename(2)) and on HDFS, and the manager keeps the
        # no-overwrite contract by checking `exists` first, under
        # Spark's one-writer-per-checkpoint rule.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
    )
    if with_iceberg:
        # parity with src/processor/spark_session.py:103-169 — a local
        # hadoop catalog stands in for the REST catalog + S3FileIO; in
        # production the same four confs point at REST/S3.
        warehouse = os.environ.get("LAKEHOUSE_WAREHOUSE", "/tmp/lakehouse_warehouse")
        builder = (
            builder.config(
                "spark.sql.extensions",
                "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
            )
            .config("spark.sql.catalog.iceberg", "org.apache.iceberg.spark.SparkCatalog")
            .config("spark.sql.catalog.iceberg.type", "hadoop")
            .config("spark.sql.catalog.iceberg.warehouse", warehouse)
        )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


def load_tables(
    spark: SparkSession,
    sf_dir: str = DEFAULT_SF_DIR,
    register: bool = True,
) -> dict[str, DataFrame]:
    """Load every testdata parquet table under ``sf_dir``.

    Returns ``{name: DataFrame}``; with ``register=True`` each table is
    also exposed as a temp view so SQL-form operators (the reference
    drives its MERGE through ``createOrReplaceTempView`` +
    ``spark.sql``, ``src/processor/spark_batch.py:263-280``) can refer
    to it by name.
    """
    from lakehouse_cdc_spark.plans.registry import table as read_table

    out: dict[str, DataFrame] = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = read_table(spark, sf_dir, name)
            out[name] = df
            if register:
                df.createOrReplaceTempView(name)
    return out
