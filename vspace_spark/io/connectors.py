"""Lakehouse/external connectors — gated behind import/classpath
probes (the jars are not in this container; SURVEY-level parity needs
the engine to EXPOSE the surface and fail with a clear action, not at
a random depth of a Py4J stack).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class ConnectorUnavailable(RuntimeError):
    """Raised when a connector's jars/packages are not on the
    classpath; message says exactly what to add."""


def _has_class(spark: SparkSession, cls: str) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(cls)  # type: ignore[union-attr]
        return True
    except Exception:
        return False


def read_delta(spark: SparkSession, path: str) -> DataFrame:
    """Delta Lake scan (time travel/MERGE live upstream of this call).
    Requires ``io.delta:delta-spark`` on the classpath."""
    if not _has_class(spark, "org.apache.spark.sql.delta.DeltaLog"):
        raise ConnectorUnavailable(
            "Delta Lake jars missing - launch with "
            "--packages io.delta:delta-spark_2.13:<version> and set "
            "spark.sql.extensions=io.delta.sql.DeltaSparkSessionExtension"
        )
    return spark.read.format("delta").load(path)


def read_iceberg(spark: SparkSession, table: str) -> DataFrame:
    """Iceberg table scan. Requires ``org.apache.iceberg`` runtime."""
    if not _has_class(
        spark, "org.apache.iceberg.spark.source.SparkTable"
    ):
        raise ConnectorUnavailable(
            "Iceberg runtime missing - launch with --packages "
            "org.apache.iceberg:iceberg-spark-runtime-<spark>_2.13:<version>"
        )
    return spark.read.format("iceberg").load(table)


def delta_available(spark: SparkSession) -> bool:
    """True when the Delta Lake runtime is on the classpath — lets
    tests exercise the real round-trip where possible and skip
    cleanly where not."""
    return _has_class(spark, "org.apache.spark.sql.delta.DeltaLog")


def append_index_batch(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    batch_id: int,
    fmt: str = "delta",
) -> None:
    """Idempotent per-batch append for an ACCRETING index (the
    growing-index streaming dedup's storage contract,
    streaming/incremental.py): each micro-batch lands in its own
    ``batch=<id>`` partition, and a REPLAYED batch (failure recovery)
    overwrites its own partition instead of appending duplicates.

    ``fmt='delta'``: partition-scoped ``replaceWhere`` overwrite — an
    ACID commit, safe under concurrent readers, with OPTIMIZE/VACUUM
    compaction upstream; this is the warehouse-scale form. Requires
    the Delta jars (:func:`delta_available`).

    ``fmt='parquet'``: the same layout contract on bare parquet via
    dynamic partition overwrite — what this container can run; no
    ACID, readers may glimpse a partial partition during the rewrite.
    """
    out = batch.withColumn("batch", F.lit(batch_id))
    if fmt == "delta":
        if not delta_available(spark):
            raise ConnectorUnavailable(
                "Delta Lake jars missing - launch with "
                "--packages io.delta:delta-spark_2.13:<version> and set "
                "spark.sql.extensions=io.delta.sql.DeltaSparkSessionExtension"
            )
        (
            out.write.format("delta")
            .mode("overwrite")
            .option("replaceWhere", f"batch = {batch_id}")
            .partitionBy("batch")
            .save(path)
        )
        return
    if fmt != "parquet":
        raise ValueError(f"unknown index format: {fmt}")
    # per-WRITER option, not a session conf flip: the write-scoped
    # option overrides spark.sql.sources.partitionOverwriteMode for
    # this save only (Spark >= 2.4), so (a) it binds to whichever
    # session the batch frame belongs to — inside foreachBatch that's
    # a conf-snapshot CLONE, where setting the outer session's conf
    # silently left the clone on static overwrite and WIPED every
    # earlier partition (caught live) — and (b) no session-wide window
    # exists during which a concurrent static partitioned overwrite
    # (e.g. write_token_shards' whole-root replacement) would keep
    # stale partitions.
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch")
        .parquet(path)
    )


def read_index(
    spark: SparkSession,
    path: str,
    fmt: str = "delta",
    schema=None,
) -> DataFrame:
    """Read the accreting index written by :func:`append_index_batch`.

    ``schema`` (parquet only): an explicit schema — including the
    ``batch`` partition column — skips parquet footer schema inference
    over the whole index history. The incremental operators probe the
    index once per MICRO-BATCH, so the per-read inference was a
    per-batch driver cost growing with history (r14); Delta reads get
    the schema from the table log already.
    """
    if fmt == "delta":
        return read_delta(spark, path)
    reader = spark.read.option("basePath", path)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    **options: str,
) -> DataFrame:
    """JDBC scan with explicit partitioning (without it a JDBC read is
    ONE task — the classic accidental single-thread scan). The driver
    jar for the target database must be on the classpath."""
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
    )
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError(
                "partitioned JDBC reads need lower_bound/upper_bound"
            )
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()
