"""SparkSession factory with the engine's scale-oriented defaults."""

from __future__ import annotations

import functools
import os

from pyspark.sql import SparkSession


def scaled(df, factor: int = 1):
    """Ensure a DataFrame has at least cores×factor partitions.

    Small-SF test files arrive as ONE parquet row-group → one task →
    the expensive tokenize stage would run on one core regardless of
    cluster size.  At real scale inputs already carry enough splits and
    this is a no-op (no shuffle added).
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * factor
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


@functools.lru_cache(maxsize=64)
def _parse_schema(schema: str):
    """DDL schema string -> StructType, parsed once per string (each
    parse is a JVM round trip of a few ms)."""
    from pyspark.sql import types as T

    return T._parse_datatype_string(schema)


def local_rows_df(spark: SparkSession, rows, schema: str):
    """Tiny driver-side relation (plans, stats rows, fast-path results).

    ``spark.createDataFrame(list_of_rows)`` parallelizes into
    ``defaultParallelism`` slices — a 32-task job to ship a handful of
    rows (measured ~0.3 s per occurrence on local[32]; optimization
    guide §1.1: scheduler overhead, not compute).  Routing the rows
    through one Arrow batch (pandas) keeps the relation
    single-partition; int64/float64/str/bool round-trip bit-identically
    through Arrow.  Raises ValueError for a row whose length differs
    from the schema's."""
    import pandas as pd

    struct = _parse_schema(schema)
    names = [f.name for f in struct.fields]
    for row in rows:
        if len(row) != len(names):
            raise ValueError(
                f"row {row!r} has {len(row)} fields, schema {schema!r} "
                f"has {len(names)}"
            )
    pdf = pd.DataFrame(
        dict(zip(names, zip(*rows))) if rows else {n: [] for n in names}
    )
    return spark.createDataFrame(pdf, schema=struct)


def get_spark(
    app_name: str = "ir-engine",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Local session for tests/bench; on a real cluster use spark-submit
    --py-files with the same configs (nothing here is local-only)."""
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 32)
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config(
            "spark.sql.adaptive.enabled",
            os.environ.get("SPARK_ADAPTIVE", "true"),
        )
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", os.environ.get("ARROW_BATCH", "1024"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_MAX_PARTITION_BYTES", "134217728"),
        )
        .config(
            "spark.sql.files.openCostInBytes",
            os.environ.get("SPARK_FILES_OPEN_COST", "4194304"),
        )
        .getOrCreate()
    )
