"""SparkSession factory tuned for the test harness (local[N]) while keeping
cluster-scale defaults explicit.

At 100 TB on a real cluster the same settings hold: AQE re-plans shuffles at
runtime (coalescing small partitions, splitting skewed ones), shuffle
partition count becomes a starting hint rather than a fixed fan-out, and the
UTC session timezone keeps timestamp semantics engine-independent.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def get_spark(app_name: str = "gtec_etl_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Honors SPARK_GRAFT_CPUS for local parallelism. Shuffle partitions are
    sized to cores for local mode; on a real cluster AQE coalescing makes
    the initial number a ceiling, not a commitment.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Runtime bloom filters (semi-join reduction) are on by default but
        # gated by a 10 MB creation-side estimate — far below any join
        # whose probe side is worth pruning. Raising the gate lets a
        # shuffle join build a bloom from a GB-scale side and drop probe
        # rows BEFORE the exchange: measured 2x on the triangle-closure
        # semi join at 10x data (834M wedge rows pruned pre-shuffle,
        # 87 s -> 45 s), the same setting a real cluster runs with.
        .config(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "512MB",
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # No nanosAsLong legacy conf: the events table's ts unit is detected
        # per-directory from the parquet footer (catalog.events_ts_unit), so
        # TIMESTAMP semantics stay default for any other parquet.
        # Everything the engine WRITES is TIMESTAMP(MICROS): INT96 is
        # deprecated, and micros round-trips through the footer-driven
        # reader and DuckDB identically.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        # Managed-table warehouse (bucketed tables) outside the repo tree.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def empty_frame(spark: SparkSession, ddl: str) -> DataFrame:
    """Zero-row DataFrame with the DDL schema (all columns nullable), built
    as a JVM-side empty relation. `spark.createDataFrame([], ddl)` gives the
    same frame but plans a Python-side scan: any action on it starts a
    Python worker, even with no rows."""
    return spark.range(0).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in StructType.fromDDL(ddl)]
    )


def local_frame(
    spark: SparkSession, rows: Iterable, schema: str | StructType
) -> DataFrame:
    """DataFrame of driver-side `rows` (tuples, Rows or dicts) with the DDL
    or StructType `schema`, planned as a JVM `LocalTableScan`.

    `spark.createDataFrame(rows, schema)` gives the same frame but plans a
    `PythonRDD`: every action on it runs Python-worker tasks, and a global
    sort over it runs them twice (range sampling, then the map stage).
    Here the rows go through the same `StructType.toInternal` conversion
    (so dates and timestamps mean what they mean there) into one Arrow
    table typed by the schema, which Spark reads into a local relation."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    internal = [schema.toInternal(r) for r in rows]
    arrow = to_arrow_schema(schema)
    columns = [
        pa.array([r[i] for r in internal], type=f.type) for i, f in enumerate(arrow)
    ]
    return spark.createDataFrame(pa.Table.from_arrays(columns, schema=arrow), schema)
