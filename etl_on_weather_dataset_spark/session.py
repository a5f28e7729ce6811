"""SparkSession factory.

Defaults chosen for oracle parity and scale:

- ``spark.sql.session.timeZone=UTC``: the reference parses timestamps
  tz-aware UTC (ETL.py:57); DuckDB timestamps are UTC-naive, so UTC
  session tz makes the two comparable.
- AQE on (runtime shuffle-partition coalescing, skew-join splitting) --
  the knob that makes one binary work from sf0.001 to 100 TB.
- Arrow on for the few Pandas-UDF paths (multimodal decode).
- ``shuffle.partitions`` defaults to local core count; on a real
  cluster callers pass ~2-3x total executor cores.

Driver-side rows (constant matrices, metadata, scenario summaries)
enter Spark through :func:`local_frame` only.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "etl-on-weather-dataset-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master``/``shuffle_partitions`` default from env
    (``SPARK_GRAFT_CPUS``) so tests, tools and the driver share one
    code path.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # reliable RDD checkpoints (dedup_components truncation on a
        # cluster with a checkpoint dir) are deleted when their RDD is
        # GC'd ONLY under this flag -- without it checkpoint storage
        # grows without bound in a long-lived driver
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Parquet scans: vectorized reader + pushdown are defaults, but we
        # pin them so a misconfigured site profile can't silently regress.
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Spark 4.1's checksummed checkpoint writes stall for tens of
        # seconds per microbatch on plain local filesystems; stateful
        # streaming is unusable with it on. Durability on a real
        # cluster comes from the DFS, so disable the extra checksums.
        .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: str
) -> DataFrame:
    """A DataFrame of driver-side ``rows`` (tuples in ``schema``'s DDL
    column order), shipped as one Arrow table.

    ``createDataFrame`` on a Python list parallelizes pickled rows, so
    every action on the frame runs a Python-worker stage -- one task
    per core even for a single row. An Arrow table below
    ``spark.sql.execution.arrow.localRelationThreshold`` becomes a
    ``LocalRelation`` decoded in the JVM: no Python worker, no task
    to scan it, and doubles cross bit-exactly."""
    struct = StructType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(struct.names, r, strict=True)) for r in rows],
        schema=to_arrow_schema(struct),
    )
    return spark.createDataFrame(table, schema=struct)
