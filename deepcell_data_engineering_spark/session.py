"""SparkSession factory with the engine's standard configuration.

Scale posture: these settings are chosen for a real cluster and merely
exercised on local[N]:
- AQE on (runtime coalescing of shuffle partitions, skew-join splitting).
- Arrow on for every pandas-UDF boundary.
- ``spark.sql.legacy.parquet.nanosAsLong`` — the testdata ``events.ts``
  column is parquet TIMESTAMP(NANOS), which vanilla Spark rejects; we read
  it as a long and normalize in the catalog (see catalog.load_table).
- Session timezone pinned to UTC so timestamp arithmetic matches the
  DuckDB oracle byte-for-byte.
"""

from __future__ import annotations

import os
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))


def get_spark(
    app_name: str = "deepcell-data-engineering-spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster the caller passes nothing and spark-submit supplies the master.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master is not None:
        builder = builder.master(master)
    builder = (
        builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # 128 MiB split targets keep scan partitions executor-memory-sized
        # at large SF without over-splitting small files locally.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Runtime bloom-filter pruning: a selective filtered dim side
        # injects a bloom filter into the fact scan of a shuffle join —
        # rows that cannot match die at the scan instead of crossing the
        # exchange. Thresholds are Spark's defaults (10M build side);
        # the local testdata is below them, so the feature is exercised
        # by a dedicated plan test with test-scoped thresholds.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # grouped_cumsum's branches must dedup to ONE range exchange
        # (same sampled splits); see functions/layout.py — the tripwire
        # there fails loudly if this is ever violated
        .config("spark.sql.exchange.reuse", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def apply_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable conf to an externally-built
    session (the driver hands us one in ``__spark_entry__.entry``)."""
    for k, v in [
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        # grouped_cumsum's two branches must dedup to ONE range
        # exchange (same sampled splits); its tripwire turns a
        # violation into a loud failure, this pin prevents one
        ("spark.sql.exchange.reuse", "true"),
    ]:
        spark.conf.set(k, v)
    return spark


def local_frame(
    spark: SparkSession, rows: Iterable, schema: StructType | str
) -> DataFrame:
    """Driver-side rows as a frame over a JVM ``LocalRelation``.

    ``spark.createDataFrame`` on a Python list plans a ``LogicalRDD`` over
    a Python RDD, so every scan of the frame starts a Python worker. Here
    the rows become an Arrow table typed from ``schema`` instead, which
    Spark turns into a ``LocalRelation``: the rows live in the plan, are
    scanned inside the JVM (``LocalTableScanExec``) and are a plan
    constant to the optimizer. Python workers are left to the kernels.

    Rows are read as ``createDataFrame`` reads them: a dict by field name
    (missing keys are null), a tuple, list or ``Row`` by position.
    ``schema`` is a ``StructType`` or a DDL string such as
    ``"k BIGINT, name STRING"``.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    names = schema.names
    columns: list[list] = [[] for _ in names]
    for row in rows:
        values = [row.get(n) for n in names] if isinstance(row, dict) else row
        if len(values) != len(names):
            raise ValueError(
                f"row has {len(values)} fields, schema has {len(names)}: {row!r}"
            )
        for column, value in zip(columns, values):
            column.append(value)
    arrow_schema = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema=schema)
