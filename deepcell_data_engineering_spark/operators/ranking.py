"""Distributed dense ranking without a single-task global window.

``row_number() OVER (ORDER BY x)`` collapses to ONE task however large
the input; this module provides the scale-safe equivalent used by the
L1 relabel mapping and the exact_parity=False split/balance paths:

1. ``repartitionByRange`` sorts rows into contiguous ranges (ascending
   with partition id — RangePartitioner's contract);
2. one tiny job collects a count per (partition[, group]) —
   O(#partitions x #groups), never O(#rows);
3. each partition ranks locally and adds its cumulative offset.

With ``partition_cols`` the rank restarts per group (ranges are keyed by
(group, order) so a group's rows stay contiguous across partitions and
its offsets accumulate in partition order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from deepcell_data_engineering_spark.session import local_frame


def global_dense_rank(
    df: DataFrame,
    order_col: str | list[str],
    partition_cols: list[str] | None = None,
    out_col: str = "rank",
    start: int = 0,
) -> DataFrame:
    """Append ``out_col`` = dense 0-based (+start) rank of ``order_col``
    (globally, or within ``partition_cols`` groups), fully distributed.
    Input rows must be unique on (partition_cols, order_col) — pass a
    list ordering (e.g. [hash, id]) to break ties deterministically."""
    ocols = [order_col] if isinstance(order_col, str) else list(order_col)
    pcols = list(partition_cols or [])
    ranged = df.repartitionByRange(*pcols, *ocols).withColumn(
        "__p", F.spark_partition_id()
    )
    counts = ranged.groupBy(*pcols, "__p").count().collect()

    offsets, acc = [], {}
    for r in sorted(counts, key=lambda r: (tuple(r[c] for c in pcols), r["__p"])):
        g = tuple(r[c] for c in pcols)
        offsets.append(tuple(r[c] for c in pcols) + (r["__p"], acc.get(g, 0)))
        acc[g] = acc.get(g, 0) + r["count"]
    if not offsets:
        return df.withColumn(out_col, F.lit(start).cast("long"))

    schema_parts = [f"{c} {df.schema[c].dataType.simpleString()}" for c in pcols]
    off_df = local_frame(
        df.sparkSession, offsets, ", ".join(schema_parts + ["__p int", "__off long"])
    )
    w = Window.partitionBy(*pcols, "__p").orderBy(*ocols)
    return (
        ranged.join(F.broadcast(off_df), pcols + ["__p"])
        .withColumn(
            out_col, F.row_number().over(w) + F.col("__off") + F.lit(start - 1)
        )
        .drop("__p", "__off")
    )
