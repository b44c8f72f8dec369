"""Plan inspection + partitioning strategies.

Helpers used by tests and the benchmark to assert the physical plans we
designed for actually materialize: joins broadcast when requested, and
spatial tables are range-partitioned by quadkey/cell prefix so parquet
min/max stats prune spatially.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def is_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df)


def spatial_repartition(
    df: DataFrame, cell_col: str = "cell", num_partitions: int | None = None
) -> DataFrame:
    """Range-partition by the Morton cell id — Z-order prefixes nest, so
    ranges are spatially coherent and parquet min/max stats on the cell
    column prune reads for window queries (north rule: 'explicit range
    partitioning on cell prefixes')."""
    if num_partitions:
        return df.repartitionByRange(num_partitions, F.col(cell_col))
    return df.repartitionByRange(F.col(cell_col))
