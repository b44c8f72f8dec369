"""Temporal joins: as-of (most recent right row at-or-before each left row).

Spark has no native as-of join; the scale-safe formulation is the tagged
union + keyed carry-forward window (`last(value, ignoreNulls=True)` over
rows unbounded-preceding): one shuffle on the key, per-key sorted scan, no
range join, no broadcast requirement, state bounded by the partition. The
driver query `rel_events_asof` runs through it; its DuckDB oracle is the
same formula written as SQL, with
:func:`geojson_vt_cpp_spark.functions.dialect_sql.last_ignore_nulls`.

Tie policy: right rows sort BEFORE left rows at equal timestamps, so a
right row exactly at the left's time matches ("at or before", pandas
merge_asof's default inclusive behavior); remaining ties break on the id
columns for determinism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    right_vals: tuple[str, ...] = ("value",),
    left_id: str = "event_id",
    right_id: str = "event_id",
    prefix: str = "asof_",
) -> DataFrame:
    """For every left row: the key-matched right row with the greatest
    ``ts`` <= the left row's ``ts``. Returns the left columns plus
    ``{prefix}{col}`` for each of ``right_vals`` (null when no right row
    precedes).
    """
    lcols = left.columns
    tagged = right.select(
        F.col(key).alias("_k"),
        F.col(ts).alias("_t"),
        F.col(right_id).alias("_tie"),
        F.lit(0).alias("_side"),
        *[F.col(c).alias(f"_rv_{c}") for c in right_vals],
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"_l_{c}") for c in lcols],
    ).unionByName(
        left.select(
            F.col(key).alias("_k"),
            F.col(ts).alias("_t"),
            F.col(left_id).alias("_tie"),
            F.lit(1).alias("_side"),
            *[F.lit(None).cast(right.schema[c].dataType).alias(f"_rv_{c}") for c in right_vals],
            *[F.col(c).alias(f"_l_{c}") for c in lcols],
        )
    )
    w = (
        Window.partitionBy("_k")
        .orderBy(F.col("_t").asc(), F.col("_side").asc(), F.col("_tie").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = tagged.select(
        "*",
        *[
            F.last(f"_rv_{c}", ignorenulls=True).over(w).alias(f"{prefix}{c}")
            for c in right_vals
        ],
    ).where(F.col("_side") == 1)
    return out.select(
        *[F.col(f"_l_{c}").alias(c) for c in lcols],
        *[F.col(f"{prefix}{c}") for c in right_vals],
    )
