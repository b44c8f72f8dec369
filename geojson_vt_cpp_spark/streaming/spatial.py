"""Streaming spatial joins: a point stream against a static polygon table.

The production pattern for stream-static spatial joins is per-microbatch
execution via ``foreachBatch``: every microbatch is a bounded DataFrame, so
the full batch operator (cell cover -> candidate equi-join -> exact
even-odd parity refinement, ``operators/spatial_join.py``) runs unchanged
with batch semantics, and exactly-once delivery comes from the streaming
checkpoint plus an idempotent sink keyed on (point_id, feature_id). This is
strictly stronger than reimplementing the parity aggregate as a stateful
streaming operator: the refinement needs no cross-batch state (each point
is joined once), so microbatch = correct, and the polygon side stays a
static table Catalyst can broadcast per batch.

Scale shape: each microbatch is an independent bounded PIP join — the same
plan the batch engine runs, with the same skew handling (the per-polygon
y-strip key of the edge join, plus AQE); state is bounded by the
microbatch, not the stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from geojson_vt_cpp_spark.operators.spatial_join import point_in_polygon_join


def stream_point_in_polygon(
    points_stream: DataFrame,
    polys_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    broadcast: bool = True,
    available_now: bool = True,
    point_cols: tuple[str, str, str] = ("point_id", "px", "py"),
) -> StreamingQuery:
    """Run the exact PIP join per microbatch, appending (point batch x
    polygon matches) to the parquet directory ``out_dir``.

    Returns the started StreamingQuery; callers await termination and read
    ``spark.read.parquet(out_dir)``. A parquet sink rather than a temp
    view: foreachBatch executes against a per-microbatch session clone, so
    session-scoped views created inside it are invisible to the caller's
    session.

    Idempotent replay: each microbatch lands in its own deterministic
    partition directory ``out_dir/batch_id=<N>`` with mode('overwrite') —
    if a batch is replayed after a failure (files written, streaming
    checkpoint commit lost), the rerun overwrites the same directory
    instead of appending duplicates, so checkpoint + sink together give
    exactly-once. Readers of ``out_dir`` see ``batch_id`` as an ordinary
    partition column.
    """
    pid = point_cols[0]

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        point_in_polygon_join(
            batch_df, polys_df, broadcast=broadcast, point_cols=point_cols
        ).selectExpr(
            f"cast({pid} as long) as point_id",
            "doc_id",
            "cast(feature_id as string) as feature_id",
        ).write.mode("overwrite").parquet(f"{out_dir}/batch_id={int(batch_id)}")

    writer = (
        points_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
