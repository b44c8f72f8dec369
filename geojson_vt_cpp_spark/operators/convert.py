"""Ingest stage: interleaved documents table -> projected/tagged features.

Spark re-expression of the reference's entry normalization + ``convert``
(``geojsonvt.hpp:24-34,102-104`` / ``convert.hpp:101-116``):

documents(doc_id, spans array<struct<kind,text,media_ref,offset>>)
  -> posexplode spans -> filter kind='geojson'
  -> mapInPandas: GeoJSON parse + normalize + project + simplify-tag
  -> features table (codec.FEATURES_SCHEMA)

Feature identity/order is (doc_id, span_idx, feature_idx, member_seq) so any
output row maps back to its source span — the per-row span-sequence
invariant is preserved because documents are never mutated, only referenced.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geojson_vt_cpp_spark.functions import geojson_io as GJ
from geojson_vt_cpp_spark.operators import codec
from geojson_vt_cpp_spark.operators.clip_stage import iter_rows


def extract_features(
    docs_df: DataFrame,
    tolerance: float,
    generate_id: bool = False,
    kind: str = "geojson",
    on_error: str = "raise",
) -> DataFrame:
    """documents -> features at the given convert tolerance.

    ``tolerance`` is ``(options.tolerance/extent)/2^maxZoom`` for an index
    build or ``.../2^z`` for a one-shot slice. ``generate_id=True`` assigns
    sequential uint64 ids in global input order (doc_id, span_idx,
    feature_idx) — the deterministic equivalent of the reference's
    ``genId++`` over the input collection (``convert.hpp:105-110``);
    GeometryCollection members share their feature's id.
    """
    # SQL text: one Py4J round trip per expression, not one per node
    gj = (
        docs_df.selectExpr("doc_id", "posexplode(spans) AS (span_idx, span)")
        .where(F.col("span.kind") == kind)
        .selectExpr("doc_id", "CAST(span_idx AS INT) AS span_idx", "span.text AS gj_text")
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for row in iter_rows(pdf):
                try:
                    raws = GJ.parse_geojson(row["gj_text"])
                except ValueError:
                    if on_error == "skip":
                        continue
                    raise
                for rf in raws:
                    out = {
                        "doc_id": row["doc_id"],
                        "span_idx": int(row["span_idx"]),
                        "feature_idx": rf.feature_idx,
                        "member_seq": rf.member_seq,
                        "copy_tag": 1,  # wrap copies get 0 (left) / 2 (right)
                        "slice_path": "",
                        "feature_id": rf.feature_id,
                        "id_kind": rf.id_kind,
                        "props_json": rf.props_json,
                    }
                    out.update(codec.geom_to_cols(GJ.convert_geom(rf.geom, tolerance)))
                    rows.append(out)
            yield codec.rows_to_pdf(rows, codec.FEATURES_SCHEMA)

    feats = gj.mapInPandas(kernel, codec.FEATURES_SCHEMA)
    if generate_id:
        feats = assign_sequential_ids(feats)
    return feats


def assign_sequential_ids(
    feats: DataFrame,
    mode: str = "auto",
    broadcast_threshold: int = 100_000,
) -> DataFrame:
    """Overwrite ids with the global input-order uint64 sequence.

    Two-phase, no global window. Span offsets (cumulative top-level feature
    counts in (doc_id, span_idx) order) are computed either:

    - ``broadcast``: collected to the driver, prefix-summed, broadcast back
      — one tiny shuffle; right whenever the span count is bounded;
    - ``distributed``: repartitionByRange on the span key +
      sortWithinPartitions; per-PARTITION totals (one row per partition)
      are the only driver traffic, and each partition prefix-sums locally
      from its broadcast base offset. Scales to 10^12 spans — the driver
      holds O(partitions), never O(spans).

    ``auto`` picks by counting the span aggregate against
    ``broadcast_threshold``. Ordering note: both paths order doc_id as a
    raw string (Spark compares UTF-8 bytes).
    """
    spark = feats.sparkSession
    counts_df = (
        feats.where(F.col("member_seq") == 0)
        .groupBy("doc_id", "span_idx")
        .agg(F.count("*").alias("n_feats"))
    )
    if mode == "auto":
        counts_df = counts_df.localCheckpoint()
        mode = (
            "broadcast"
            if counts_df.count() <= broadcast_threshold
            else "distributed"
        )
    if mode == "broadcast":
        rows = counts_df.collect()
        rows.sort(key=lambda r: (r["doc_id"], r["span_idx"]))
        offsets = []
        acc = 0
        for r in rows:
            offsets.append((r["doc_id"], r["span_idx"], acc))
            acc += r["n_feats"]
        off_df = F.broadcast(
            spark.createDataFrame(
                offsets, "doc_id string, span_idx int, id_offset long"
            )
        )
    else:
        off_df = _distributed_span_offsets(counts_df)
    return (
        feats.join(off_df, ["doc_id", "span_idx"], "left")
        .withColumn(
            "feature_id",
            (F.col("id_offset") + F.col("feature_idx")).cast("string"),
        )
        .withColumn("id_kind", F.lit(GJ.ID_U64))
        .drop("id_offset")
        .select(*[f.name for f in codec.FEATURES_SCHEMA.fields])
    )


def _distributed_span_offsets(counts_df: DataFrame) -> DataFrame:
    """(doc_id, span_idx, id_offset) with the prefix sum computed
    distributed: range partitions are key-ordered by construction, so the
    cross-partition carry is a cumsum over ONE total per partition."""
    spark = counts_df.sparkSession
    n_parts = max(spark.sparkContext.defaultParallelism, 2)
    ordered = (
        counts_df.repartitionByRange(n_parts, "doc_id", "span_idx")
        .sortWithinPartitions("doc_id", "span_idx")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint()  # pin the partitioning for the two passes below
    )
    totals = {
        r["pid"]: r["tot"]
        for r in ordered.groupBy("pid").agg(F.sum("n_feats").alias("tot")).collect()
    }
    bases = {}
    acc = 0
    for pid in sorted(totals):
        bases[pid] = acc
        acc += totals[pid]
    bc = spark.sparkContext.broadcast(bases)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if acc is None:
                acc = int(bc.value[int(pdf["pid"].iloc[0])])
            n = pdf["n_feats"].to_numpy()
            starts = acc + np.concatenate(([0], np.cumsum(n[:-1])))
            acc += int(n.sum())
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "span_idx": pdf["span_idx"],
                    "id_offset": starts,
                }
            )

    return ordered.mapInPandas(
        kernel, "doc_id string, span_idx int, id_offset long"
    )
