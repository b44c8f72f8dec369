"""Streaming ingest + physical-plan assertions (parquet pushdown on a
range-partitioned cell column)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from geojson_vt_cpp_spark.functions import cells as C
from geojson_vt_cpp_spark.sources.documents import docs_rows_from_fixture
from geojson_vt_cpp_spark.streaming.ingest import stream_extract_features

from .golden_utils import load_fixture

pytestmark = pytest.mark.spark


def explain_str(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_stream_extract_features(spark, tmp_path):
    src = tmp_path / "stream_src"
    src.mkdir()
    rows = docs_rows_from_fixture(load_fixture("us-states.json"), "us-states")
    with open(src / "batch0.json", "w") as f:
        for doc_id, spans in rows[:10]:
            f.write(json.dumps({
                "doc_id": doc_id,
                "spans": [
                    {"kind": k, "text": t, "media_ref": m, "offset": o}
                    for k, t, m, o in spans
                ],
            }) + "\n")

    feats = stream_extract_features(spark, str(src), 1e-6)
    assert feats.isStreaming
    q = (
        feats.writeStream.format("memory")
        .queryName("feat_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select count(*) n, count(distinct doc_id) d from feat_stream").first()
    assert got["n"] == 10 and got["d"] == 10

    # late/duplicate redelivery: same file content again -> new rows arrive,
    # dedupable on the deterministic identity key
    with open(src / "batch1.json", "w") as f:
        for doc_id, spans in rows[:3]:
            f.write(json.dumps({
                "doc_id": doc_id,
                "spans": [
                    {"kind": k, "text": t, "media_ref": m, "offset": o}
                    for k, t, m, o in spans
                ],
            }) + "\n")
    q2 = (
        feats.writeStream.format("memory")
        .queryName("feat_stream2")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    got2 = spark.sql(
        "select count(*) n, "
        "count(distinct doc_id, span_idx, feature_idx, member_seq) d "
        "from feat_stream2"
    ).first()
    # 13 physical rows (3 docs redelivered), 10 after identity-key dedup
    assert got2["n"] == 13 and got2["d"] == 10


def test_parquet_pushdown_on_cell_column(spark, tmp_path):
    path = str(tmp_path / "cells_parquet")
    df = spark.range(100000).select(
        F.col("id"),
        ((F.col("id") * 2654435761) % 99991 / 99991.0).alias("px"),
        ((F.col("id") * 2246822519) % 99989 / 99989.0).alias("py"),
    )
    df = df.withColumn("cell", C.cell_id(F.col("px"), F.col("py"), 10))
    df.repartitionByRange(16, "cell").write.mode("overwrite").parquet(path)

    back = spark.read.parquet(path).where(F.col("cell") < 1000)
    plan = explain_str(back)
    assert "PushedFilters" in plan and "LessThan(cell,1000)" in plan
    # range partitioning means most files prune: read should touch far fewer
    # rows than a full scan would (verified via count correctness here; file
    # pruning itself is a parquet min/max effect visible in metrics)
    assert back.count() == df.where(F.col("cell") < 1000).count()


def test_stream_pip_multibatch_matches_batch(spark, tmp_path):
    """stream_point_in_polygon across MULTIPLE microbatches
    (maxFilesPerTrigger=1 over 3 staged files) appends exactly the batch
    operator's rows — the per-microbatch execution model is correct even
    when the stream is split."""
    import importlib.util
    import os

    from geojson_vt_cpp_spark.operators.spatial_join import point_in_polygon_join
    from geojson_vt_cpp_spark.streaming.spatial import stream_point_in_polygon

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "__spark_entry__.py")
    spec = importlib.util.spec_from_file_location("spark_entry", path)
    E = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(E)

    points = E._synth_points(spark, "/root/testdata/sf0.001")
    polys = E._triangles_df(spark)
    src = tmp_path / "in"
    for i in range(3):
        points.where(F.col("point_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
    stream = (
        spark.readStream.schema(points.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = stream_point_in_polygon(
        stream, polys, str(tmp_path / "out"), str(tmp_path / "ck"), broadcast=True
    )
    assert q.awaitTermination(600)
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert n_batches >= 2, f"expected multiple microbatches, got {n_batches}"
    got = {
        (r["point_id"], r["feature_id"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    want = {
        (r["point_id"], r["feature_id"])
        for r in point_in_polygon_join(points, polys, broadcast=True)
        .selectExpr("cast(point_id as long) as point_id", "feature_id")
        .collect()
    }
    assert got == want and len(want) > 0
