#!/usr/bin/env python3
"""Round-6 optimization measurement harness (guide §1.4): per-query noop-sink
isolation, pyramid build and quantize timings, and .explain("formatted") capture.

This file is NOT part of the frozen driver contract (bench.py is); it exists
so optimization claims in OPTIMIZATION_r06.md cite isolated numbers and the
plans/r06/*.txt files are reproducible.

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=8 \
        python3 bench_extra.py --pip --explain-dir plans/r06 --tag after

Modes (combine freely): --pyramid --pip --knn --dedup --oneshot
"""

from __future__ import annotations

import json
import os
import sys
import time


def _make_spark(cpus: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"gvt-bench-extra-{cpus}")
        .config("spark.sql.shuffle.partitions", str(max(cpus * 2, 8)))
        .config("spark.default.parallelism", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "48g")
        .getOrCreate()
    )


def _noop(df) -> float:
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return round(time.time() - t0, 3)


def _save_explain(df, path: str) -> None:
    import contextlib
    import io

    os.makedirs(os.path.dirname(path), exist_ok=True)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    with open(path, "w") as f:
        f.write(buf.getvalue())


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    tag = "run"
    if "--tag" in sys.argv:
        tag = sys.argv[sys.argv.index("--tag") + 1]
    explain_dir = None
    if "--explain-dir" in sys.argv:
        explain_dir = sys.argv[sys.argv.index("--explain-dir") + 1]

    from pyspark.sql import functions as F  # noqa: F401

    spark = _make_spark(cpus)
    sc = spark.sparkContext
    out: dict = {"tag": tag, "cpus": cpus, "sf_dir": sf_dir}
    try:
        import __spark_entry__ as E
        from geojson_vt_cpp_spark.config import Options
        from geojson_vt_cpp_spark.functions import dialect_sql as D
        from geojson_vt_cpp_spark.operators.convert import extract_features
        from geojson_vt_cpp_spark.operators.pyramid import TilePyramid
        from geojson_vt_cpp_spark.operators.spatial_join import (
            knn_join, point_in_polygon_join,
        )
        from geojson_vt_cpp_spark.sources.documents import (
            documents_from_fixture, replicate_documents,
        )

        sf = 0.1 if "sf0.1" in sf_dir else (0.01 if "sf0.01" in sf_dir else 0.001)
        copies = max(2, int(round(2000 * sf)))
        E._register_views(spark, sf_dir)
        base_docs = documents_from_fixture(spark, E._fixture_text(), "us-states")
        docs = replicate_documents(base_docs, copies).repartition(cpus * 2).cache()
        docs.count()

        # warm-up: small pass through every code path (same as bench.py)
        warm_docs = replicate_documents(base_docs, 2).cache()
        wp = TilePyramid.from_documents(
            warm_docs, Options(index_max_zoom=2, index_max_points=50_000, max_zoom=14)
        )
        wp.tile_features().count()
        wp.close()
        wfeats = extract_features(warm_docs, (3.0 / 4096.0) / (1 << 14))
        wpts = spark.sql(
            f"select c_custkey as point_id, {D.synth_px('c_custkey')} as px, "
            f"{D.synth_py('c_custkey')} as py from customer limit 2000"
        )
        point_in_polygon_join(wpts, wfeats, broadcast_edges=False).count()
        knn_join(
            wpts, spark.sql(
                f"select s_suppkey as site_id, {D.synth_px('s_suppkey')} as sx, "
                f"{D.synth_py('s_suppkey')} as sy from supplier"
            ), k=5, res=3, ring=2,
            query_cols=("point_id", "px", "py"), site_cols=("site_id", "sx", "sy"),
        ).count()
        spark.sql(D.queries_sql("spark")["dedup_minhash_signatures"]).count()
        warm_docs.unpersist()

        if "--pyramid" in sys.argv:
            sc.setJobDescription("pyramid_build (build + quantize timed)")
            t0 = time.time()
            pyr = TilePyramid.from_documents(
                docs, Options(index_max_zoom=5, index_max_points=50_000, max_zoom=14)
            )
            t_build = round(time.time() - t0, 3)
            t0 = time.time()
            n = pyr.tile_features().count()
            t_quant = round(time.time() - t0, 3)
            out["pyramid"] = {"build_sec": t_build, "quantize_count_sec": t_quant,
                              "rows": n}
            if explain_dir:
                _save_explain(
                    pyr.tile_features(), f"{explain_dir}/pyramid_tile_features_{tag}.txt"
                )
            pyr.close()

        feats = None
        points = None
        if "--pip" in sys.argv or "--knn" in sys.argv:
            feats = extract_features(docs, (3.0 / 4096.0) / (1 << 14)).cache()
            key = "(c_custkey * 1 + j.j)"
            points = spark.sql(
                f"select {key} as point_id, {D.synth_px(key)} as px, "
                f"{D.synth_py(key)} as py from customer "
                f"cross join (select explode(sequence(0, 0)) as j) j"
            ).repartition(cpus * 2).cache()
            points.count()
            feats.count()

        if "--pip" in sys.argv:
            sc.setJobDescription("pip_join noop")
            pip = point_in_polygon_join(points, feats, broadcast_edges=False)
            out["pip_noop_sec"] = _noop(pip)
            t0 = time.time()
            out["pip_rows"] = pip.count()
            out["pip_count_sec"] = round(time.time() - t0, 3)
            if explain_dir:
                _save_explain(pip, f"{explain_dir}/pip_join_{tag}.txt")

        if "--knn" in sys.argv:
            import math

            sites = spark.sql(
                f"select s_suppkey as site_id, {D.synth_px('s_suppkey')} as sx, "
                f"{D.synth_py('s_suppkey')} as sy from supplier"
            ).cache()
            n_sites = sites.count()
            knn_res = max(1, round(math.log(max(n_sites, 4) / 2.0, 4)))
            sc.setJobDescription("knn_join noop")
            t0 = time.time()
            knn = knn_join(
                points, sites, k=5, res=knn_res, ring=2,
                query_cols=("point_id", "px", "py"),
                site_cols=("site_id", "sx", "sy"),
            )
            out["knn_build_sec"] = round(time.time() - t0, 3)  # eager ckpt jobs
            out["knn_noop_sec"] = _noop(knn)
            out["knn_rows"] = knn.count()
            if explain_dir:
                _save_explain(knn, f"{explain_dir}/knn_join_{tag}.txt")

        if "--dedup" in sys.argv:
            sc.setJobDescription("dedup_minhash noop")
            dd = spark.sql(D.queries_sql("spark")["dedup_minhash_signatures"])
            out["dedup_noop_sec"] = _noop(dd)
            if explain_dir:
                _save_explain(dd, f"{explain_dir}/dedup_minhash_{tag}.txt")

        if "--oneshot" in sys.argv:
            from geojson_vt_cpp_spark.operators.tile_one_shot import geojson_to_tile_df

            sc.setJobDescription("one_shot_tile")
            ts = []
            for _ in range(3):
                t0 = time.time()
                geojson_to_tile_df(base_docs, 12, 1171, 1566, wrap=False, clip=True).count()
                ts.append(round(time.time() - t0, 3))
            out["one_shot_secs"] = ts
            if explain_dir:
                _save_explain(
                    geojson_to_tile_df(base_docs, 12, 1171, 1566, wrap=False, clip=True),
                    f"{explain_dir}/one_shot_tile_{tag}.txt",
                )
        try:
            out["loadavg_1m"] = round(os.getloadavg()[0], 1)
        except OSError:
            pass
    finally:
        spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
