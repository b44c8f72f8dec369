"""Pathological hot-cell PIP workload (BENCH.md skew evidence, reproducible).

200 us-states copies stacked on the SAME region (<=0.7 deg deterministic
jitter) x 120k points concentrated there: every point lands in the same few
cells and hits ~40 polygons. Measures the two edge-join placements of
point_in_polygon_join:

  python3 scripts/hot_cell_bench.py shj|bcast_edges [cpus]

- shj: shuffled-hash edge join (``broadcast_edges=False``); the y-strip key
  splits each hot polygon's candidates, AQE handles the rest
- bcast_edges: broadcast edge table (``broadcast_edges=True``), no
  refinement shuffle

Run variants in SEPARATE processes (CLAUDE.md: shared box — never measure
two Spark jobs concurrently).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_COPIES = 200
N_POINTS = 120_000


def build_polys(spark):
    from geojson_vt_cpp_spark.operators.convert import extract_features

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "fixtures", "us-states.json")) as f:
        base = json.load(f)

    def shifted(i):
        dlon = (i % 20) * 0.035  # <= 0.7 deg
        dlat = (i // 20) * 0.035

        def sh(coords):
            if isinstance(coords[0], (int, float)):
                return [coords[0] + dlon, coords[1] + dlat]
            return [sh(c) for c in coords]

        feats = []
        for f_ in base["features"]:
            g = f_["geometry"]
            feats.append(
                {
                    "type": "Feature",
                    "properties": f_.get("properties", {}),
                    "geometry": {"type": g["type"], "coordinates": sh(g["coordinates"])},
                }
            )
        return json.dumps({"type": "FeatureCollection", "features": feats})

    texts = [shifted(i) for i in range(N_COPIES)]
    from geojson_vt_cpp_spark.sources.documents import DOCUMENTS_SCHEMA

    rows = [
        (f"hot-{i:03d}", [("geojson", t, "", 0)])
        for i, t in enumerate(texts)
    ]
    docs = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    return extract_features(docs, (3.0 / 4096.0) / (1 << 14))


def build_points(spark):
    # concentrated on the us-states extent in unit mercator (deterministic
    # integer arithmetic, like __spark_entry__._synth_points squeeze)
    return spark.range(N_POINTS).selectExpr(
        "id as point_id",
        "cast(0.15 as double) + (((id * 2654435761) % 99991) / cast(99991 as double)) * cast(0.2 as double) as px",
        "cast(0.25 as double) + (((id * 2246822519) % 99989) / cast(99989 as double)) * cast(0.2 as double) as py",
    )


def main():
    variant = sys.argv[1] if len(sys.argv) > 1 else "shj"
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus * 2))
        .config("spark.driver.memory", "12g")
        .getOrCreate()
    )
    from geojson_vt_cpp_spark.operators.spatial_join import point_in_polygon_join

    polys = build_polys(spark).localCheckpoint()
    points = build_points(spark).localCheckpoint()
    if variant not in ("shj", "bcast_edges"):
        raise SystemExit(f"unknown variant {variant}")
    t0 = time.perf_counter()
    n = point_in_polygon_join(
        points, polys, broadcast_edges=variant == "bcast_edges"
    ).count()
    dt = time.perf_counter() - t0
    print(json.dumps({"variant": variant, "cpus": cpus, "pairs": n, "sec": round(dt, 1)}))
    spark.stop()


if __name__ == "__main__":
    main()
