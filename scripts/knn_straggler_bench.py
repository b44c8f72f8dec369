"""kNN straggler micro-bench (BENCH.md evidence, reproducible).

Workload engineered so phase-1 certification fails for a slice of queries:
sites cluster in a corner patch, 1% of queries land far away (zero
candidates at ring 1 — the realistic straggler fraction; certification is
density-sized so stragglers are rare by design). Times knn_join, whose
stragglers resolve by ring doubling:

  python3 scripts/knn_straggler_bench.py [cpus]

Never measure two Spark jobs concurrently on a shared box (CLAUDE.md).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_SITES = 100_000
N_QUERIES = 20_000


def main() -> None:
    cpus = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    from pyspark.sql import SparkSession

    from geojson_vt_cpp_spark.operators.spatial_join import knn_join

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus * 4))
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # sites in the [0, 0.25]^2 corner; 90% of queries there too, 10% spread
    # over the far corner so their ring-1 neighborhoods are empty
    sites = spark.range(N_SITES).selectExpr(
        "concat('s', id) as site_id",
        "(((id * 2654435761) % 99991) / cast(99991 as double)) * 0.25 as sx",
        "(((id * 2246822519) % 99989) / cast(99989 as double)) * 0.25 as sy",
    )
    queries = spark.range(N_QUERIES).selectExpr(
        "concat('q', id) as query_id",
        "case when id % 100 = 99 "
        " then 0.7 + (((id * 2654435761) % 99991) / cast(99991 as double)) * 0.25 "
        " else (((id * 2654435761) % 99991) / cast(99991 as double)) * 0.25 end as qx",
        "case when id % 100 = 99 "
        " then 0.7 + (((id * 2246822519) % 99989) / cast(99989 as double)) * 0.25 "
        " else (((id * 2246822519) % 99989) / cast(99989 as double)) * 0.25 end as qy",
    )
    sites = sites.localCheckpoint()
    queries = queries.localCheckpoint()

    # warm-up (JIT/codegen) on a slice, untimed
    knn_join(queries.limit(2000), sites.limit(20000), k=3, res=7, ring=1).count()

    t0 = time.time()
    n = knn_join(queries, sites, k=3, res=7, ring=1).count()
    dt = time.time() - t0
    print(json.dumps({
        "bench": "knn_straggler", "cpus": cpus,
        "n_sites": N_SITES, "n_queries": N_QUERIES,
        "rows": n, "sec": round(dt, 2),
        "loadavg": round(os.getloadavg()[0], 1),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
