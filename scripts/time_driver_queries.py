"""Time every __spark_entry__.queries() entry like the driver would.

Runs each query (Spark collect) plus its DuckDB oracle at sf0.01, in
insertion order, printing per-query seconds and a cumulative total — the
feedback loop for keeping all 64 rows inside the driver's global budget
(round 4 truncated at 50).

Usage: python3 scripts/time_driver_queries.py [--only name1,name2] [--cpus N]
"""
import argparse
import json
import sys
import time

sys.path.insert(0, "/root/repo")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", default=None)
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as E

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .config("spark.sql.shuffle.partitions", str(args.cpus * 2))
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )

    con = duckdb.connect()
    tables = (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split()
    for t in tables:
        con.execute(
            f"create view {t} as select * from read_parquet('{args.sf_dir}/{t}.parquet')"
        )

    qs = E.queries()
    oracles = E.oracle_sql()
    only = set(args.only.split(",")) if args.only else None

    t_session = time.time()
    rows_out = []
    total = 0.0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        err = None
        n_spark = n_oracle = -1
        try:
            df = fn(spark, args.sf_dir)
            n_spark = len(df.collect())
            t_spark = time.time() - t0
            t1 = time.time()
            if name in oracles:
                n_oracle = len(con.execute(oracles[name]).fetchall())
            t_oracle = time.time() - t1
        except Exception as exc:  # noqa: BLE001
            err = f"{type(exc).__name__}: {exc}"[:200]
            t_spark = time.time() - t0
            t_oracle = 0.0
        dt = time.time() - t0
        total += dt
        rows_out.append(
            {
                "name": name,
                "sec": round(dt, 2),
                "spark_sec": round(t_spark, 2),
                "oracle_sec": round(t_oracle, 2),
                "rows": n_spark,
                "oracle_rows": n_oracle,
                "cum": round(total, 1),
                "err": err,
            }
        )
        print(json.dumps(rows_out[-1]), flush=True)
    print(
        json.dumps(
            {
                "total_sec": round(total, 1),
                "wall_sec": round(time.time() - t_session, 1),
                "n": len(rows_out),
                "cpus": args.cpus,
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
