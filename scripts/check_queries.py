#!/usr/bin/env python
"""Scoped oracle check: run named queries (or all) through the driver
contract against the DuckDB oracle, hostile-session style.

    python scripts/check_queries.py sf0.001 q311 q315 q316 q317 q320
    python scripts/check_queries.py sf0.01 --all
"""
import sys
import time

sys.path.insert(0, ".")
sys.path.insert(0, "tests")


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "sf0.01"
    if not sf.startswith("sf") and "/" not in sf:
        sys.exit(f"first arg must be an sf name (sf0.001/sf0.01/...) "
                 f"or a path, got {sf!r} — did you forget it?")
    want = sys.argv[2:]
    if not want:
        sys.exit("no query names given (pass names or --all) — "
                 "refusing to print a false-green 'done: 0 checked'")
    sf_dir = sf if "/" in sf else f"/root/testdata/{sf}"

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.session.timeZone", "America/New_York")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e
    from bench import select_queries
    from oracle import compare, duck_connection
    from team_aragon_spark.session import query_scope

    con = duck_connection(sf_dir)
    qs = e.queries()
    sqls = e.oracle_sql()
    names = list(qs) if "--all" in want else select_queries(qs, want)
    n_fail = 0
    for name in names:
        t0 = time.monotonic()
        try:
            with query_scope(spark):
                df = qs[name](spark, sf_dir)
                sql = sqls.get(name)
                if sql:
                    ok, res = compare(df, con, sql)
                else:
                    res, ok = f"rows-only {df.count()}", True
        except Exception as exc:  # noqa: BLE001
            res, ok = f"ERR {type(exc).__name__}: {exc}", False
        n_fail += 0 if ok else 1
        print(f"{name}: {res} [{time.monotonic() - t0:.1f}s]", flush=True)
    print(f"done: {len(names)} checked, {n_fail} failed")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
