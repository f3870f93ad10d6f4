#!/usr/bin/env python
"""Capture .explain("formatted") output for named queries to files.

    python scripts/capture_plans.py plans/r11 before q42 q05 ...
    python scripts/capture_plans.py plans/r11 after --same   # re-use <dir>/*_before.txt names

Writes <outdir>/<qname>_<tag>.txt.  Queries whose builder runs eager
jobs (iterative loops) still work — the captured plan is the plan of
the RETURNED DataFrame (what the noop sink executes), which is what
the bench times.
"""
import os
import sys

sys.path.insert(0, ".")


def main() -> None:
    outdir, tag = sys.argv[1], sys.argv[2]
    want = sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)

    from bench import env_sf_dir, select_queries
    from team_aragon_spark.session import get_spark, query_scope

    sf_dir = env_sf_dir()
    spark = get_spark("plan-capture")
    spark.sparkContext.setLogLevel("ERROR")

    from team_aragon_spark.plans.star_queries import QUERY_REGISTRY

    if "--same" in want:
        want = sorted(
            {
                f.rsplit("_before.txt", 1)[0]
                for f in os.listdir(outdir)
                if f.endswith("_before.txt")
            }
        )
    names = select_queries(QUERY_REGISTRY, want)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for name in names:
        short = name.split("_")[0]
        path = os.path.join(outdir, f"{short}_{tag}.txt")
        try:
            with query_scope(spark):
                df = QUERY_REGISTRY[name].fn(spark, sf_dir)
                txt = df._jdf.queryExecution().explainString(mode)
        except Exception as exc:  # noqa: BLE001
            txt = f"ERROR {type(exc).__name__}: {exc}"
        with open(path, "w") as f:
            f.write(f"# {name} — explain('formatted'), {tag}, {sf_dir}\n")
            f.write(txt)
        print(f"{name} -> {path}", flush=True)


if __name__ == "__main__":
    main()
