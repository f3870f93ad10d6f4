#!/usr/bin/env python3
"""Write expected.json: the result digest of every headline query.

    python3 perfbench/record_expected.py

Generates the star tables, computes each query's digest from its
DuckDB oracle SQL, and checks the engine's result against it.  A query
without oracle SQL (q42) gets the engine's own digest, pinned.  Run it
again only when the generator or the query list changes.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
from run import HEADLINE, STAR_SEED  # noqa: E402


def main() -> int:
    from oracle import duck_connection

    from team_aragon_spark.plans.star_queries import QUERY_REGISTRY, oracle_sql
    from team_aragon_spark.session import get_spark

    spark = get_spark("perfbench-record")
    spark.sparkContext.setLogLevel("ERROR")
    sqls = oracle_sql()
    out, bad = {}, []
    work = os.path.join(ROOT, ".bench_work")
    os.makedirs(work, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=work) as star:
        gen.write_star(star, STAR_SEED)
        con = duck_connection(star)
        for name in HEADLINE:
            got, n = checks.spark_digest(QUERY_REGISTRY[name].fn(spark, star))
            spark.catalog.clearCache()
            sql = sqls.get(name)
            if sql:
                rel = con.execute(sql)
                rows = rel.fetchall()
                want = checks.digest([d[0] for d in rel.description], rows)
                if (want, len(rows)) != (got, n):
                    bad.append(name)
                out[name] = {"digest": want, "rows": len(rows), "source": "duckdb"}
            else:
                out[name] = {"digest": got, "rows": n, "source": "engine"}
            print(name, out[name], file=sys.stderr)
    spark.stop()
    if bad:
        print(f"engine disagrees with the oracle on {bad}; expected.json not written", file=sys.stderr)
        return 1
    with open(checks.EXPECTED_PATH, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
