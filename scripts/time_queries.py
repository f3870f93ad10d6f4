#!/usr/bin/env python
"""Time named queries with bench.py's harness: a warmed session, then
each query ``--runs`` times to the noop sink (cold = first pass,
steady = min).  The ad-hoc, A/B and scaled lane.

    python scripts/time_queries.py q256 q203 --runs 3
    SPARK_GRAFT_SF_DIR=.scaled/sf10 python scripts/time_queries.py --out BENCH_100X_c4.json

A name selects the query equal to it or named ``<name>_...`` (``q24``
is ``q24_minhash_neardup_pairs`` only); no names means bench.py's
HEADLINE.  The data directory is ``$SPARK_GRAFT_SF_DIR``, with
bench.py's default.  Per-query lines go to stderr; the last stdout
line is one compact JSON line, which ``--out`` also writes to a file.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from team_aragon_spark.plans.star_queries import QUERY_REGISTRY
from team_aragon_spark.session import default_parallelism


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    """Parse and check argv; no session is started here, so a bad
    command line fails fast with a usage message."""
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("names", nargs="*", help="query names (default: bench.HEADLINE)")
    p.add_argument("--runs", type=int, default=2, help="passes per query (default 2)")
    p.add_argument("--out", help="also write the compact JSON line to this file")
    args = p.parse_intermixed_args(argv)
    if args.runs < 1:
        p.error("--runs must be at least 1")
    for w in args.names:
        if not bench.select_queries(QUERY_REGISTRY, [w]):
            p.error(f"no registered query matches {w!r}")
    args.names = bench.select_queries(QUERY_REGISTRY, args.names or bench.HEADLINE)
    return args


def main(argv: list[str] | None = None) -> None:
    args = parse_args(argv)
    sf_dir = bench.env_sf_dir()
    spark = bench.warm_session("time-queries")
    cold: dict[str, float] = {}
    steady: dict[str, float] = {}
    for t in bench.time_queries(spark, args.names, sf_dir, args.runs):
        cold[t.name], steady[t.name] = t.cold, t.steady
        print(f"  {t.name}: cold {t.cold}s steady {t.steady}s", file=sys.stderr, flush=True)
    line = json.dumps(
        {
            "metric": "queries_total_wall_steady",
            "value": round(sum(steady.values()), 3),
            "unit": "sec",
            "queries": steady,
            "cold_total": round(sum(cold.values()), 3),
            "runs": args.runs,
            "sf_dir": sf_dir,
            "cpus": default_parallelism(),
        }
    )
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")
    print(line)


if __name__ == "__main__":
    main()
