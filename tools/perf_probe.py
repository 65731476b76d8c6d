#!/usr/bin/env python
"""Per-query timing over bench.py's harness, with the noop sink (every
column of every row is computed, nothing is collected to the driver).

Warms the session as bench.py does, then prints one JSON line per query
(best of --runs) and a final total line with the slowest queries. Query
errors go to stderr and are counted in the total line. The fixture dir
is $SPARK_GRAFT_SF_DIR, as for bench.py.

Usage: python tools/perf_probe.py [--queries a,b,...|all] [--runs 3]
       [--plans DIR]

--queries defaults to bench.HEADLINE; `all` is the whole registry.
--plans writes each query's .explain("formatted") to DIR/<name>.txt.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default=",".join(bench.HEADLINE))
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plans", metavar="DIR")
    args = ap.parse_args()

    from gpdb_spark.catalog import DEFAULT_SF_DIR as sf_dir
    from gpdb_spark.session import get_spark

    qs = bench.queries()
    names = sorted(qs) if args.queries == "all" else args.queries.split(",")
    spark = get_spark(app_name="gpdb_spark_perf_probe")
    spark.sparkContext.setLogLevel("ERROR")
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
    bench.warm(spark, names, sf_dir)

    times: dict[str, float] = {}
    errors = 0
    for name in names:
        try:
            fn = qs[name]
            if args.plans:
                buf = io.StringIO()
                with redirect_stdout(buf):
                    fn(spark, sf_dir).explain("formatted")
                with open(os.path.join(args.plans, f"{name}.txt"), "w") as fh:
                    fh.write(buf.getvalue())
            times[name] = round(
                bench.best_of(spark, fn, sf_dir, args.runs, "noop"), 3
            )
        except Exception as exc:  # a sweep reports every query
            errors += 1
            print(f"ERROR {name}: {type(exc).__name__}: {exc}".splitlines()[0],
                  file=sys.stderr, flush=True)
            continue
        print(json.dumps({"query": name, "best": times[name]}), flush=True)

    slowest = sorted(times.items(), key=lambda kv: -kv[1])[:10]
    print(json.dumps({"metric": "perf_probe_total_best",
                      "value": round(sum(times.values()), 3),
                      "n": len(times), "errors": errors,
                      "slowest": slowest, "sf_dir": sf_dir}))


if __name__ == "__main__":
    main()
