#!/usr/bin/env python
"""Capture .explain("formatted") for a list of declared queries, writing
<out>/<query>_<suffix>.txt.

Usage:
    python tools/capture_plans.py --code <repo-to-import> --out plans/rNN \
        --suffix before|after --sf-dir <tables-dir> --queries a,b,c

`--code` lets the same script run against an older checkout (a `git clone`
of the commit before a change) to produce the `_before` plans and against
HEAD for `_after`. Capture at sf0.01: plan SHAPE (exchanges, join
strategy, pushed filters, aggregate expression classes, Python-eval nodes)
is what an optimization claim is about and it does not change with SF.
Streaming declared queries execute eagerly on invocation; their captured
plan is the final batch DataFrame the query returns (the micro-batch sink
plans live in the code and bench numbers).
"""

from __future__ import annotations

import argparse
import os
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--code", required=True, help="repo root to import")
    ap.add_argument("--out", required=True, help="plans directory, e.g. plans/r13")
    ap.add_argument("--suffix", required=True, choices=["before", "after"])
    ap.add_argument("--sf-dir", required=True, help="generated tables directory")
    ap.add_argument("--queries", required=True, help="comma-separated query names")
    args = ap.parse_args()

    sys.path.insert(0, os.path.abspath(args.code))
    from bensp_suite_spark import queries as Q
    from bensp_suite_spark.session import get_spark

    os.makedirs(args.out, exist_ok=True)
    spark = get_spark("capture-plans", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    for name in args.queries.split(","):
        fn = Q.QUERIES.get(name)
        if fn is None:
            print(f"SKIP {name}: not in this checkout's registry")
            continue
        try:
            df = fn(spark, args.sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            ).rstrip()
        except Exception as exc:  # capture must not die on one query
            plan = f"CAPTURE ERROR: {exc!r}"
            print(f"ERROR {name}: {exc!r}")
        path = os.path.join(args.out, f"{name}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan + "\n")
        print(f"wrote {path} ({len(plan.splitlines())} lines)")
    spark.stop()


if __name__ == "__main__":
    main()
