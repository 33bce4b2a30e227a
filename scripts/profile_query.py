#!/usr/bin/env python
"""Profile one or more registry queries into the noop sink: one warm
run, then N measured runs, printing the wall-time minimum and the work
Spark's status store recorded for the lowest-CPU run (jobs, stages,
tasks, executor run/CPU/GC seconds, shuffle and spill bytes, task
skew, Python-worker time; the same window bench.py gates on), and
optionally the AQE-final physical plan.

Usage:
  python scripts/profile_query.py name [name ...] [--sf-dir DIR] [--plan] [--n 3]
  (a bare positional containing '/' is also accepted as the sf dir)

This is the audit loop behind the plan claims in docstrings/PLANS.md:
run it after changing a query and check the shuffle bytes and plan
shape moved the way the docstring says they should.
"""

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import measure_query  # noqa: E402
from glue_parquet_splitter_spark.plans import physical_plan  # noqa: E402
from glue_parquet_splitter_spark.queries import load_all_modules  # noqa: E402
from glue_parquet_splitter_spark.session import get_spark  # noqa: E402


def main():
    # argparse, not hand-rolled argv filtering: the old value-equality
    # removal of --n's operand also dropped any positional that
    # happened to equal the repeat count (ADVICE r6)
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("positional", nargs="+",
                    help="query names; a token containing '/' is the sf dir")
    ap.add_argument("--sf-dir", default=None)
    ap.add_argument("--plan", action="store_true")
    ap.add_argument("--n", type=int, default=3)
    opts = ap.parse_intermixed_args()  # allows "name --n 1 sf_dir" order
    show_plan, n_runs = opts.plan, opts.n
    dirs = [a for a in opts.positional if "/" in a]
    names = [a for a in opts.positional if "/" not in a]
    sf_dir = opts.sf_dir or (dirs[0] if dirs else "/root/testdata/sf0.1")
    if not names:
        ap.error("give at least one query name")

    reg = load_all_modules()
    spark = get_spark("profile_query")
    for name in names:
        spec = reg[name]
        work = measure_query(spark, spec.fn, sf_dir, reps=n_runs)
        print(f"== {name}  {work['wall_s']:.3f}s (min of {n_runs}) @ {sf_dir}")
        for k, v in work.items():
            print(f"   {k:>24}: {v:,}")
        if show_plan:
            print(physical_plan(spec.fn(spark, sf_dir)))


if __name__ == "__main__":
    main()
