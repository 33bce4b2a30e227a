#!/usr/bin/env python
"""Scaling probe (VERDICT r15 #7): time a fixed set of shuffle/agg-
heavy bench entries at the CURRENT core count on a LARGER-than-sf0.1
dataset, so 8-vs-32-core ratios carry a parallelism signal (at sf0.1
every entry is scheduling-overhead-bound and all ratios sit at ~1).

Same methodology as bench.py (noop sink, one warm rep, then min-of-2
timed reps, each read from its own status-store window), same env
contract ($SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS), one JSON line on
stdout with each query's wall, executor-CPU seconds and task count.
Run once per core count:

    python scripts/gen_scale_data.py /tmp/scale/sf1 10
    SPARK_GRAFT_SF_DIR=/tmp/scale/sf1 SPARK_GRAFT_CPUS=32 \
        python scripts/bench_scale.py
    SPARK_GRAFT_SF_DIR=/tmp/scale/sf1 SPARK_GRAFT_CPUS=8 \
        python scripts/bench_scale.py

This deliberately does NOT touch BENCH_METRICS.json (bench.py's gate
baseline): it is a separate probe, not the canonical bench.
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import measure_query  # noqa: E402
from glue_parquet_splitter_spark.queries import load_all_modules  # noqa: E402
from glue_parquet_splitter_spark.session import get_spark  # noqa: E402

# Linear-ish entries only: fixed-bucket self-joins (knn_graph_lsh) and
# fixed-k cluster prunes go quadratic under pure corpus replication
# and would read as scaling failures of the HARNESS, not the engine.
SCALE_QUERIES = [
    "q5_region_revenue",
    "q9_product_profit",
    "q1_pricing_summary",
    "pk_uniqueness_audit",
    "exact_substring_spans",
    "interdoc_dup_gram_fraction",
    "minhash_lsh_candidates",
    "tfidf_top_terms",
    "unigram_lm_train",
    "curation_funnel_v3",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/tmp/scale/sf1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    reg = load_all_modules()
    spark = get_spark("bench_scale")
    spark.range(1000).count()
    work = {}
    for name in SCALE_QUERIES:
        spark.sparkContext.setJobDescription(f"scale probe: {name}")
        work[name] = measure_query(spark, reg[name].fn, sf_dir, reps=2)
    print(json.dumps({
        "metric": "scale_probe_sec",
        "value": round(sum(r["wall_s"] for r in work.values()), 3),
        "unit": "sec",
        "cpus": cpus,
        "sf_dir": sf_dir,
        "queries": {n: r["wall_s"] for n, r in work.items()},
        "executor_cpu_s": {n: r["executor_cpu_s"] for n, r in work.items()},
        "tasks": {n: r["tasks"] for n, r in work.items()},
    }, separators=(",", ":")))


if __name__ == "__main__":
    main()
