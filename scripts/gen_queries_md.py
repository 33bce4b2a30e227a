#!/usr/bin/env python
"""Generate QUERIES.md: the declared-operator inventory (name, family,
oracle status, one-line description from the docstring/module)."""

import sys
from collections import OrderedDict

sys.path.insert(0, "/root/repo")

from glue_parquet_splitter_spark.queries import load_all_modules  # noqa: E402

FAMILIES = OrderedDict([
    ("relational", "Relational core (scans, filters, joins, aggregation, set ops, subqueries)"),
    ("tpch_q", "TPC-H-style headline queries"),
    ("tpch2_q", "TPC-H wave 2 (correlated subqueries, distributions, min-cost matching)"),
    ("tpch3_q", "TPC-H wave 3 (market share, thresholds, multi-EXISTS)"),
    ("functions_q", "Scalar function library (string / regexp / date / json / array / math / hash)"),
    ("window_q", "Window functions"),
    ("events_q", "Event-time windows & Structured Streaming"),
    ("advanced_q", "Advanced joins & statistical aggregates"),
    ("dedup_q", "Deduplication (exact / MinHash+LSH / SimHash / n-gram Jaccard)"),
    ("similarity_q", "Similarity search (cosine, ANN brute-force + LSH, centroids)"),
    ("text_q", "Text analysis (tokens, quality, language-ID, tf-idf, fingerprints)"),
    ("multimodal_q", "Multimodal columns (binary payloads, Arrow-batched decode)"),
    ("pipeline_q", "Split-pipeline parity (reference operators as relational programs)"),
    ("scale_q", "Scale techniques (salting, sampling, generators, iterative)"),
    ("misc_q", "Maps, null-safe joins, rolling fingerprints, pandas UDFs"),
    ("udf_q", "UDF / UDAF / UDTF APIs + IVF search"),
    ("analytics_q", "Analytics compositions (retention, conversion, dedup survivors, normalization)"),
    ("timeseries_q", "Time-series ops (LOCF gap-fill, resampling, gap detection, cumulative)"),
    ("misc2_q", "Whole-row argmax, regexp backrefs, edit distance, event paths"),
    ("misc3_q", "Planted-fixture dedup/near-dup variants, approx-only sketches"),
    ("graph_q", "Graph ops (connected-component dedup clustering, history dedup)"),
    ("quality_q", "Corpus curation (Gopher-style filters, repetition, sampling, packing, PII)"),
    ("ranking_q", "Ranking & LM quality (BM25, unigram log-prob, stream-static enrich)"),
    ("similarity2_q", "ANN wave 2 (INT8-quantized cosine, multi-probe LSH, JL projection)"),
    ("warehouse_q", "Warehouse maintenance (CDC MERGE, SCD2, sessionization, profiling)"),
    ("streaming2_q", "Streaming wave 2 (session windows, windowed top-k)"),
    ("contamination_q", "Benchmark decontamination, mixing, winsorization, interleave"),
    ("scale2_q", "Scale patterns 2 (HLL sketch rollup, state merge, reservoir)"),
    ("functions2_q", "Array set algebra & higher-order map transforms"),
    ("curation2_q", "Curation wave 2 (sliding-window chunking, per-domain caps, decile mixing)"),
    ("curation3_q", "Curation wave 3 (hash sharding, curriculum ordering, repeat upsampling)"),
    ("timeseries2_q", "Time-series wave 2 (closed-form EWMA, z-score volume anomalies)"),
    ("geo_q", "Geospatial (grid-bucketed proximity join, haversine)"),
    ("sketch2_q", "Sketches 2 & SCD2 serving (count-min heavy hitters, current snapshot)"),
    ("api2_q", "Spark 4 API surface (applyInArrow, LATERAL, unpivot/melt)"),
    ("stats_q", "Distribution statistics (KS drift test, MAD outliers, attribution)"),
    ("scale3_q", "Scale patterns 3 (global row index, feature hashing, triangle counting)"),
    ("streaming3_q", "Streaming wave 3 (left-semi interval join, chained window aggregation)"),
    ("api3_q", "Spark 4 SQL surface 2 (recursive CTE, SQL scripting, parameters, NOT IN nulls, GROUP BY ALL, SQL UDFs)"),
    ("functions3_q", "Aggregate library 3 (regression aggs, moments, bit aggs, disc percentiles, mode)"),
    ("functions4_q", "Function library 4 (percentile_cont, any_value, try_* family, str_to_map, from_csv)"),
    ("governance_q", "Data governance (k-anonymity, suppression, contribution clip, weighted median, SNM dedup)"),
    ("curation4_q", "Curation wave 4 (SemDeDup cluster-prune, inter-doc duplicate-gram fraction, blocked entity resolution)"),
    ("curation5_q", "Curation wave 5 (exact-substring span dedup)"),
    ("similarity3_q", "ANN wave 3 (multi-probe IVF, hard-negative mining)"),
    ("curation6_q", "Curation wave 6 (FFD sequence packing, overlap chunking, chunk-dedup survivor map)"),
    ("tokenizer_q", "Tokenizer ops (distributed BPE training, content-defined chunking, temperature mixture sampling)"),
    ("curation7_q", "Curation wave 7 (cross-source mirror detection, streaming ingest dedup, quota apportionment)"),
])


def graded_rounds(repo_dir="/root/repo"):
    """name -> round of the LATEST green driver CORRECTNESS row
    (VERDICT r9 #8: make the grade ledger visible so the staleness
    rotation's effect can be read off QUERIES.md)."""
    import glob
    import json
    import os
    import re

    def rnd(p):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", os.path.basename(p))
        return int(m.group(1)) if m else -1

    green: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(repo_dir,
                                              "CORRECTNESS_r*.json")),
                       key=rnd):
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        for name, row in data.items():
            if isinstance(row, dict) and (
                    row.get("hash_match") is True
                    or (row.get("err") == "no_oracle"
                        and row.get("spark_rows") is not None)):
                green[name] = rnd(path)
    # pure renames inherit their grade lineage (queries/__init__)
    from glue_parquet_splitter_spark.queries import GRADE_ALIASES
    for new_name, old_name in GRADE_ALIASES.items():
        if new_name not in green and old_name in green:
            green[new_name] = green[old_name]
    return green


def main():
    reg = load_all_modules()
    by_mod: dict[str, list] = {}
    for name, spec in reg.items():
        mod = spec.fn.__module__.rsplit(".", 1)[-1]
        by_mod.setdefault(mod, []).append(spec)

    O_MAP = """## Reference operator map (SURVEY.md §2, O1–O20)

| Ref op | Implementation | Verified by |
|---|---|---|
| O1 argument/config scan | `__main__.get_arg` (argv/env) | `tests/test_formats_compact.py::test_cli_entry` |
| O2 catalog listing | `pipeline.incremental.list_files` (Hadoop FS, any scheme) | splitter/golden tests |
| O3/O4 filename→date extraction | `pipeline.incremental.extract_dates`; relationally: `filename_date_extract` | query oracle + unit test |
| O5 set-difference scheduler | `run_incremental` anti-join; relationally: `incremental_missing_days`, `join_anti` | idempotence test + oracles |
| O6 counts | summary dict; `agg_stats` etc. | oracles |
| O7 parquet scan | `catalog.load_table` / `spark.read.parquet` | everywhere |
| O8 missing-source guard | batch-read fallback + warning | unreadable-input path |
| O9 empty-relation guard | `split_day` isEmpty skip; `run_incremental` footer row count | `test_empty_and_missing_column` |
| O10 schema assertion | `splitter.require_columns` | same test |
| O11 group-by partition | `split_files` (catch-up, exact or Hive layout) / `split_day` (DataFrame) | 9/9 golden replay, property tests, Hive `partitionBy` dir-name parity |
| O12 filter-by-key | partition outputs ≡ key filter | golden + property tests |
| O13/O14/O15 parquet sink | snappy parquet via pyarrow (catch-up, both layouts) / Spark writer (`write_partitioned`, streaming) | golden replay |
| O16 parallel writes | Spark task parallelism (no thread pool) | bench: 37k rows/s replay |
| O17 count-distinct | `agg_count_distinct` (+ `agg_approx_distinct` at scale) | oracle |
| O18 JSON marker | `write_marker` field-for-field; `marker_manifest_json` | marker goldens |
| O19 per-day driver | `run_incremental` (batched one-job) | summary + idempotence tests |
| O20 entry point | `__main__.main` CLI | CLI subprocess test |

"""
    graded = graded_rounds()
    out = ["# QUERIES — declared operator inventory",
           "",
           f"{len(reg)} declared queries; "
           f"{sum(1 for s in reg.values() if s.oracle)} with full DuckDB oracles, "
           f"{sum(1 for s in reg.values() if not s.oracle)} rows-only "
           "(sketches / append-mode streams — estimates or intentionally partial output).",
           "",
           "`graded` = round of the latest green driver CORRECTNESS row "
           "(— = not yet driver-graded; the rotation fronts those, then "
           "stalest-graded first).",
           "",
           "Every entry is runnable via `__spark_entry__.queries()[name](spark, sf_dir)`;",
           "checkable via `python scripts/check_queries.py <sf_dir> <name>`.",
           "", O_MAP]
    missing = set(by_mod) - set(FAMILIES)
    if missing:  # a module absent from FAMILIES would silently vanish
        raise SystemExit(f"gen_queries_md: modules not in FAMILIES: {sorted(missing)}")
    for mod, title in FAMILIES.items():
        specs = by_mod.get(mod, [])
        if not specs:
            continue
        out.append(f"## {title}")
        out.append("")
        out.append("| query | oracle | graded | summary |")
        out.append("|---|---|---|---|")
        for s in sorted(specs, key=lambda x: x.name):
            doc = (s.fn.__doc__ or "").strip().split("\n")[0].strip()
            g = graded.get(s.name)
            out.append(f"| `{s.name}` | {'✓' if s.oracle else 'rows-only'} | "
                       f"{'r%d' % g if g else '—'} | {doc} |")
        out.append("")
    with open("/root/repo/QUERIES.md", "w") as f:
        f.write("\n".join(out))
    print(f"wrote QUERIES.md: {len(reg)} queries")


if __name__ == "__main__":
    main()
