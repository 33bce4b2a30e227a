"""Seeded input generator for the benchmark.

Inputs are written with pyarrow, never through the engine under test, so
the program only ever sees finished files.  Every table is a pure
function of ``(seed, parameters)``: the same seed gives the same bytes.

Split inputs follow the reference day-file shape
(``<in>/<YYYYMMDD>.parquet`` with ``date``, ``item_id``,
``sales_figures``, ``store_id``).  Query inputs follow the schemas of the
engine's fixture tables (``catalog.TABLES``).

Run standalone to inspect a workload's inputs::

    python3 perfbench/gen.py --workload backlog --seed 1 --out /tmp/in
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SPLIT_COLUMNS = ("date", "item_id", "sales_figures", "store_id")
HOT_KEY = 1


def day_name(day: dt.date) -> str:
    return day.strftime("%Y%m%d")


def split_day(seed: int, day: dt.date, rows: int, keys: int,
              hot_share: float = 0.0) -> pa.Table:
    """One day of split input.  ``hot_share`` of the rows go to key 1,
    the rest are uniform over keys 2..``keys`` (uniform over 1..keys when
    ``hot_share`` is 0)."""
    rng = np.random.default_rng([seed, day.toordinal()])
    if hot_share > 0:
        k = np.where(rng.random(rows) < hot_share, HOT_KEY,
                     rng.integers(2, keys + 1, rows))
    else:
        k = rng.integers(1, keys + 1, rows)
    return pa.table({
        "date": pa.array([day.strftime("%Y/%m/%d")] * rows, pa.string()),
        "item_id": pa.array(np.char.zfill(k.astype(str), 10), pa.string()),
        "sales_figures": pa.array(rng.integers(0, 101, rows), pa.int64()),
        "store_id": pa.array(
            np.char.zfill(rng.integers(1, 51, rows).astype(str), 4),
            pa.string()),
    })


def write_split_days(out_dir: str, seed: int, first: dt.date, days: int,
                     rows: int, keys: int, hot_share: float = 0.0) -> list[str]:
    """Write ``days`` consecutive day files; returns their paths."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i in range(days):
        day = first + dt.timedelta(days=i)
        path = os.path.join(out_dir, f"{day_name(day)}.parquet")
        pq.write_table(split_day(seed, day, rows, keys, hot_share), path)
        paths.append(path)
    return paths


# -- query tables ------------------------------------------------------

_WORDS = ("a agg batch big column customer data dup fast filter group hash "
          "join key line merge order part query row scan slow small sort "
          "spark stream table the value vector window").split()
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("view", "click", "signup", "purchase", "error")
_LANGS = ("en", "en", "en", "es", "zh", "de", "fr")
_PART_WORDS = ("large", "small", "hot", "cold", "ring", "bolt", "nut",
               "gear", "plate", "spring")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _midnights(rng, n, first: str, days: int):
    base = np.datetime64(first, "us")
    return base + rng.integers(0, days, n) * np.timedelta64(86_400_000_000, "us")


def query_tables(seed: int, sf: float, documents: int, embeddings: int,
                 events: int) -> dict[str, pa.Table]:
    """The ten fixture tables at scale ``sf`` (TPC-H-like row counts:
    orders = 1.5M x sf, about four lineitems per order)."""
    rng = np.random.default_rng([seed, 7])
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS, pa.string()),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust), pa.string()),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99)),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([" ".join(p) for p in
                            rng.choice(_PART_WORDS, (n_part, 2))]),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(_PART_TYPES, n_part), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(_money(rng, n_part, 900, 2100)),
    })
    order_date = _midnights(rng, n_ord, "1995-01-01", 2404)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(("F", "O", "P"), n_ord)),
        "o_totalprice": pa.array(_money(rng, n_ord, 1000, 500_000)),
        "o_orderdate": pa.array(order_date, pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord)),
    })
    per_order = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord), per_order)
    n_li = len(l_order)
    line_no = np.arange(n_li) - np.repeat(np.cumsum(per_order) - per_order,
                                          per_order) + 1
    ship = (np.repeat(order_date, per_order)
            + rng.integers(1, 122, n_li) * np.timedelta64(86_400_000_000, "us"))
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(line_no, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * _money(rng, n_li, 900, 2100), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(("A", "N", "R"), n_li)),
        "l_linestatus": pa.array(rng.choice(("F", "O"), n_li)),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })
    ts = (np.datetime64("2024-01-01", "us")
          + np.sort(rng.integers(0, 30 * 86_400_000_000, events))
          .astype("timedelta64[us]"))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(10, events // 66), events),
                            pa.int64()),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, events)),
        "value": pa.array(np.round(rng.exponential(50.0, events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, events)]),
    })
    texts = [" ".join(rng.choice(_WORDS, int(n)))
             for n in rng.integers(10, 101, documents)]
    for i in rng.choice(documents, max(1, documents // 500), replace=False):
        texts[i] = texts[int(rng.integers(0, documents))]  # exact dups
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(documents), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, documents)),
        "source": pa.array([f"src{s}" for s in
                            rng.integers(0, 20, documents)]),
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    vecs = (rng.standard_normal((embeddings, 64)) / 8).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(embeddings), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, embeddings), pa.int32()),
    })
    return t


def write_query_tables(out_dir: str, seed: int, **sizes) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in query_tables(seed, **sizes).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def main() -> None:
    from params import FIRST_DAY, WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    p = WORKLOADS[a.workload]
    if a.workload == "queries":
        write_query_tables(a.out, a.seed, **p["tables"])
    else:
        write_split_days(a.out, a.seed, FIRST_DAY, p["days"],
                         p["rows_per_day"], p["keys"], p["hot_share"])
    print(json.dumps({"workload": a.workload, "seed": a.seed, **p}))


if __name__ == "__main__":
    main()
