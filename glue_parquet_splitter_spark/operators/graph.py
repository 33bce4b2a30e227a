"""Distributed graph primitives — connected components for dedup
clustering.

A fuzzy-dedup pipeline produces duplicate PAIRS (MinHash/LSH verify,
``operators/dedup.py``); to keep exactly one document per duplicate
group you need the transitive closure of those pairs — connected
components — so ``keep = min(doc_id) per component`` is well-defined
even when A~B and B~C but A!~C.  The reference engine has no graph
step (its dedup surface ends at pair emission); this is part of the
north-star LLM-pipeline extension.

Algorithm: iterative min-label propagation.  Every vertex starts as
its own component; each round every vertex takes the min of its own
label and its neighbors' labels; stop when a round changes nothing.
Each round is one hash-partitioned join + groupBy on the vertex id —
the same shuffle primitive as any large join, so it scales to
billion-edge graphs.  Rounds needed = cluster diameter, and
near-duplicate clusters are tight (a dup of a dup of X is nearly
always also a direct LSH-pair of X), so 3-5 rounds is typical; the
O(log n)-round large-star/small-star alternation (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) only pays
off on long-chain graphs that dedup workloads don't produce.

``stage_table(must_cut=True)`` truncates lineage each round so the
plan stays constant-size; the one ``count()`` per round is driver-side
loop control, the same pattern as Spark MLlib's iterative algorithms
(it reads a 1-row convergence signal, not data).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..staging import stage_table


def connected_components(edges: DataFrame, src: str = "src", dst: str = "dst",
                         max_iter: int = 25) -> DataFrame:
    """(vertex, component) for every vertex in ``edges``; component is
    the smallest vertex id reachable through undirected edges."""
    e = edges.select(F.col(src).cast("long").alias("u"),
                     F.col(dst).cast("long").alias("v"))
    und = (
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
    )
    # reused every round; cut provenance once (must_cut: the loop's
    # plan grows without bound if left uncut)
    und = stage_table(und, label="cc_edges", eager=True, must_cut=True)
    comp = und.select("u").distinct().withColumn("comp", F.col("u"))
    changed = 1
    for _ in range(max_iter):
        nb_min = (
            und.join(comp.withColumnRenamed("u", "v"), "v")
            .groupBy("u").agg(F.min("comp").alias("nb"))
        )
        new = (
            comp.join(nb_min, "u", "left")
            .select("u", F.least("comp", F.coalesce("nb", "comp")).alias("comp"))
        )
        new = stage_table(new, label="cc_round", eager=True, must_cut=True)
        changed = (
            new.withColumnRenamed("comp", "new_comp")
            .join(comp, "u")
            .filter(F.col("new_comp") != F.col("comp"))
            .limit(1).count()
        )
        comp = new
        if changed == 0:
            break
    if changed != 0:
        # labels were still moving on the last round: returning them
        # would silently split long chains into multiple components
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(graph diameter exceeds max_iter); raise max_iter — "
            "min-label propagation needs ~diameter rounds"
        )
    return comp.select(F.col("u").alias("vertex"), F.col("comp").alias("component"))
