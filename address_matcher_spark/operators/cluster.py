"""Connected components over matched pairs (O6, graft extension).

Large-star / small-star alternation (Kiveris et al., "Connected Components
in MapReduce and Beyond", SoCC 2014): converges in O(log^2 n) rounds on
arbitrary graphs, each round two shuffles (groupBy min + join).  The
reference never needed this (its matches point at an authoritative UPRN,
tools/fuzzy_match.py:222); at web scale the match graph is record↔record
and transitive closure is what produces entity clusters.  The
waterfall's own results keep the reference's shape (one ref per record),
so cluster_records labels them with one window aggregate and never runs
the loop; the dedup operators run it on arbitrary graphs.

Every superstep optionally checkpoints through CheckpointStore (parquet /
Iceberg-snapshot analogue) with row counts per partition — a killed run
resumes from the last committed superstep (tested in
tests/test_cluster.py::test_resume_mid_run).  Lineage is cut per superstep
via the checkpoint (or localCheckpoint when no store), so plans don't grow
with iteration count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from address_matcher_spark.sources.checkpoint import CheckpointStore


def _signature(edges: DataFrame) -> tuple[int, int]:
    """Deterministic edge-set signature for convergence detection: (count,
    sum of per-edge hashes) — one cheap aggregate instead of a set-compare
    join."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        # xor, not sum: edge sets are distinct() so xor is order-independent
        # and cannot overflow under ANSI mode
        F.expr("bit_xor(xxhash64(src, dst))").alias("h"),
    ).collect()[0]
    return (row["n"] or 0, row["h"] or 0)


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u})."""
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = sym.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )
    out = (
        sym.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    return out.filter(F.col("src") != F.col("dst")).distinct()


def _small_star(edges: DataFrame) -> DataFrame:
    """Direct edges large→small; connect every neighbor (and u) to the min."""
    directed = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    mins = directed.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )
    nbr_edges = directed.join(mins, "src").select(
        F.col("dst").alias("src"), F.col("m").alias("dst")
    )
    self_edges = mins.select(F.col("src"), F.col("m").alias("dst"))
    out = nbr_edges.unionByName(self_edges)
    return out.filter(F.col("src") != F.col("dst")).distinct()


def _driver_closure(e: DataFrame) -> DataFrame:
    """Finish a SMALL edge set's transitive closure driver-side:
    vectorized min-label propagation over the collected edges, labels =
    component min — the same (node, cluster_id = min of component)
    contract as the distributed extraction, proven equivalent by
    tests/test_cluster.py::test_driver_finish_matches_distributed.

    Node ids are factorized to a dense [0, n) index space (np.unique is
    sorted, so index order == value order and min-index hooking IS
    min-value hooking), then Shiloach-Vishkin-style rounds: hook the
    larger label to the smaller across every edge (np.minimum.at is
    unbuffered, so duplicate targets are safe), fully compress with
    label = label[label], repeat until every edge's endpoints agree —
    O(m) numpy work × O(log n) rounds, no per-edge Python.  The earlier
    dict-based union-find held ~n boxed ints and a GIL-bound loop — an
    order of magnitude more driver heap and time than these int arrays."""
    import numpy as np
    import pandas as pd

    pdf = e.toPandas()  # Arrow transfer — ~8× a row-based collect here
    nodes, codes = np.unique(
        np.concatenate([pdf["src"].to_numpy(), pdf["dst"].to_numpy()]),
        return_inverse=True,
    )
    m = len(pdf)
    a, b = codes[:m], codes[m:]
    label = np.arange(len(nodes), dtype=np.int64)
    while m:
        la, lb = label[a], label[b]
        lo = np.minimum(la, lb)
        np.minimum.at(label, np.maximum(la, lb), lo)
        while True:
            nxt = label[label]
            if np.array_equal(nxt, label):
                break
            label = nxt
        if np.array_equal(label[a], label[b]):
            break
    spark = e.sparkSession
    node_t = e.schema["src"].dataType.simpleString()
    out = pd.DataFrame({"node": nodes, "cluster_id": nodes[label]})
    return spark.createDataFrame(
        out, schema=f"node {node_t}, cluster_id {node_t}"
    )


# Below this many edges the remaining closure is finished driver-side —
# the same measured-smallness doctrine as the broadcast-join ceiling.
# Honest sizing at the 8M-edge default: ≈128 MB of Arrow transfer plus a
# transient ~600 MB of int64 numpy (codes 2m + label/nodes ≤2m each) —
# comfortable on any driver that can hold a broadcast join, and ~40× less
# heap than the dict-of-boxed-ints union-find this replaced (whose cost
# justified the old 2M ceiling).  Star contraction needs
# O(log² n) further ROUNDS of 5-shuffle supersteps whatever the data
# size; once the (always-shrinking) edge set fits comfortably, one
# collect replaces the whole latency tail.  At 100 TB the early rounds
# stay distributed and do the heavy contraction; the cutover only
# swallows the tail.  The per-superstep signature already collects the
# edge count, so the check costs no extra job.
DRIVER_FINISH_MAX_EDGES = 8_000_000


def connected_components(
    edges: DataFrame,
    store: CheckpointStore | None = None,
    max_iterations: int = 50,
    resume: bool = True,
    driver_finish_max_edges: int = DRIVER_FINISH_MAX_EDGES,
) -> DataFrame:
    """edges(src, dst) → labels(node, cluster_id) with cluster_id = min
    node id in the component (hash-to-min convention).

    With a store, each superstep commits edges + convergence counters; on
    restart the loop resumes from the last committed superstep.  The
    store path never driver-finishes: its contract is a committed
    superstep trail any run can resume from (pass
    driver_finish_max_edges=0 to force pure supersteps without a store).
    """
    spark = edges.sparkSession
    e = (
        edges.filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    start = 0
    if store is not None and resume:
        last = store.latest_superstep("cc_edges")
        if last is not None:
            e = store.read(spark, "cc_edges", last)
            start = last + 1
    if store is None:
        e = e.localCheckpoint()

    sig = _signature(e)
    for step in range(start, start + max_iterations):
        if store is None and sig[0] <= driver_finish_max_edges:
            return _driver_closure(e)
        e2 = _small_star(_large_star(e))
        if store is not None:
            e2 = store.write(
                e2, "cc_edges", superstep=step,
                counters={"prev_count": sig[0], "prev_hash": sig[1]},
            )
        else:
            e2 = e2.localCheckpoint()
        new_sig = _signature(e2)
        e = e2
        if new_sig == sig:
            break
        sig = new_sig

    # after convergence every edge is (node → component-min); roots appear
    # only on the dst side
    labels = e.groupBy("src").agg(F.min("dst").alias("cluster_id")).select(
        F.col("src").alias("node"), "cluster_id"
    )
    roots = (
        e.select(F.col("dst").alias("node"))
        .distinct()
        .join(labels.select("node"), "node", "left_anti")
        .withColumn("cluster_id", F.col("node"))
    )
    return labels.unionByName(roots)


def _node(tag: str, col: str):
    """Node id of a match-graph vertex: xxhash64 of a type-tagged id, so
    search and ref ids live in disjoint namespaces."""
    return F.xxhash64(F.concat(F.lit(tag), F.col(col).cast("string")))


def cluster_records(results: DataFrame) -> DataFrame:
    """Matched results → clusters(record_id, ref_id, cluster_id): every
    full_match search record labeled with its entity cluster.

    Precondition: one row per record_id (select.combine_passes
    guarantees it).  Each matched record then points at exactly one
    ref_id, so the record↔ref match graph is a forest of stars, one per
    ref_id, and each star is a whole component.  Its label is therefore
    one window aggregate per ref_id instead of a connected_components
    run: the min over the star's node hashes ("r:" + ref_id for the
    centre, "s:" + record_id for each leaf — disjoint namespaces), the
    same hash-to-min label connected_components gives that component."""
    star = Window.partitionBy("ref_id")
    return results.filter(F.col("full_match")).select(
        "record_id", "ref_id",
        F.least(_node("r:", "ref_id"), F.min(_node("s:", "record_id")).over(star))
        .alias("cluster_id"),
    )
